"""PySpark-native analytics engine with the query surface of Apache Flink 1.6.0.

This package re-expresses the capabilities of the reference
(clay4444/flink-1.6.0 — DataSet / DataStream / Table-SQL APIs) on top of the
PySpark DataFrame / SQL / Structured Streaming stack. It is NOT a port of the
reference's runtime: Catalyst + Tungsten replace the Flink optimizer,
MemorySegment sorters, and hash tables wholesale (see SURVEY.md §4.3).

Layout:
- ``session``    — TableEnvironment: tuned SparkSession factory (AQE, UTC, Arrow)
- ``catalog``    — table registration over the TESTDATA parquet star schema
- ``registry``   — query registry feeding __spark_entry__, tests, and bench.py
- ``functions``  — Flink-semantics scalar/aggregate shims (SURVEY.md §2.9)
- ``operators``  — batch relational operators (joins/windows/over/setops/sort)
- ``plans``      — SQL front-end shim (TUMBLE/HOP/SESSION) + time attributes
- ``sources``    — batch & streaming sources/sinks (SURVEY.md §2.1)
- ``streaming``  — streaming-specific operators (SURVEY.md §2.5, §2.11, §2.12)
- ``pipeline``   — large-scale training-data ops (dedup, ANN, text, multimodal)
- ``zipcache``   — Python workers re-read a zip archive only when it changed
"""

from flink_1_6_0_spark import zipcache
from flink_1_6_0_spark.session import TableEnvironment, get_spark

zipcache.install()

__all__ = ["TableEnvironment", "get_spark"]

__version__ = "0.1.0"
