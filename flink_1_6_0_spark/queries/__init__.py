"""Registered queries — the declared, oracle-checked surface of the engine.

Conventions (driver contract, see __spark_entry__.py):
- each query fn is ``(spark, sf_dir) -> DataFrame``;
- every computed column is aliased IDENTICALLY in the Spark code and in the
  DuckDB oracle SQL;
- floating-point aggregates are rounded on BOTH sides (Spark's partial-agg
  summation order differs from DuckDB's single-node order; rounding makes the
  value hash stable);
- result sets that use LIMIT carry a full deterministic ORDER BY (unique
  tiebreaker) so both engines select the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_1_6_0_spark.catalog import read_table
from flink_1_6_0_spark.session import _default_parallelism


# Runtime-settable confs the engine's correctness contract depends on. The
# driver runs queries on a BARE SparkSession (no session.py bootstrap), so
# every registered query hardens its own session on first table load:
# - nanosAsLong: events.parquet is TIMESTAMP(NANOS); without it the scan dies
#   with PARQUET_TYPE_ILLEGAL (round-1 driver ERR on join_windowed_stream).
# - UTC session timezone: pins timestamp rendering/extraction to the parquet
#   storage values, matching the DuckDB oracle (temporal sweeps, windows).
# - AQE: runtime re-planning/skew handling — the 100 TB posture, and assumed
#   by the skew-join and bucketed-dedup plans.
_SESSION_HARDENING = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # a bare session defaults to 200 shuffle partitions — wasteful overhead at
    # test SFs and on the driver's single-JVM; AQE coalesces upward-sized
    # plans anyway, and session.py's own value (cores) still wins when set
    # first because harden_session never overrides an explicit non-default
}

_SHUFFLE_DEFAULT = "200"  # Spark's built-in default — only then do we resize

_HARDENED: set[int] = set()


def harden_session(spark: SparkSession) -> None:
    """Apply the runtime-settable correctness confs once per session."""
    key = id(spark)
    if key in _HARDENED:
        return
    for k, v in _SESSION_HARDENING.items():
        spark.conf.set(k, v)
    if spark.conf.get("spark.sql.shuffle.partitions", _SHUFFLE_DEFAULT) == _SHUFFLE_DEFAULT:
        spark.conf.set("spark.sql.shuffle.partitions", str(_default_parallelism()))
    _HARDENED.add(key)


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from a scale-factor dir as a lazy parquet
    scan: the schema comes from the input-metadata memo
    (``sources.batch.read_parquet``), so once a table has been seen a call
    launches no Spark job.

    Nanosecond-timestamp columns are normalized to microsecond timestamps —
    matching DuckDB's ns→µs truncation (see ``catalog.read_table``).
    Defensively hardens the session (see ``_SESSION_HARDENING``) because the
    driver's session has none of session.py's confs.
    """
    harden_session(spark)
    return read_table(spark, sf_dir, name)


# Deterministic embedding cap for the two declared-O(n²) algorithms
# (r14 verdict task 6): at every oracle-gated tier so far (n <= EMB_CAP) the
# gate is a no-op — results and hash evidence are bit-identical to the
# uncapped form — but above it the md5 gate keeps an ~EMB_CAP-row
# deterministic slice, so even the quadratic tier carries at-scale evidence
# instead of a declared skip. The md5 gate is a pure function of vec_id:
# both engines keep the identical subset on any partitioning.
EMB_CAP = 2000  # the sf0.1 embeddings count — the proven-tractable n²

def emb_capped(emb: DataFrame, salt: str, n: int | None = None) -> DataFrame:
    """Spark side of the cap: keep rows whose portable md5 gate lands under
    rate = min(1000, 1000*EMB_CAP // n) permille; exact no-op when the
    table already fits (rate == 1000 keeps every row AND skips the filter,
    so plans at gated tiers are untouched). ``n`` lets callers that already
    know the table count (``catalog.table_rows``) skip the eager
    count job."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.operators.utils import deterministic_sample

    n = max(1, emb.count() if n is None else n)
    rate = min(1000, 1000 * EMB_CAP // n)
    if rate >= 1000:
        return emb
    return deterministic_sample(emb, F.col("vec_id"), rate, salt=salt)


def emb_cap_pred_sql(salt: str) -> str:
    """DuckDB predicate mirroring :func:`emb_capped` — same md5 gate, same
    integer rate arithmetic, computed in-SQL so one static oracle string is
    correct at every tier."""
    return (
        f"('0x' || substr(md5(vec_id::VARCHAR || '{salt}'), 1, 15))::BIGINT % 1000 "
        f"< (SELECT least(1000, (1000 * {EMB_CAP}) // greatest(count(*), 1)) FROM embeddings)"
    )
