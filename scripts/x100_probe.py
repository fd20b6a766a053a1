"""x100 probe of the decade-sensitive divergence classes (r14 verdict task 4).

r12→r14's repeated lesson: each data decade exposes a new tie/cap/float
class (the x10 gate found six). A FULL x100 oracle gate is cost-prohibitive
(the DuckDB side alone), so this probe synthesizes a x100 SLICE — 60M-row
lineitem and 10M-row events only; every other table rides along at sf0.1
size — and gates just the families each earlier decade proved sensitive:

- money unit-sums at 100x group sizes: tpch_q1, agg_distinct (the r14
  verdict flagged agg_distinct as value-bounded, to re-verify), and
  join_theta_residual (the r14 x10 fold-order find, now basis-point sums);
- min_by/max_by ties under 100x-duplicated ordering values: agg_min_max_by;
- session islands under 100x-duplicated timestamps: window_session;
- the rowtime kernel family's scramble hashes and per-key replays at 10M
  events: stream_rowtime_sort_kernel, stream_window_lateness_kernel,
  stream_session_window_kernel.

Usage: python scripts/x100_probe.py        (synthesize-or-reuse, then gate)
Result lands on stdout (oracle_check output) — record the outcome in
BENCH_PROBES.json via scripts/record_probe.py.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PROBE_QUERIES = (
    "tpch_q1",
    "agg_distinct",
    "join_theta_residual",
    "agg_min_max_by",
    "window_session",
    "stream_rowtime_sort_kernel",
    "stream_window_lateness_kernel",
    "stream_session_window_kernel",
)


def x100_slice_dir(spark, base: str = "/root/testdata/sf0.1") -> str:
    """Materialize (once per source content) the x100 slice: lineitem and
    events replicated 100x with shifted keys (same growth model as
    scale_synth.synthesize — dimensions reused, which is also why only
    fact-sensitive families are probed here); events time-ordered like the
    x10 tier so the kernel queries see the same layout contract."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.partitioned import _lake_root, _publish
    from flink_1_6_0_spark.sources.scale_synth import (
        _all_tables_key,
        _stamp_time_ordered,
        _time_ordered_parts,
    )

    key = _all_tables_key(base)
    dest = os.path.join(_lake_root(), key, "x100_slice_v1")
    if os.path.isfile(os.path.join(dest, "_SUCCESS")):
        return dest
    tmp = f"{dest}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "documents", "embeddings",
    ):
        shutil.copy(f"{base}/{t}.parquet", f"{tmp}/{t}.parquet")

    def times100(df, shift_col):
        B = 1_000_000_000
        # one narrow generator join instead of a 100-branch union: cross the
        # source with a 100-row copy index and shift keys arithmetically —
        # same rows as scale_synth.times(), linear plan size
        cp = df.sparkSession.range(100).withColumnRenamed("id", "__copy")
        return (
            df.crossJoin(F.broadcast(cp))
            .withColumn(shift_col, F.col(shift_col) + F.col("__copy") * B)
            .drop("__copy")
        )

    li = spark.read.parquet(f"{base}/lineitem.parquet")
    times100(li, "l_orderkey").write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    ev = spark.read.parquet(f"{base}/events.parquet")
    evp = f"{tmp}/events.parquet"
    (
        times100(ev, "event_id")
        # budget-sized part count (r15 ADVICE; see scale_synth._time_ordered_parts)
        .repartitionByRange(_time_ordered_parts(ev.count() * 100), "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(evp)
    )
    _stamp_time_ordered(evp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _publish(tmp, dest)
    return dest


def main() -> int:
    from flink_1_6_0_spark.session import get_spark

    spark = get_spark(app_name="x100-probe")
    t0 = time.perf_counter()
    d = x100_slice_dir(spark)
    print(f"x100 slice at {d} ({time.perf_counter() - t0:.0f}s)", flush=True)
    rc = subprocess.call(
        [
            sys.executable,
            os.path.join(ROOT, "scripts", "oracle_check.py"),
            d,
            "--names",
            ",".join(PROBE_QUERIES),
        ],
        cwd=ROOT,
    )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
