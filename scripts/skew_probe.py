"""Skewed-key scale probe for the kernel-replay query family (r12 verdict
task 4): the applyInPandas per-key replays' 100 TB bound is the WIDEST key,
so measure exactly that — a 64× events table where ONE user holds ~10% of
all rows — instead of asserting it.

Three measurements per query:
  t1       — sf0.1 (1×, uniform)
  t_uni    — 64× uniform (scale_synth: same users, 64× the events)
  t_skew   — 64× with user 0 remapped onto every event_id % 10 == 0 row
             (~10% of 6.4M rows = one ~640k-row replay group)

t_skew / t_uni isolates the skew penalty from the data-volume ratio: the
per-key kernels are O(rows-per-key) per group (dict/accumulator updates),
so the skewed group costs ~640k sequential kernel steps in one task while
the other 31 cores chew the uniform remainder — the probe records whether
that one task dominates the wall.

The two-input JOIN kernel queries are deliberately NOT in the skew block:
a hot key's non-window/interval join OUTPUT is itself quadratic in the
key's rows (semantics, not plan — the reference's CoProcessFunction scans
the whole other-side state per element the same way), so a 640k-row key
measures output size, not the replay harness. They get the uniform-8×
block instead (the r12s2 treatment of the one-input family); the hot-key
mitigation for them is the same as the reference's: key design, or the
Spark-native stream-stream join path for equi-dominant workloads.

Every directory is timed through ``bench.time_queries``: per directory a
warm-up pass, then 2 round-robin rounds with one sentinel stamp each, under
bench's deadline from process start. A failed query reads -1.0 and gets no
ratio.

Usage: python scripts/skew_probe.py [n] [skew_mod]
Appends a block to SCALEPROBE.json (runs[]) and prints it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

import bench
from flink_1_6_0_spark.session import get_spark
from flink_1_6_0_spark.sources.scale_synth import synthesize

BASE = "/root/testdata/sf0.1"
SKEW_QUERIES = ["stream_group_agg_retention", "stream_over_proctime_rows", "stream_proctime_sort"]
JOIN_QUERIES = ["stream_timebounded_join_kernel", "stream_nonwindow_join_retention"]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    skew_mod = int(sys.argv[2]) if len(sys.argv) > 2 else 10  # 1/10th of rows -> user 0
    spark = get_spark(app_name="skew-probe")

    uni = f"/tmp/spark_graft_skew_uni{n}"
    synthesize(spark, BASE, n, uni)

    skew = f"/tmp/spark_graft_skew_skew{n}"
    os.makedirs(skew, exist_ok=True)
    if not os.path.isdir(f"{skew}/events.parquet"):
        ev = spark.read.parquet(f"{uni}/events.parquet")
        (
            ev.withColumn(
                "user_id",
                F.when(F.col("event_id") % skew_mod == 0, F.lit(0)).otherwise(
                    F.col("user_id") + 1000
                ),
            ).write.mode("overwrite").parquet(f"{skew}/events.parquet")
        )

    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None

    join_n = 8
    juni = f"/tmp/spark_graft_skew_uni{join_n}"
    synthesize(spark, BASE, join_n, juni)

    def timed(d, names):
        return bench.time_queries(spark, d, names, 2)["queries"]

    t1 = timed(BASE, SKEW_QUERIES + JOIN_QUERIES)
    t_uni = timed(uni, SKEW_QUERIES)
    t_skew = timed(skew, SKEW_QUERIES)
    t_join = timed(juni, JOIN_QUERIES)
    results = {}
    for name in SKEW_QUERIES:
        a, b, c = t1.get(name), t_uni.get(name), t_skew.get(name)
        results[name] = {
            "t1": a,
            "t_uniform": b,
            "t_skew": c,
            "uniform_ratio": bench.ratio(a, b),
            "skew_vs_uniform": bench.ratio(b, c),
        }
        print(f"{name}: 1x={a}s {n}x_uni={b}s {n}x_skew={c}s", file=sys.stderr)
    join_results = {}
    for name in JOIN_QUERIES:
        a, b = t1.get(name), t_join.get(name)
        join_results[name] = {"t1": a, "tn": b, "ratio": bench.ratio(a, b)}
        print(f"{name}: 1x={a}s {join_n}x={b}s ratio={join_results[name]['ratio']}", file=sys.stderr)

    block = {
        "recorded_utc": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
        "n": n,
        "skew": f"event_id % {skew_mod} == 0 -> user 0 (~{100 // skew_mod}% of rows on one key)",
        "loadavg": load,
        "queries": results,
        "join_kernels_uniform_8x": join_results,
        "note": (
            "64x skewed-key closure of the r12s2 8x block: per-key replay cost is "
            "linear in rows-per-key, so the skew penalty (t_skew/t_uniform) bounds "
            "the wall by the widest key's sequential replay — the reference's own "
            "bound for a keyed process function. No mitigation for a single key "
            "that must exceed this is implemented (chunked replay, carrying the "
            "kernel state between ts-ordered chunks of one key, is not built). "
            "Join kernels probed at uniform 8x only: a hot "
            "key's join OUTPUT is quadratic by semantics (each element scans the "
            "other side's live state, as in the reference CoProcessFunction)."
        ),
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALEPROBE.json")
    doc = json.load(open(path))
    doc["runs"].append(block)
    # atomic replace: a crash mid-dump must not truncate the run history
    tmp = path + ".tmp"
    json.dump(doc, open(tmp, "w"), indent=1)
    os.replace(tmp, path)
    print(json.dumps(block))


if __name__ == "__main__":
    main()
