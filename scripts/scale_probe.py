"""Scaling probe: synthesize an N× dataset from sf0.1 and measure how the
headline plans ACTUALLY scale — the local stand-in for "would this survive
100×?" (the bench measures absolute speed at one SF; this measures the
exponent).

For each probed query, reports t(N×)/t(1×) next to the ideal-linear N.
A ratio well above N means a superlinear plan (pair blow-up, broadcast
spill, single-task funnel) — the thing to fix BEFORE a real scale-up.

Synthesis (keys shifted so ids stay unique; facts replicated, dims reused —
the realistic growth shape where dimension cardinality lags fact growth):
  events      ×N: event_id shifted, same users (more events per user)
  documents   ×N: doc_id shifted, per-copy vowel rotation keeps texts
                  DISTINCT (otherwise dedup output grows as C(N,2) per
                  group — correct for dedup semantics, wrong for a scaling
                  exponent probe)
  embeddings  ×N: vec_id shifted, vectors reused
  lineitem/orders ×N: orderkeys shifted, same customers/suppliers/parts
  region/nation/customer/supplier/part: copied as-is

Both directories are timed through ``bench.time_queries``: per directory a
warm-up pass, then 3 round-robin rounds with one sentinel stamp each, under
bench's deadline from process start. A failed query reads -1.0 and gets no
ratio.

Usage: python scripts/scale_probe.py [N] [out_dir] [probe_csv]
       (default N=8, out_dir=/tmp/spark_graft_scale, probe_csv=all; at high
       N skip the LSH probe — all N copies of a doc are TRUE mutual
       near-dups, so its pair output grows as C(N,2) per group by
       semantics, not by plan defect)
Prints one JSON line: {"n": N, "queries": {name: {"t1": s, "tn": s,
"ratio": r}}, ...}
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from flink_1_6_0_spark.session import get_spark
from flink_1_6_0_spark.sources.scale_synth import synthesize

BASE = "/root/testdata/sf0.1"
# scan/agg/join/window/dedup/ann representatives — one per plan family
PROBES = [
    "tpch_q1",            # scan + partial agg
    "tpch_q3",            # broadcast joins + top-k
    "tpch_q21",           # heaviest multi-join
    "window_tumble",      # event-time window agg
    "text_stats",         # pure-column text scan
    "dedup_exact",        # one hash shuffle
    "dedup_minhash_lsh",  # shingle explode + banded self-join
    "contamination_bloom",# broadcast probe + exact join
    "ann_cosine_topk",    # broadcast queries + TakeOrdered
    "join_asof_events",   # union-tag + window fill
    "skew_report_events", # partial-agg + TakeOrdered pre-flight
    "pack_sequences_ffd", # Arrow applyInPandas per-shard kernel
    "corpus_e2e_pretrain",# composed pipeline (score+dedup+mix+pack)
    "graph_triadic_census_directed",  # fact-join edge derivation + census
    "cep_funnel",                     # keyed-wide Python NFA scan
    "cep_iterative_funnel",           # NFA scan with ctx predicates (r10)
    "stream_multibatch_retract_chain",  # foreachBatch agg-of-agg chain (r11 s4)
    "multimodal_resize_box",            # decode/resize/re-encode Arrow chain (r11 s4)
]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_scale"
    probes = sys.argv[3].split(",") if len(sys.argv) > 3 else PROBES
    spark = get_spark(app_name="scale-probe")
    synthesize(spark, BASE, n, out)  # shared with bench.py's sf1 block
    t1 = bench.time_queries(spark, BASE, probes, 3)["queries"]
    tn = bench.time_queries(spark, out, probes, 3)["queries"]
    results = {}
    for name in probes:
        a, b = t1.get(name), tn.get(name)
        results[name] = {"t1": a, "tn": b, "ratio": bench.ratio(a, b)}
        print(f"{name}: 1x={a}s {n}x={b}s ratio={results[name]['ratio']}", file=sys.stderr)
    print(json.dumps({"n": n, "queries": results}))


if __name__ == "__main__":
    main()
