"""Benchmark harness — times the headline (bench=True) registered queries.

Usage: python bench.py [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: all cores)

Query names, when given, restrict every block to those registered queries
(an A/B is two checkouts each running ``python bench.py <query>``).

This module is the one place that decides how a registered query is timed:
the scale probes in ``scripts/`` time their directories through
``time_queries`` too.

Prints ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "vs_baseline_matched": R, ...}; the
full record goes to BENCH_DETAIL.json. Every query runs to completion into a
``noop`` sink: the whole plan executes and nothing is collected.

The rule, in order:

- One wall-clock deadline, ``DEADLINE_S`` from process start; data
  generation counts against it. The sf0.1 headline sweep runs first (3
  rounds), then, when the headline dir is sf0.1, the sf1 synth block and the
  sf1 dbgen block (2 rounds each) in the time that is left, then the
  streaming rows/s figure.
- Every block goes through ``time_block``: one untimed warm-up pass at the
  block's own dir, then ``runs`` timed rounds interleaved round-robin (every
  query once per round, so drift hits every query alike), with one
  ``_sentinel_sec`` stamp after each round. A run is not started if,
  judged from that query's last sample, it would end past the deadline; the
  block stops there. Per-query time is the median over the completed rounds
  (over the cut round's samples when none completed). A query that raises
  reads -1.0 and drops out of later rounds.
- A block is contaminated when the deadline cut it short, or when its median
  round stamp exceeds ``DRIFT`` x BENCHBASE's sentinel. ``contaminated`` is
  true when any block is; it is null when BENCHBASE has no sentinel.
  ``env_drift`` and the normalized ratios divide by the median round stamp.
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import sys
import time

DEADLINE_S = 20 * 60
_DEADLINE = time.monotonic() + DEADLINE_S  # from import, at process start
DRIFT = 1.3

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHBASE = os.path.join(HERE, "BENCHBASE.json")

SF1_SET = (
    "tpch_q1", "tpch_q3", "tpch_q9", "tpch_q21",
    "dedup_minhash_lsh", "corpus_e2e_pretrain", "graph_triadic_census_directed",
)
DBGEN_SET = ("tpch_q1", "tpch_q3", "tpch_q9", "tpch_q21")


def consume(df) -> None:
    """Run ``df``'s whole plan into the ``noop`` sink, collecting nothing."""
    df.write.format("noop").mode("overwrite").save()


def _sentinel_sec(spark) -> float:
    """Wall time of a fixed, data-independent SHUFFLE+AGG job sized to the
    session — the machine-speed proxy the normalized ratio divides by.

    It exercises the resources the queries contend for: one map task of
    375 000 rows per session core (``_default_parallelism()``), a hash
    partial aggregate, one shuffle exchange and a final aggregate — the
    dominant plan shape of the bench head. One task per core keeps the work
    per core fixed whatever the core count, so a run below 32 cores is not
    read as a slow host. A single-stage ``range().sum()`` gets a free core on a loaded
    machine and reads no contention while every real query slows.
    BENCHBASE.json's ``sentinel_sec`` was recorded at 32 cores, where this
    job is the same 12M rows in 32 tasks."""
    from flink_1_6_0_spark.session import _default_parallelism

    tasks = _default_parallelism()
    t0 = time.perf_counter()
    (
        spark.range(0, tasks * 375_000, 1, tasks)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


def time_block(run, stamp, d, names, runs, deadline, clock=time.monotonic) -> dict:
    """Time ``names`` at dir ``d``: one untimed warm-up pass, then ``runs``
    round-robin rounds with one ``stamp()`` after each, none started past
    ``deadline`` (see the module docstring). ``run(name, d)`` executes one
    query; ``clock`` reads seconds on the deadline's scale."""
    last: dict[str, float] = {}
    failed: set[str] = set()

    def attempt(name: str) -> float | None:
        t0 = clock()
        try:
            run(name, d)
        except Exception as exc:  # a failing query must not sink the bench
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            failed.add(name)
            return None
        last[name] = clock() - t0
        return last[name]

    for name in names:
        if clock() >= deadline:
            break
        attempt(name)
    rounds: list[dict[str, float | None]] = []
    stamps: list[float] = []
    stopped = False
    while len(rounds) < runs and not stopped:
        this = {}
        for name in names:
            if name in failed:
                continue
            if name not in last or clock() + last[name] > deadline:
                stopped = True
                break
            this[name] = attempt(name)
        else:
            rounds.append(this)
            stamps.append(stamp())
    kept = rounds or [this]
    queries: dict[str, float] = {}
    for name in names:
        samples = [r[name] for r in kept if r.get(name) is not None]
        if name in failed:
            queries[name] = -1.0
        elif samples:
            queries[name] = round(statistics.median(samples), 3)
    return {
        "queries": queries,
        "runs_per_query": runs,
        "rounds_completed": len(rounds),
        "round_sentinels": stamps,
        "sentinel_sec": round(statistics.median(stamps), 3) if stamps else None,
        "cut_by_deadline": len(rounds) < runs,
    }


def time_queries(spark, d, names, runs) -> dict:
    """``time_block`` over registered queries on ``spark`` under the process
    deadline: a run writes the query's result to the noop sink, a stamp is
    one ``_sentinel_sec``."""
    from flink_1_6_0_spark.registry import load_all

    specs = load_all()
    return time_block(
        lambda name, at: consume(specs[name].fn(spark, at)),
        lambda: _sentinel_sec(spark),
        d, names, runs, _DEADLINE,
    )


def ratio(t_base: float | None, t: float | None) -> float | None:
    """``t / t_base`` to 2 places; None unless both are timings (a failed
    query reads -1.0, an untimed one None)."""
    if t_base is None or t is None or t_base <= 0 or t < 0:
        return None
    return round(t / t_base, 2)


def streaming_throughput(spark, sf_dir: str) -> dict:
    """End-to-end micro-batch throughput (BASELINE.md bench family 7): rows/s
    over the full multi-batch replay of the date-partitioned lake through
    stream_multibatch_tumble's plan and state partitions, measured from plan
    build to last committed batch. Returns ``{rows, sec, rows_per_sec,
    batches}``."""
    from flink_1_6_0_spark.queries.lake import _drain_multibatch_tumble

    t0 = time.perf_counter()
    _, progress = _drain_multibatch_tumble(spark, sf_dir)
    sec = time.perf_counter() - t0
    rows = sum(p["numInputRows"] for p in progress)
    return {
        "rows": rows,
        "sec": round(sec, 3),
        "rows_per_sec": round(rows / sec, 1) if sec > 0 else -1.0,
        "batches": len(progress),
    }


def contamination(blocks: dict[str, dict], base: float | None) -> tuple[bool | None, list[str]]:
    """``(contaminated, names)`` over the timed blocks: a block counts when
    the deadline cut it short or its median round stamp exceeds ``DRIFT`` x
    the BENCHBASE sentinel ``base``. Unchecked (None) without a base."""
    if not base:
        return None, []
    bad = [
        name for name, b in blocks.items()
        if b["cut_by_deadline"] or (b["sentinel_sec"] or 0.0) > DRIFT * base
    ]
    return bool(bad), bad


def _env_block(spark) -> dict:
    from flink_1_6_0_spark.session import _default_parallelism

    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = [-1.0, -1.0, -1.0]
    return {
        "spark_version": spark.version,
        "java_version": str(
            spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        ),
        "python_version": platform.python_version(),
        "cpus": _default_parallelism(),
        "loadavg_start": load,
    }


def _vs_baseline(times: dict[str, float], baseline: dict[str, float]) -> dict:
    """Matched-set ratio sum(current)/sum(baseline) over the queries present
    in both, so adding or dropping a bench query never skews it."""
    matched = [q for q, t in times.items() if t >= 0 and q in baseline]
    if not matched:
        return {}
    return {
        "vs_baseline_matched": round(
            sum(times[q] for q in matched) / sum(baseline[q] for q in matched), 3
        ),
        "matched_queries": len(matched),
        "per_query_ratio": {q: round(times[q] / baseline[q], 2) for q in matched},
    }


def _normalize(out: dict, sentinel_now: float | None, sentinel_base: float | None, key: str) -> None:
    """Divide the matched ratio by this block's machine-speed drift
    (median round stamp / the regime its baselines were recorded under)."""
    if "vs_baseline_matched" in out and sentinel_now and sentinel_base:
        drift = sentinel_now / sentinel_base
        out[key] = round(drift, 3)
        out["vs_baseline_normalized"] = round(out["vs_baseline_matched"] / drift, 3)


def _compact_line(out: dict) -> str:
    """The driver keeps only the tail of stdout: print one line that fits
    in 1900 chars, coarsening and then trimming the fastest queries."""
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "runs_per_query",
            "vs_baseline_matched", "matched_queries", "env_drift",
            "vs_baseline_normalized", "throughput_rows_s", "stream_batches",
            "guard_active", "contaminated", "contaminated_list", "sentinel_sec",
        )
        if k in out
    }
    for blk in ("sf1", "sf1_dbgen"):
        if blk in out:
            compact[blk] = {k: out[blk][k] for k in ("sf", "vs_baseline_matched") if k in out[blk]}
    compact["detail"] = "BENCH_DETAIL.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        compact["queries"] = {q: round(t, 2) for q, t in compact["queries"].items()}
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900 and compact["queries"]:
        del compact["queries"][min(compact["queries"], key=compact["queries"].get)]
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main(argv: list[str]) -> None:
    from flink_1_6_0_spark.registry import load_all
    from flink_1_6_0_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    specs = load_all()
    unknown = [n for n in argv if n not in specs]
    if unknown:
        sys.exit(f"bench: unknown queries {unknown}")
    names = tuple(argv) or tuple(n for n, s in specs.items() if s.bench)
    try:
        with open(BENCHBASE) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        base = {}

    spark = get_spark(app_name="flink-1.6.0-spark-bench")
    env = _env_block(spark)

    _sentinel_sec(spark)  # compile the stamp job before its first recorded reading
    head = time_queries(spark, sf_dir, names, 3)
    timings = head.pop("queries")
    blocks = {"headline": head}

    scale = abs(sf - 0.1) < 1e-9
    for key, subset, gen_key, note in (
        ("sf1", SF1_SET, "synth_or_cache_sec", "10x key-shifted scale-up of sf0.1 (scale_synth.py)"),
        ("sf1_dbgen", DBGEN_SET, "gen_or_cache_sec", "REAL TPC-H sf1 (DuckDB dbgen)"),
    ):
        block_names = tuple(n for n in subset if n in names)
        if not (scale and block_names) or time.monotonic() >= _DEADLINE:
            continue
        try:
            t0 = time.perf_counter()
            if key == "sf1":
                from flink_1_6_0_spark.sources.scale_synth import sf1_dir

                d = sf1_dir(spark)
            else:
                from flink_1_6_0_spark.sources.tpch_dbgen import tpch_dir

                d = tpch_dir(1.0)
            gen = round(time.perf_counter() - t0, 1)
            blocks[key] = {"sf": 1.0, "note": note, gen_key: gen,
                           **time_queries(spark, d, block_names, 2)}
        except Exception as exc:
            print(f"bench: {key} block skipped: {exc}", file=sys.stderr)

    throughput: dict | None = None
    try:
        throughput = streaming_throughput(spark, sf_dir)
    except Exception as exc:
        print(f"bench: streaming throughput skipped: {exc}", file=sys.stderr)
    try:
        env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "env": env,
        **head,
    }
    out["guard_active"] = bool(base.get("sentinel_sec"))
    out["contaminated"], contaminated = contamination(blocks, base.get("sentinel_sec"))
    if contaminated:
        out["contaminated_list"] = contaminated
    if throughput is not None:
        out["throughput_rows_s"] = throughput["rows_per_sec"]
        out["stream_batches"] = throughput["batches"]
        out["stream_rows"] = throughput["rows"]

    if abs(base.get("sf", -1) - sf) < 1e-9:
        out.update(_vs_baseline(timings, dict(base.get("baseline", {}), **base.get("_added", {}))))
        _normalize(out, head["sentinel_sec"], base.get("sentinel_sec"), "env_drift")
        out["unmatched_new"] = sorted(
            q for q, t in timings.items() if t >= 0 and q not in out.get("per_query_ratio", {})
        )
    for key in ("sf1", "sf1_dbgen"):
        if key in blocks:
            blk = out[key] = blocks[key]
            if key == "sf1":  # t(sf1)/t(sf0.1) from one process: the per-decade scaling
                blk["x10_ratio"] = {
                    q: r for q, t in blk["queries"].items()
                    if (r := ratio(timings.get(q), t)) is not None
                }
            blk.update(_vs_baseline(blk["queries"], base.get(f"{key}_baseline", {})))
            _normalize(blk, blk["sentinel_sec"], base.get(f"{key}_sentinel_sec"), "block_env_drift")

    try:
        with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError as exc:
        print(f"bench: detail write failed: {exc}", file=sys.stderr)
    print(_compact_line(out))


if __name__ == "__main__":
    main(sys.argv[1:])
