"""r17 task 7 (r15 verdict task 4): graph-operator probe on power-law tiers
up to 10M edges.

The triadic/jaccard pin decisions were made on sf0.1/x10 trade-graph
evidence (25 vertices). This probe synthesizes deterministic R-MAT graphs
(Graph500 A=.57/B=C=.19 — heavy-tailed hubs) at 100k / 1M / 10M edges and
times the operators the r15 verdict named: both triadic censuses,
jaccard_index, and transitive_closure bounded to 2 extension rounds (the
FULL closure of a power-law giant component is O(V^2) output rows —
intractable by output size, not engine shape; 2 rounds measures the
engine's join/dedup decade scaling on the same data).

Each (operator, decade) measurement runs in its OWN subprocess under a
hard wall-clock kill (first attempt shared one JVM: the 10M triadic blew
the 8g heap and the shutdown took every later measurement with it), with
SPARK_GRAFT_DRIVER_MEM=48g — the same headroom the r15 x100 CEP probes
used; the R-MAT tiers are disk-cached so subprocesses share generation.

Usage:
    python scripts/r17_x100_graph_probe.py [--budget 600]        # full sweep
    python scripts/r17_x100_graph_probe.py --one OP EDGES SCALE [eager]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DECADES = [  # (edges, scale) — Graph500 convention: ~16 edges per vertex
    (100_000, 13),
    (1_000_000, 16),
    (10_000_000, 20),
]
OPS = ("triadic_census_directed", "triadic_census", "jaccard_index",
       "transitive_closure_2round")


def _edges_dir(spark, edges: int, scale: int) -> str:
    import getpass
    import tempfile

    from flink_1_6_0_spark.operators.graph_gen import rmat_graph

    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_rmat_{getpass.getuser()}"
    )
    os.makedirs(root, exist_ok=True)
    dest = os.path.join(root, f"rmat_s{scale}_e{edges}")
    if not os.path.isfile(os.path.join(dest, "_SUCCESS")):
        rmat_graph(spark, scale, edges).write.mode("overwrite").parquet(dest)
    return dest


def run_one(op: str, edges: int, scale: int, eager: bool | None) -> None:
    import bench
    from flink_1_6_0_spark.operators import graph as g
    from flink_1_6_0_spark.session import get_spark

    spark = get_spark(app_name=f"r17-x100-{op}-{edges}")
    d = _edges_dir(spark, edges, scale)
    e = spark.read.parquet(d)
    if eager is not None:
        orig = g._checkpoint
        g._checkpoint = lambda df, mode="local", _e=eager, **kw: orig(df, mode, eager=_e)
    spark.sparkContext.setJobDescription(f"r17 x100 probe: {op} @ {edges}")
    if op == "triadic_census_directed":
        df = g.triadic_census_directed(e)
    elif op == "triadic_census":
        df = g.triadic_census(e)
    elif op == "jaccard_index":
        df = g.jaccard_index(e)
    elif op == "transitive_closure_2round":
        df = g.transitive_closure(
            e.select("src", "dst").distinct(), max_iterations=2,
            require_convergence=False,
        )
    else:
        raise ValueError(op)
    t0 = time.perf_counter()
    bench.consume(df)
    print(json.dumps({"sec": round(time.perf_counter() - t0, 2)}))


def main() -> None:
    if "--one" in sys.argv:
        i = sys.argv.index("--one")
        op, edges, scale = sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3])
        eager = None
        if len(sys.argv) > i + 4:
            eager = sys.argv[i + 4] == "eager"
        run_one(op, edges, scale, eager)
        return

    budget = 600.0
    if "--budget" in sys.argv:
        budget = float(sys.argv[sys.argv.index("--budget") + 1])

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="48g")

    def sub(op, edges, scale, variant=None) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--one", op,
               str(edges), str(scale)] + ([variant] if variant else [])
        t0 = time.perf_counter()
        try:
            p = subprocess.run(
                cmd, env=env, capture_output=True, text=True,
                timeout=budget + 120,  # allow session start + generation
            )
        except subprocess.TimeoutExpired:
            return {"killed_after_sec": round(time.perf_counter() - t0, 1)}
        for line in reversed(p.stdout.strip().splitlines()):
            if line.startswith("{"):
                r = json.loads(line)
                r["wall_with_startup"] = round(time.perf_counter() - t0, 1)
                return r
        return {
            "error": (p.stderr.strip().splitlines() or ["no output"])[-1][:200],
            "rc": p.returncode,
        }

    ops: dict[str, dict] = {}
    for op in OPS:
        res: dict = {}
        stop = False
        for edges, scale in DECADES:
            if stop:
                res[f"e{edges}"] = {"skipped": "previous decade exceeded budget"}
                continue
            r = sub(op, edges, scale)
            res[f"e{edges}"] = r
            print(f"{op} @ {edges}: {json.dumps(r)}", file=sys.stderr, flush=True)
            if "sec" not in r or r["sec"] > budget:
                stop = True
        ratios = {}
        for (e1, _), (e2, _) in zip(DECADES, DECADES[1:]):
            a, b = res.get(f"e{e1}", {}).get("sec"), res.get(f"e{e2}", {}).get("sec")
            if a and b:
                ratios[f"x10_at_{e2}"] = round(b / a, 2)
        res["decade_ratios"] = ratios
        ops[op] = res

    # eager-vs-lazy pairs-pin A/B for the directed census at every decade
    # that completed within budget
    ab = {}
    for edges, scale in DECADES:
        base = ops["triadic_census_directed"].get(f"e{edges}", {})
        if "sec" not in base or base["sec"] > budget:
            continue
        pair = {}
        for variant in ("lazy", "eager"):
            pair[variant] = sub("triadic_census_directed", edges, scale, variant)
        ab[f"e{edges}"] = pair
        print(f"pin A/B @ {edges}: {json.dumps(pair)}", file=sys.stderr, flush=True)
    ops["triadic_pin_ab"] = ab
    print(json.dumps(ops, indent=1))


if __name__ == "__main__":
    main()
