"""r17 task 5 (r16 verdict): re-seed BENCHBASE per-query baselines from the
r16 driver closure so the 2x regression gate is a real gate again (matched
had drifted to 0.66 — a genuine regression could hide inside it).

Main-sweep baselines <- BENCH_r16.json (the driver's own 32-core ground
truth: total 29.889 s, sentinel 0.566, guard_active, contaminated:false).
sentinel_sec <- 0.566, the regime those numbers were measured under, so
env_drift normalizes against the same vintage. Previous values are kept in
the provenance fields. sf1/sf1_dbgen blocks are NOT touched here: the
driver's 32-core r16 run shipped only block ratios, and its committed
BENCH_DETAIL is the 8-core side run — re-seeding them from 8-core numbers
would corrupt the 32-core gate; they re-seed separately from a calm r17
closure block (scripts/r17_reseed_sf1.py path) or stay at their r14 vintage
with this note.

Usage: python scripts/r17_reseed_benchbase.py
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    base_p = os.path.join(ROOT, "BENCHBASE.json")
    b = json.load(open(base_p))
    r16 = json.load(open(os.path.join(ROOT, "BENCH_r16.json")))["parsed"]
    assert r16["sentinel_sec"] == 0.566 and r16["contaminated"] is False

    old = dict(b.get("baseline", {}), **b.get("_added", {}))
    b["baseline"] = {q: t for q, t in r16["queries"].items() if t >= 0}
    b["_added"] = {}
    b["sentinel_sec"] = r16["sentinel_sec"]
    b["_baseline_provenance"] = (
        "RE-SEEDED round 17 (2026-08-18) from BENCH_r16.json - the r16 "
        "driver's 32-core ground-truth sweep (total 29.889 s, sentinel "
        "0.566, guard_active, contaminated:false). Rationale (r16 verdict "
        "task 5): matched had drifted to 0.66, so the 2x gate had become an "
        "effective 3x gate. sentinel_sec re-seeded to the SAME run's regime "
        "so env_drift ~= 1 on an equally-calm machine. Previous baselines "
        f"(r01 originals + rolling _added): {json.dumps(old, sort_keys=True)}; "
        "previous sentinel regime: 0.5 (r12 re-seed)."
    )
    json.dump(b, open(base_p, "w"), indent=1)
    print(f"re-seeded {len(b['baseline'])} baselines, sentinel {b['sentinel_sec']}")


if __name__ == "__main__":
    main()
