"""Run the driver's oracle gate locally: every registered query vs DuckDB.

Usage: python scripts/oracle_check.py [sf_dir] [name_filter] [--nonempty]

``--nonempty`` additionally fails any query that returns 0 rows: a 0=0 hash
match is vacuous evidence (the r10 verdict caught four TPC-H queries whose
predicates matched nothing on real dbgen data yet "passed"). Used by the
preflight --dbgen gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from flink_1_6_0_spark.catalog import TABLES
from flink_1_6_0_spark.registry import load_all, resolve_oracle
from flink_1_6_0_spark.session import get_spark
from tests.helpers import driver_canon, normalize


def main() -> int:
    # --skip a,b,c: exclude named queries (the declared-O(n²) algorithms at
    # scale tiers where a quadratic is intractable by design — the skip list
    # is printed so the record shows what was excluded)
    skip: set[str] = set()
    only: set[str] = set()
    use_py: set[str] = set()
    argv = []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--nonempty":
            continue
        if a == "--skip":
            skip |= set(next(it, "").split(","))
            continue
        if a == "--names":  # explicit list (parallel gate sharding)
            only |= set(next(it, "").split(","))
            continue
        if a == "--py":  # use the registered trusted-reimplementation
            # (python) oracle instead of the SQL one for these queries —
            # the scale-tier path for oracles whose SQL form is
            # cost-prohibitive (r14 verdict task 5)
            use_py |= set(next(it, "").split(","))
            continue
        argv.append(a)
    nonempty = "--nonempty" in sys.argv[1:]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    filt = argv[1] if len(argv) > 1 else ""
    # Validate the parsed names against the registry (r14 ADVICE): a missing
    # or trailing --skip/--names value silently added '' to the set, and a
    # typo'd query name silently skipped NOTHING while stderr still claimed
    # it was excluded.
    _known = set(load_all())
    _bad = sorted((skip | only | use_py) - _known)
    if _bad:
        print(f"error: unknown --skip/--names entries: {_bad}", file=sys.stderr)
        return 2
    if skip:
        print(f"skipping {len(skip)} declared: {sorted(skip)}", file=sys.stderr)
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        if os.path.isdir(f"{sf}/{t}.parquet"):
            # Spark-written table = a DIRECTORY of part files (the x10
            # synthetic tier) — DuckDB needs the glob form
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")
        elif os.path.exists(f"{sf}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        else:
            # TPC-H-only dirs (sources/tpch_dbgen.py) lack the synthetic
            # events/documents/embeddings tables; queries that need them are
            # simply not runnable there and will ERR if selected
            print(f"note: {t}.parquet absent in {sf} — view skipped", file=sys.stderr)
    failures = 0
    specs = load_all()
    if filt == "--head":  # exactly the driver's 50-query gate window, in order
        specs, filt = {n: specs[n] for n in list(specs)[:50]}, ""
    for name, spec in sorted(specs.items()):
        if filt and filt not in name:
            continue
        if name in skip or (only and name not in only):
            continue
        try:
            sp = spec.fn(spark, sf).toPandas()
            driver_canon(sp)  # the driver's raw sort_values — unhashable cells throw
            if name in use_py:
                if spec.pyoracle is None:
                    raise ValueError(f"--py requested but {name} has no pyoracle")
                dk = spec.pyoracle(con)
            elif spec.oracle is None:
                print(f"{name}: rows={len(sp)} (no oracle — rows-only)")
                continue
            else:
                dk = con.sql(resolve_oracle(spec, sf)).fetchdf()
            cols_ok = sorted(sp.columns) == sorted(dk.columns)
            a, b = normalize(sp), normalize(dk)
            ok = cols_ok and a == b
            vacuous = nonempty and len(sp) == 0
            if vacuous:
                ok = False
            status = "OK " if ok else "FAIL"
            print(
                f"{status} {name}: spark={len(sp)} duck={len(dk)} cols_ok={cols_ok}"
                + (" VACUOUS (0 rows with --nonempty)" if vacuous else "")
            )
            if not ok:
                failures += 1
                if not cols_ok:
                    print(f"     spark cols {sorted(sp.columns)} duck cols {sorted(dk.columns)}")
                for x, y in list(zip(a, b))[:200]:
                    if x != y:
                        print(f"     spark {x!r}\n     duck  {y!r}")
                        break
        except Exception as exc:
            failures += 1
            print(f"ERR  {name}: {type(exc).__name__}: {str(exc)[:300]}")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
