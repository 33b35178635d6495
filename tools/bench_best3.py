"""Best-of-N timings for the TPC-H headliners at one scale point —
the reconciliation tool for plain-vs-bucketed claims (one-shot
snapshots disagree with best-of runs by up to ~3× on a shared VM;
this prints both the min and all samples so the artifact itself shows
the variance).

Usage: python tools/bench_best3.py [sf_dir] [n_runs] [query ...]
Defaults: .benchdata/sf10, 3 runs, the 4 plain + 3 bucketed
headliners. DuckDB oracle timed with the same best-of-N.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_nation_revenue",
    "q10_returned_revenue",
    "q03_shipping_priority_bucketed",
    "q05_nation_revenue_bucketed",
    "q10_returned_revenue_bucketed",
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else os.path.join(REPO, ".benchdata", "sf10")
    n = int(args[1]) if len(args) > 1 else 3
    names = args[2:] or DEFAULT

    import duckdb

    import __spark_entry__ as entrymod
    from bench import _prepare_point
    from data_pipeline_001_spark.plans.queries import run
    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(app_name="bench-best3")
    spark.sparkContext.setLogLevel("ERROR")
    _prepare_point(spark, sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    out = {}
    for name in names:
        runs = []
        for _ in range(n):
            r = run(spark, qs[name], sf_dir, "noop")
            runs.append(round(r.construct_s + r.execute_s, 3))
        drs = []
        if name in oracles:
            for _ in range(n):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                drs.append(round(time.perf_counter() - t0, 3))
        best, dbest = min(runs), (min(drs) if drs else None)
        out[name] = {
            "spark_best_s": best,
            "spark_runs": runs,
            "duckdb_best_s": dbest,
            "duckdb_runs": drs,
            "ratio": round(best / dbest, 2) if dbest else None,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "results": out}, indent=1))


if __name__ == "__main__":
    main()
