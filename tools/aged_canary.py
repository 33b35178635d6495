"""Aged-session canary: run a probe set EARLY in a fresh session, age
the session by running the queries whose operators materialize bounded
intermediates N times over, then re-run the probes LATE. Every run goes
through ``queries.run``, which releases what the query persisted, so
late/early per probe should stay near 1 (target <= 1.2x). Accumulated
operator persists once measured up to 3.5x.

Also prints whether the CacheManager is empty after aging and how much
RDD storage is left: the direct observables of a leak.

Usage: python tools/aged_canary.py <sf_dir> [n_age_rounds]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES = [
    "quality_constraint_report",
    "geo_haversine_pairs",
    "text_stats_by_lang",
    "q05_nation_revenue",
]

#: queries whose operators materialize bounded intermediates. Not
#: dedup_cluster_components / dedup_substring_spans: the former is
#: quadratic by design on a full corpus and the latter runs ~50 s at
#: sf1; the canary needs cache-entry count, not per-query weight.
AGERS = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "graph_triangle_stats",
    "text_line_dedup",
    "text_winnowing_fingerprints",
    "dedup_incremental_near",
]


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    sf_dir = sys.argv[1]
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    import bench
    import __spark_entry__ as entry
    from data_pipeline_001_spark.plans.queries import run
    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(app_name="aged_canary")
    spark.sparkContext.setLogLevel("ERROR")
    bench._prepare_point(spark, sf_dir)
    qs = entry.queries()

    def timed(name):
        r = run(spark, qs[name], sf_dir, "noop")
        return r.construct_s + r.execute_s

    early = {n: min(timed(n) for _ in range(2)) for n in PROBES}
    print("early:", {n: round(v, 3) for n, v in early.items()})

    for r in range(n_rounds):
        aged = sum(timed(n) for n in AGERS)
        print(f"aging round {r}: {aged:.1f}s")

    infos = list(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    used = sum(i.memSize() + i.diskSize() for i in infos)
    print(f"cached RDDs after aging: {len(infos)}  storage used: {used / 1e6:.1f} MB")
    cm = spark._jsparkSession.sharedState().cacheManager()
    print("cacheManager isEmpty:", cm.isEmpty())

    late = {n: min(timed(n) for _ in range(2)) for n in PROBES}
    print("late:", {n: round(v, 3) for n, v in late.items()})
    print("late/early:", {n: round(late[n] / early[n], 2) for n in PROBES})


if __name__ == "__main__":
    main()
