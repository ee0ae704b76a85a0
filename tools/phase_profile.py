"""Per-phase wall-clock breakdown of the expensive streaming/disk
faces (guide §1: measure first). Monkeypatches the load-bearing
internals (merge, commit, snapshot reads, landing writes) with timing
wrappers, runs the face once, and prints a sorted phase table — the
evidence for which fixed cost to attack. No repo behavior changes:
wrappers delegate verbatim.

Usage: python tools/phase_profile.py <query> [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ACC: dict[str, list[float]] = defaultdict(list)


def timed(label: str, fn):
    def wrapper(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            ACC[label].append(time.time() - t0)

    return wrapper


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from strava_data_pipeline_spark.operators import upsert as U
    from strava_data_pipeline_spark.sources import versioned as V

    V.commit_snapshot_partitioned = timed(
        "commit_snapshot_partitioned", V.commit_snapshot_partitioned
    )
    V.commit_snapshot = timed("commit_snapshot", V.commit_snapshot)
    V.read_snapshot = timed("read_snapshot(lazy)", V.read_snapshot)
    V.read_snapshot_parts = timed("read_snapshot_parts(lazy)", V.read_snapshot_parts)
    U.merge_latest_wins = timed("merge_latest_wins(lazy)", U.merge_latest_wins)

    # re-point the modules that imported these symbols by value
    import strava_data_pipeline_spark.streaming.dedup_index as DI
    import strava_data_pipeline_spark.streaming.versioned_sink as VS

    VS.merge_latest_wins = U.merge_latest_wins
    VS.commit_snapshot_partitioned = V.commit_snapshot_partitioned
    VS.commit_snapshot = V.commit_snapshot
    VS.read_snapshot = V.read_snapshot
    VS.read_snapshot_parts = V.read_snapshot_parts
    DI.commit_snapshot = V.commit_snapshot
    DI.read_snapshot = V.read_snapshot
    import strava_data_pipeline_spark.plans.streaming_faces as SF

    SF._land = timed("_land", SF._land)
    import strava_data_pipeline_spark.operators.dedup as D

    D.minhash_signatures = timed("minhash_signatures(lazy)", D.minhash_signatures)
    DI.minhash_signatures = D.minhash_signatures

    from strava_data_pipeline_spark.plans import registry
    from strava_data_pipeline_spark.session import get_spark

    spark = get_spark("phase-profile")
    spark.sparkContext.setLogLevel("ERROR")
    q = registry.all_queries()[name]

    t0 = time.time()
    df = q(spark, sf_dir)
    t_build = time.time() - t0
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t_action = time.time() - t0

    print(f"\n=== {name} @ {sf_dir} ===")
    print(f"build (all streaming work): {t_build:.2f}s   final action: {t_action:.2f}s")
    for label, times in sorted(ACC.items(), key=lambda kv: -sum(kv[1])):
        print(
            f"  {sum(times):7.2f}s  n={len(times):3d}  "
            f"avg={sum(times)/len(times):6.3f}s  {label}"
        )


if __name__ == "__main__":
    main()
