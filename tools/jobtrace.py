"""Per-query Spark job/stage audit (VERDICT r4 #4): run each headline
registry query twice (cold, warm) at a given sf_dir and report how many
Spark jobs and stages the WARM run schedules — the fixed ~150-300 ms
per-job local-mode cost is the residual small-scale latency lever.

    python tools/jobtrace.py [sf_dir] [name_filter]

Prints one line per query: name, warm jobs, warm stages, warm seconds.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    filt = sys.argv[2] if len(sys.argv) > 2 else ""
    from project_gutenberg_full_text_search_spark.entry_queries import build_registry
    from project_gutenberg_full_text_search_spark.session import get_spark, host_cpus

    cpus = host_cpus()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                      app_name="jobtrace")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    queries, _ = build_registry()
    headline = [
        "fts_single_hot", "fts_and", "fts_or", "fts_not", "fts_phrase",
        "fuzzy_prefixish", "contains_cross_token", "facet_lang_of_top_matches",
        "dedup_exact_groups", "ann_cosine_top10", "tpch_q1_pricing",
    ]
    for name in headline:
        if filt and filt not in name:
            continue
        fn = queries[name]
        fn(spark, sf_dir).collect()  # cold: plans, file listing, handle init
        group = f"trace_{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        fn(spark, sf_dir).collect()
        dt = time.time() - t0
        sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        n_stages = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                n_stages += len(info.stageIds)
        print(
            f"{name:30s} jobs={len(job_ids):2d} stages={n_stages:2d} "
            f"warm={dt:.3f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
