"""Per-query measurement harness for the optimization rounds (guide §1).

NOT part of the frozen driver contract (bench.py is the timed artifact);
this tool exists to
  * capture `.explain("formatted")` for every timed registry query
    (plans/r06/<name>_{before,after}.txt — the judge-checkable evidence),
  * time each query in isolation, both as the driver does (`collect`) and
    with the noop sink (compute only, no result serialization),
  * A/B a subset quickly while iterating.

Usage:
    python tools/bench_extra.py plans  <tag> [name_filter]   # write plans/r06/<q>_<tag>.txt
    python tools/bench_extra.py time   [name_filter] [reps]  # warm + timed collect + noop
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_gutenberg_full_text_search_spark.session import get_spark, host_cpus

HEADLINE = [
    "fts_single_hot", "fts_and", "fts_or", "fts_not", "fts_phrase",
    "fuzzy_prefixish", "contains_cross_token", "facet_lang_of_top_matches",
    "dedup_exact_groups", "dedup_minhash_sigs", "dedup_simhash16",
    "ann_cosine_top10", "text_profile", "tpch_q1_pricing",
    "join3_top_revenue", "events_daily_rollup",
]
PIPELINE = [
    "quality_gopher_rules", "events_sessionize", "events_asof_last_purchase",
    "pack_token_shards", "contam_ngram_hits", "ann_ivf_top5",
    "chunk_sliding_windows", "shuffle_train_order", "text_repetition_profile",
    "sample_group_cap",
]


def _registry():
    from project_gutenberg_full_text_search_spark.entry_queries import build_registry

    queries, _ = build_registry()
    return queries


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = host_cpus()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                      app_name="bench_extra")
    queries = _registry()
    names = HEADLINE + PIPELINE

    if mode == "plans":
        tag = sys.argv[2] if len(sys.argv) > 2 else "before"
        name_filter = sys.argv[3] if len(sys.argv) > 3 else ""
        out_dir = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "plans", "r06")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            if name_filter and name_filter not in name:
                continue
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
        return

    # mode == "time"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    out: dict[str, dict] = {}
    for name in names:
        if name_filter and name_filter not in name:
            continue
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        fn(spark, sf_dir).collect()  # warm: plans, code, listings
        coll, noop = [], []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"collect:{name}")
            t0 = time.time()
            fn(spark, sf_dir).collect()
            coll.append(time.time() - t0)
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "collect_min": round(min(coll), 3),
            "noop_min": round(min(noop), 3),
            "collect_all": [round(x, 3) for x in coll],
            "noop_all": [round(x, 3) for x in noop],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "results": out}))


if __name__ == "__main__":
    main()
