"""Champion-list A/B at hot-term posting mass (VERDICT r4 #1's done
criterion): measure the champion fast path against the full blockagg
path on a corpus whose hot terms carry millions of postings, verifying
row-for-row equality wherever the champion path engages.

    python tools/champ_bench.py [--docs 2000000] [--length-scale 2.0]

Prints one JSON line:
    {"n_docs": ..., "champ_build_sec": ..., "champ_rows": ...,
     "queries": {q: {"df_mass": ..., "mode": "served"|"fallback",
                     "champ_sec": ..., "full_sec": ..., "speedup": ...,
                     "rows_equal": true}}}

Caches its corpus and index under /dev/shm (the names and fingerprint of
the round-4 block-max study, so that study's cache is reused); results
are recorded in BASELINE.md. Expected shape:
single-hot serves (the whole point — top-20 of a ~2M-posting term from a
C-row side table), complete-range OR serves, hot AND/OR falls back by
design (exactness: per-term champion rows cannot produce cross-term
scores — operators/champions.py module docstring).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_gutenberg_full_text_search_spark.session import host_cpus  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", type=int, default=2_000_000)
    p.add_argument("--length-scale", type=float, default=2.0)
    p.add_argument("--cpus", type=int, default=host_cpus())
    p.add_argument("--k", type=int, default=20)
    p.add_argument("--samples", type=int, default=3)
    args = p.parse_args()

    from project_gutenberg_full_text_search_spark.corpus import gen_corpus
    from project_gutenberg_full_text_search_spark.operators import champions as CH
    from project_gutenberg_full_text_search_spark.operators.bm25 import (
        IndexHandle,
        bm25_topk,
    )
    from project_gutenberg_full_text_search_spark.operators.build_index import build_index
    from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch
    from project_gutenberg_full_text_search_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]", shuffle_partitions=args.cpus,
                      app_name="champ_bench")
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    docs_path = os.path.join(
        scratch, f"pgfts_prune_docs_{args.docs}_{args.length_scale}"
    )
    if not os.path.exists(docs_path):
        gen_corpus(
            spark, args.docs, seed=42, partitions=256,
            length_scale=args.length_scale,
        ).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    idx = os.path.join(scratch, f"pgfts_prune_idx_{args.docs}_{args.length_scale}")
    t0 = time.time()
    build_index(spark, docs, idx, resume=True, with_champions=False,
                input_fingerprint=f"prune{args.docs}_{args.length_scale}")
    build_sec = time.time() - t0
    t0 = time.time()
    if CH.champions_meta(IndexHandle.open(spark, idx)) is None:
        CH.build_champions(spark, idx)
    champ_build_sec = time.time() - t0
    h = IndexHandle.open(spark, idx)
    champ_rows = h._scan("champions").count()

    queries = {
        "single_hot": "index",
        "single_hot2": "query",
        "single_mid": "index200",
        "or_hot2": "index or query",
        "or_mid2": "index200 or query200",
        # both terms inside the [min_df, C] complete band at 2M docs
        # (df ~7.5k each) → complete-mode boolean serving engages
        "or_complete2": "index250 or query252",
        "and_complete2": "index250 query252",
        "and_hot2": "index query",
        "not_hot": "index -query",
    }
    out = {
        "n_docs": args.docs,
        "build_sec": round(build_sec, 1),
        "champ_build_sec": round(champ_build_sec, 1),
        "champ_rows": champ_rows,
        "C": CH.CHAMP_C,
        "min_df": CH.CHAMP_MIN_DF,
        "queries": {},
    }
    for name, q in queries.items():
        pq = parse_websearch(q)
        mass = sum(h.term_stats(pq.positive_terms).values())
        served = CH.champion_topk(h, pq, k=args.k)
        rec = {"df_mass": mass, "mode": "fallback" if served is None else "served"}
        full_rows = None
        for mode, kw in (("champ", {}), ("full", {"champions": False})):
            if mode == "champ" and served is None:
                continue
            bm25_topk(h, q, k=args.k, **kw).collect()  # warm
            samples = []
            for _ in range(args.samples):
                t = time.time()
                rows = [
                    (r.doc_id, r.score)
                    for r in bm25_topk(h, q, k=args.k, **kw).collect()
                ]
                samples.append(time.time() - t)
            rec[f"{mode}_sec"] = round(min(samples), 3)
            if mode == "champ":
                champ_rows_q = rows
            else:
                full_rows = rows
        if served is not None:
            rec["rows_equal"] = champ_rows_q == full_rows
            rec["speedup"] = round(rec["full_sec"] / rec["champ_sec"], 2)
        out["queries"][name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
