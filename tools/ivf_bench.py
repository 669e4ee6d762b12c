"""IVF A/B at scale: nprobe-pruned cell search vs brute-force cosine
top-k on a synthetic clustered embedding corpus, plus recall of the
pruned probe against the exact answer.

    python tools/ivf_bench.py [--rows 500000] [--dim 64] [--nlist 64]
                              [--nprobe 8] [--queries 5] [--samples 3]

Prints one JSON line:
    {"rows": ..., "dim": ..., "nlist": ..., "nprobe": ...,
     "train_sec": ..., "index_write_sec": ...,
     "brute_sec": ..., "ivf_sec": ..., "speedup": ...,
     "recall_at_10": ..., "files_scanned_frac": ...}

The corpus is deterministic (seeded gaussian mixture over nlist*2
centers — clustered like real embedding corpora, where IVF's adaptive
cells beat data-independent hyperplanes). Both paths are measured warm
against the SAME persisted parquet; the IVF path reads the
cell-partitioned index artifact so the speedup includes real partition
pruning, not just a narrower filter. Cached under /dev/shm by
(rows, dim) fingerprint; results recorded in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from project_gutenberg_full_text_search_spark.session import host_cpus  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--rows", type=int, default=500_000)
    p.add_argument("--dim", type=int, default=64)
    p.add_argument("--nlist", type=int, default=64)
    p.add_argument("--nprobe", type=int, default=8)
    p.add_argument("--queries", type=int, default=5)
    p.add_argument("--samples", type=int, default=3)
    p.add_argument("--cpus", type=int, default=host_cpus())
    args = p.parse_args()

    from pyspark.sql import functions as F

    from project_gutenberg_full_text_search_spark.operators import ivf, similarity
    from project_gutenberg_full_text_search_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        app_name="ivf_bench",
    )
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    emb_path = os.path.join(scratch, f"pgfts_ivf_emb_{args.rows}_{args.dim}")

    if not os.path.exists(emb_path):
        # deterministic clustered corpus, generated distributed: center and
        # offset are pure functions of vec_id (seeded per-partition numpy)
        n_centers = args.nlist * 2
        rng = np.random.RandomState(7)
        centers = rng.standard_normal((n_centers, args.dim))
        bc = spark.sparkContext.broadcast(centers.astype(np.float64))
        dim = args.dim

        def gen(batches):
            import pandas as pd

            C = bc.value
            for pdf in batches:
                ids = pdf["vec_id"].to_numpy()
                if len(ids) == 0:
                    yield pd.DataFrame({"vec_id": ids, "embedding": []})
                    continue
                # the corpus is persisted once and cached by (rows, dim) —
                # batch-seeded noise is deterministic enough for that
                rs = np.random.RandomState(int(ids[0]) & 0x7FFFFFFF)
                noise = rs.standard_normal((len(ids), dim))
                cid = ids % len(C)
                vecs = C[cid] + 0.25 * noise
                yield pd.DataFrame(
                    {"vec_id": ids, "embedding": [v.tolist() for v in vecs]}
                )

        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        )
        base = spark.range(args.rows).select(F.col("id").alias("vec_id"))
        base.repartition(max(args.cpus * 4, 32)).mapInPandas(gen, schema).write.mode(
            "overwrite"
        ).parquet(emb_path)

    emb = spark.read.parquet(emb_path)

    t0 = time.time()
    C = ivf.train_centroids(emb, dim=args.dim, nlist=args.nlist, seed=11)
    train_sec = time.time() - t0

    idx_path = os.path.join(
        scratch, f"pgfts_ivf_idx_{args.rows}_{args.dim}_{args.nlist}"
    )
    t0 = time.time()
    if not os.path.exists(os.path.join(idx_path, "_ivf_meta.json")):
        ivf.write_ivf_index(emb, idx_path, dim=args.dim, centroids=C)
    index_write_sec = time.time() - t0

    qs = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(list(range(args.queries)))).collect()
    ]

    # warm both paths once, then take the min of N samples per query
    brute, pruned, recalls = [], [], []
    for q in qs:
        exact = similarity.cosine_topk(emb, q, k=10).collect()
        approx = ivf.ann_ivf_index_topk(
            spark, idx_path, q, k=10, nprobe=args.nprobe
        ).collect()
        recalls.append(
            len({r.vec_id for r in exact} & {r.vec_id for r in approx}) / 10
        )
        bt, it = [], []
        for _ in range(args.samples):
            t0 = time.time()
            similarity.cosine_topk(emb, q, k=10).collect()
            bt.append(time.time() - t0)
            t0 = time.time()
            ivf.ann_ivf_index_topk(spark, idx_path, q, k=10, nprobe=args.nprobe).collect()
            it.append(time.time() - t0)
        brute.append(min(bt))
        pruned.append(min(it))

    brute_sec = sum(brute) / len(brute)
    ivf_sec = sum(pruned) / len(pruned)
    out = {
        "rows": args.rows,
        "dim": args.dim,
        "nlist": args.nlist,
        "nprobe": args.nprobe,
        "train_sec": round(train_sec, 2),
        "index_write_sec": round(index_write_sec, 2),
        "brute_sec": round(brute_sec, 3),
        "ivf_sec": round(ivf_sec, 3),
        "speedup": round(brute_sec / ivf_sec, 2) if ivf_sec else None,
        "recall_at_10": round(sum(recalls) / len(recalls), 3),
        "files_scanned_frac": round(args.nprobe / args.nlist, 3),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
