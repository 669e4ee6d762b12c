"""Incremental index refresh — batch append + Structured Streaming driver.

The reference refreshes by rebuilding the whole materialized view
concurrently on a timer (tables/mv_books_dc.sql:502-514, README.md:80-91).
Ours is genuinely incremental: because the index is a set of posting
*segments* (disjoint doc batches concatenate freely — the same property
the block/shard build exploits), appending a new shard of posting blocks
for the new docs IS a refresh. Readers keep working throughout (new files
only become visible atomically per parquet commit).

- ``append_docs``: one batch of new docs → a new norms shard + a new
  postings shard, then refresh the small derived tables (stats, terms,
  trigram_terms).
- ``stream_refresh``: Structured Streaming file source →
  ``foreachBatch(append_docs)`` with checkpointing, so a crashed refresh
  resumes exactly-once per epoch.

Idempotency: foreachBatch is at-least-once, so BOTH writes of an epoch
(norms and postings) go to fixed per-shard paths with mode('overwrite') —
a replayed epoch rewrites its own shard instead of duplicating rows, which
would otherwise inflate N/avgdl and corrupt BM25 scores.

Scale notes: terms/trigram_terms ARE a merge-on-read delta (round 3) —
each epoch writes only its own shard's partial aggregates
(``terms/shard=<label>``, ``trigram_terms/shard=<label>``, both
idempotent overwrites) and readers merge lazily
(``IndexHandle.terms``/``trigram_terms``: lazy sum / distinct over the
vocabulary-sized union). Corpus-level stats come from per-shard
``_norms_stats/<label>.json`` manifests (n, sum_dl per shard — an
Observation riding the norms write), summed driver-side: one tiny JSON
per epoch instead of a corpus-wide norms re-scan, and replay-idempotent
because a replayed epoch overwrites its own manifest. At 10^12 files an
epoch therefore costs only shard-sized work.
avgdl drift after a refresh is safe: queries score with the CURRENT
stats.json avgdl (operators/bm25.py), and champion lists built against
the old stats stop serving until rebuilt (operators/champions.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_gutenberg_full_text_search_spark.operators.build_index import (
    POSTINGS_SCHEMA,
    _encode_blocks_gen,
    block_key_expr,
    build_norms,
    ensure_doc_ids,
    read_norms,
    tbucket_col,
    tokenize_docs,
    write_shard_terms,
)
from project_gutenberg_full_text_search_spark.sources import fsio
from project_gutenberg_full_text_search_spark.sources.tables import read_json, write_json


def refresh_stats(spark: SparkSession, index_dir: str) -> dict:
    """stats.json from the per-shard _norms_stats manifests (one tiny JSON
    per shard/epoch, summed driver-side — no corpus-wide norms scan).
    Falls back to a full norms aggregation for legacy dirs without
    manifests."""
    from project_gutenberg_full_text_search_spark import BM25_B, BM25_K1

    ns_dir = os.path.join(index_dir, "_norms_stats")
    manifests = (
        [read_json(os.path.join(ns_dir, f)) for f in fsio.listdir(ns_dir)]
        if fsio.isdir(ns_dir)
        else []
    )
    manifests = [m for m in manifests if m]
    # manifests are only authoritative when they cover EVERY norms shard —
    # a legacy base build without one must not make incremental epochs'
    # manifests undercount the corpus
    norms_root = os.path.join(index_dir, "norms")
    shard_labels = {
        d.split("=", 1)[1]
        for d in (fsio.listdir(norms_root) if fsio.isdir(norms_root) else [])
        if d.startswith("shard=")
    }
    covered = {str(m.get("shard")) for m in manifests}
    if manifests and shard_labels <= covered:
        N = sum(m["n"] for m in manifests)
        total = sum(m["sum_dl"] for m in manifests)
    else:
        row = read_norms(spark, index_dir).agg(
            F.count("*").alias("N"), F.sum("dl").alias("total")
        ).collect()[0]
        N, total = row["N"], row["total"]
    old = read_json(os.path.join(index_dir, "stats.json")) or {}
    stats = {
        **old,
        "N": N,
        "avgdl": (total / N) if N else 0.0,
        "total_tokens": total,
        "k1": BM25_K1,
        "b": BM25_B,
    }
    write_json(os.path.join(index_dir, "stats.json"), stats)
    return stats


def refresh_derived(
    spark: SparkSession, index_dir: str, shard_label: str | None = None
) -> dict:
    """Refresh stats.json + the derived term tables.

    With ``shard_label`` (the incremental path): ONLY that shard's partial
    aggregates are (re)written — shard-sized work, replay-idempotent.
    Without it: every postings shard's partials are rebuilt (legacy/full
    recompute, also migrates a flat pre-shard layout)."""
    if shard_label is not None:
        write_shard_terms(spark, index_dir, shard_label)
    else:
        postings_root = os.path.join(index_dir, "postings")
        for d in fsio.listdir(postings_root):
            if d.startswith("shard="):
                write_shard_terms(spark, index_dir, d.split("=", 1)[1])
    stats = refresh_stats(spark, index_dir)
    # n_terms = global distinct vocabulary — lazily merged, vocab-sized
    from project_gutenberg_full_text_search_spark.operators.bm25 import IndexHandle

    stats["n_terms"] = IndexHandle(spark, index_dir, stats).terms().count()
    write_json(os.path.join(index_dir, "stats.json"), stats)
    return stats


def append_docs(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    shard_label: str,
    text_col: str = "content",
    refresh: bool = True,
) -> None:
    """Append one batch of docs as a new postings shard + norms rows."""
    new_docs = ensure_doc_ids(new_docs)
    stats = read_json(os.path.join(index_dir, "stats.json"))
    if stats is None:
        raise FileNotFoundError(f"no base index at {index_dir} — build_index first")
    block_range = stats.get("block_range", 4096)
    norms = build_norms(new_docs, text_col)
    # overwrite into a fixed per-shard path (NOT append to the root): an
    # at-least-once epoch replay rewrites the same shard idempotently.
    # The shard's (n, sum_dl) stats ride the write via Observation and
    # land in a per-shard manifest — global stats become a driver-side
    # sum of manifests instead of a corpus-wide norms re-scan.
    from pyspark.sql import Observation

    n_obs = Observation(f"norms_{shard_label}")
    norms.observe(
        n_obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).write.mode("overwrite").parquet(
        os.path.join(index_dir, "norms", f"shard={shard_label}")
    )
    agg = n_obs.get
    write_json(
        os.path.join(index_dir, "_norms_stats", f"{shard_label}.json"),
        {"shard": shard_label, "n": agg["n"], "sum_dl": int(agg["sum_dl"] or 0)},
    )

    tbucket_expr = tbucket_col()
    tokens = (
        tokenize_docs(new_docs, text_col)
        .withColumn("block_key", block_key_expr(block_range))
        .withColumn("tbucket", tbucket_expr)
    )
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    blocks = (
        tokens.repartition(n_part, "tbucket", "block_key")
        .sortWithinPartitions("tbucket", "term", "block_key", "doc_id")
        .drop("tbucket")
        .mapInPandas(_encode_blocks_gen(stats["avgdl"]), schema=POSTINGS_SCHEMA)
        .withColumn("tbucket", tbucket_expr)
    )
    out = os.path.join(index_dir, "postings", f"shard={shard_label}")
    (
        blocks.sortWithinPartitions("tbucket", "term", "block_key")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(out)
    )
    if refresh:
        refresh_derived(spark, index_dir, shard_label=shard_label)


def stream_refresh(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str = "content",
    available_now: bool = True,
):
    """Structured Streaming refresh loop over a parquet drop directory.

    Each epoch appends a shard named ``inc_<epoch>``; the streaming
    checkpoint gives exactly-once epochs across restarts (the streaming
    analog of the build's _checkpoints manifests).
    """
    stream = spark.readStream.schema(schema).parquet(input_path)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_docs(
            spark, batch_df, index_dir, f"inc_{epoch_id}", text_col=text_col
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "30 seconds"}
    return writer.trigger(**trigger).start()
