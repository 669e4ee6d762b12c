"""Distributed inverted-index build.

The Spark-native replacement for the reference's materialized view + GIN
tsvector family (reference: tables/mv_books_dc.sql:32-431 builds the MV,
461-467 the 7 GIN tsvector indexes, 21-28 the tsvector_agg merge). Instead
of a row-store + index, we build plain columnar tables:

    norms/     (doc_id, repo, path, commit, lang, dl, sha256)
    postings/  (tbucket=P)/(term, block_key, n_docs, doc_ids_bin, tfs_bin,
                dls_bin, pos_bin, max_tf, max_impact, sum_tf)
    terms/     (term, df, cf)      — per-term corpus stats
    stats.json (N, avgdl, total_tokens)
    _checkpoints/shard_K.json      — resume manifests (lineage)
    _metrics/shard_K.json          — docs/sec, postings/sec, bytes

Scale design
------------
* Tokenize+tf+positions run inside ONE ``mapInPandas`` over the docs scan:
  per-doc term counts and position lists need no (doc,term) shuffle at all
  — they are computed partition-locally with numpy (np.unique/argsort), and
  per-doc length ``dl`` is denormalized onto every emitted posting row so
  query-time scoring never joins back to norms.
* The single unavoidable shuffle is the posting merge, keyed on
  ``(term, block_key)`` where ``block_key = doc_id // block_range``. The
  doc-range component IS the salt: a hot term occupying 50% of a 10^12-doc
  corpus spreads over ~10^8 independent reducers instead of one, and the
  per-block outputs are posting segments over disjoint sorted doc-id ranges
  — they concatenate into a full posting list with zero extra work. This
  handles skew structurally rather than via a df-threshold salting pass
  (SURVEY.md §3 "salted shuffle"; same guarantee, one less job).
* Blocks carry ``max_tf``, ``min_dl`` and ``max_impact`` (max BM25
  tf-component) block metadata. No query path reads them since block-max
  pruning was removed (BASELINE.md); champion lists are the top-k pruning.
* Posting parquet is partitioned by ``tbucket = md5_long(term) % 64`` and
  sorted by term within files: a query for T terms prunes to ≤T partitions
  via partition pruning, then to a few row groups via parquet min/max on
  ``term`` — the columnar analog of the GIN access path.
* Shards: the doc space is split into ``n_shards`` hash-slices; each shard
  is an independent Spark job whose output + manifest publish atomically.
  A rerun skips shards whose manifest matches the input fingerprint →
  resumable builds with per-partition lineage (north_rule).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_gutenberg_full_text_search_spark import BM25_B, BM25_K1
from project_gutenberg_full_text_search_spark.functions.text import tokenize_batch
from project_gutenberg_full_text_search_spark.sources import fsio
from project_gutenberg_full_text_search_spark.sources.tables import read_json, write_json

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
        T.StructField("pos_bin", T.BinaryType(), False),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_key", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("doc_ids_bin", T.BinaryType(), False),
        T.StructField("tfs_bin", T.BinaryType(), False),
        T.StructField("dls_bin", T.BinaryType(), False),
        T.StructField("pos_bin", T.BinaryType(), False),
        T.StructField("pos_len_bin", T.BinaryType(), False),
        T.StructField("max_tf", T.LongType(), False),
        T.StructField("min_dl", T.LongType(), False),
        T.StructField("max_impact", T.DoubleType(), False),
        T.StructField("sum_tf", T.LongType(), False),
    ]
)

N_TBUCKETS = 64
DEFAULT_BLOCK_RANGE = 4096
# bumped when the on-disk layout changes (e.g. min_dl column, sharded norms,
# v3: per-shard merge-on-read terms/trigram_terms + _norms_stats manifests);
# stale caches rebuild instead of failing on a missing column.
FORMAT_VERSION = 3


def tbucket_col(term_col="term"):
    """Posting partition bucket: md5_long(term) % N_TBUCKETS — the same
    expression everywhere (build, incremental append, query-side probes)."""
    c = F.col(term_col) if isinstance(term_col, str) else term_col
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long"),
        F.lit(N_TBUCKETS),
    )


def block_key_expr(block_range: int):
    """Integer floor division — NOT float division: doc_ids span the full
    63-bit range (xxhash64-derived) where double rounding above 2^53 could
    misplace boundary docs into the adjacent block."""
    return F.expr(f"doc_id div {int(block_range)}")


def tokenize_docs(docs: DataFrame, text_col: str = "content") -> DataFrame:
    """docs → (doc_id, term, tf, dl, pos_bin) with NO shuffle.

    Vectorized per Arrow BATCH, not per doc: one hash-based
    ``pd.factorize`` over the whole batch's concatenated token stream
    assigns term codes (replacing a sort-based np.unique per doc —
    measured ~3× on the string side), then all (doc, term) groups are
    found with a single int64 stable argsort and every per-term position
    list is delta+varint'd in ONE pass and byte-sliced at group
    boundaries. Per-doc Python work is zero. (Analog of to_tsvector with
    positions, mv_books_dc.sql:183.)

    Row order within a batch is first-occurrence order, not term-sorted —
    irrelevant downstream (the posting merge re-sorts globally), and the
    per-group position bytes are identical to the per-doc formulation
    (stable sort preserves token order = position order within a group).
    """

    from project_gutenberg_full_text_search_spark.functions.codec import (
        delta_encode_grouped,
    )

    empty = pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype="int64"),
            "term": pd.Series([], dtype="object"),
            "tf": pd.Series([], dtype="int64"),
            "dl": pd.Series([], dtype="int64"),
            "pos_bin": pd.Series([], dtype="object"),
        }
    )

    def gen(batches):
        for pdf in batches:
            tok_lists = tokenize_batch(pdf[text_col].tolist())
            doc_ids = pdf["doc_id"].to_numpy()
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if total == 0:
                yield empty
                continue
            all_toks = np.concatenate([t for t in tok_lists if len(t)])
            d_idx = np.repeat(np.arange(len(tok_lists)), lens)
            codes, uniques = pd.factorize(all_toks)
            uniques = np.asarray(uniques, dtype=object)
            key = d_idx * np.int64(len(uniques)) + codes
            order = np.argsort(key, kind="stable")
            sk = key[order]
            change = np.empty(total, dtype=bool)
            change[0] = True
            change[1:] = sk[1:] != sk[:-1]
            starts = np.nonzero(change)[0]
            counts = np.diff(np.concatenate((starts, [total])))
            doc_tok_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos_in_doc = np.arange(total, dtype=np.int64) - doc_tok_starts[d_idx]
            buf, gs, ge = delta_encode_grouped(
                pos_in_doc[order].astype(np.uint64), starts
            )
            g_doc = d_idx[order][starts]
            g_code = codes[order][starts]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids[g_doc], dtype="int64"),
                    "term": pd.Series(uniques[g_code], dtype="object"),
                    "tf": pd.Series(counts, dtype="int64"),
                    "dl": pd.Series(lens[g_doc], dtype="int64"),
                    "pos_bin": pd.Series(
                        [buf[s:e] for s, e in zip(gs.tolist(), ge.tolist())],
                        dtype="object",
                    ),
                }
            )

    cols = docs.select("doc_id", text_col)
    return cols.mapInPandas(gen, schema=TOKENS_SCHEMA)


def _encode_blocks_gen(avgdl: float, k1: float = BM25_K1, b: float = BM25_B):
    """mapInPandas generator factory: sorted (term, block_key, doc_id) rows →
    encoded posting blocks. Stateful across Arrow batches within a
    partition so a group split across batches is carried, never truncated.
    """

    def gen(batches):
        leftover: pd.DataFrame | None = None
        for pdf in batches:
            if leftover is not None and len(leftover):
                pdf = pd.concat([leftover, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            # rows are sorted by (term, block_key, doc_id); hold back the
            # trailing (possibly incomplete) group
            last_term = pdf["term"].iloc[-1]
            last_bk = pdf["block_key"].iloc[-1]
            tail_mask = (pdf["term"] == last_term) & (pdf["block_key"] == last_bk)
            # tail rows are contiguous at the end under the sort order
            n_tail = int(tail_mask.values[::-1].cumprod().sum())
            leftover = pdf.iloc[len(pdf) - n_tail :]
            head = pdf.iloc[: len(pdf) - n_tail]
            if len(head):
                yield _encode_block_frame(head, avgdl, k1, b)
        if leftover is not None and len(leftover):
            yield _encode_block_frame(leftover, avgdl, k1, b)

    return gen


def _encode_block_frame(pdf: pd.DataFrame, avgdl: float, k1: float, b: float) -> pd.DataFrame:
    """Encode one sorted batch into posting blocks — batch-vectorized:
    every varint/delta stream for the whole batch is produced in a single
    numpy pass and then byte-sliced at group boundaries (np.reduceat for
    the per-block stats); the only per-group Python work is slicing."""
    from project_gutenberg_full_text_search_spark.functions.codec import (
        delta_encode_grouped,
        group_byte_ranges,
        varint_encode_with_lengths,
    )

    terms = pdf["term"].to_numpy()
    bks = pdf["block_key"].to_numpy()
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.uint64)
    tfs = pdf["tf"].to_numpy(dtype=np.uint64)
    dls = pdf["dl"].to_numpy(dtype=np.uint64)
    poss = pdf["pos_bin"].to_numpy()
    # group boundaries (input sorted by term, block_key, doc_id)
    change = np.empty(len(pdf), dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (bks[1:] != bks[:-1])
    starts = np.nonzero(change)[0]
    ends = np.concatenate((starts[1:], [len(pdf)]))
    impact = tfs.astype(np.float64) * (k1 + 1.0) / (
        tfs.astype(np.float64)
        + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
    )
    ids_buf, ids_s, ids_e = delta_encode_grouped(doc_ids, starts)
    tf_buf, tf_nb = varint_encode_with_lengths(tfs)
    tf_s, tf_e = group_byte_ranges(tf_nb, starts)
    dl_buf, dl_nb = varint_encode_with_lengths(dls)
    dl_s, dl_e = group_byte_ranges(dl_nb, starts)
    pos_lens = np.fromiter((len(c) for c in poss), dtype=np.uint64, count=len(poss))
    pos_all = b"".join(poss)
    pos_s, pos_e = group_byte_ranges(pos_lens.astype(np.int64), starts)
    pl_buf, pl_nb = varint_encode_with_lengths(pos_lens)
    pl_s, pl_e = group_byte_ranges(pl_nb, starts)
    return pd.DataFrame(
        {
            "term": terms[starts],
            "block_key": bks[starts].astype(np.int64),
            "n_docs": (ends - starts).astype(np.int64),
            "doc_ids_bin": [ids_buf[s:e] for s, e in zip(ids_s.tolist(), ids_e.tolist())],
            "tfs_bin": [tf_buf[s:e] for s, e in zip(tf_s.tolist(), tf_e.tolist())],
            "dls_bin": [dl_buf[s:e] for s, e in zip(dl_s.tolist(), dl_e.tolist())],
            "pos_bin": [pos_all[s:e] for s, e in zip(pos_s.tolist(), pos_e.tolist())],
            "pos_len_bin": [pl_buf[s:e] for s, e in zip(pl_s.tolist(), pl_e.tolist())],
            "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int64),
            # min_dl + max_tf give an avgdl-independent query-time upper
            # bound impact(max_tf, min_dl, avgdl_now) — safe after
            # incremental refresh shifts avgdl (stored max_impact is not).
            "min_dl": np.minimum.reduceat(dls, starts).astype(np.int64),
            "max_impact": np.maximum.reduceat(impact, starts),
            "sum_tf": np.add.reduceat(tfs, starts).astype(np.int64),
        }
    )


def write_shard_terms(
    spark: SparkSession, index_dir: str, shard_label: str
) -> int:
    """Write ONE shard's partial term aggregates + trigram vocabulary —
    ``terms/shard=<label>`` and ``trigram_terms/shard=<label>``, both
    overwrite-idempotent. Work is shard-sized: only
    ``postings/shard=<label>`` is read. Readers merge lazily
    (``IndexHandle.terms``: sum of partials; ``IndexHandle.trigram_terms``:
    distinct edges), so neither a base build nor an incremental epoch ever
    pays a corpus-wide derived-table re-aggregation. Returns the shard's
    term count."""
    from project_gutenberg_full_text_search_spark.functions.text import trigrams_col

    shard_postings = spark.read.parquet(
        os.path.join(index_dir, "postings", f"shard={shard_label}")
    )
    terms = shard_postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf")
    )
    # The vocabulary tables are small relative to postings (a few MB per
    # shard at 50k docs; vocabulary grows sub-linearly in corpus size) but
    # are scanned by EVERY fuzzy/contains query — writing them as one
    # shuffle's worth of tiny files (~60) makes each query pay ~60 tasks
    # of pure overhead per scan. Range-partition into a few term-sorted
    # files instead: scans cost a handful of tasks and per-term probes
    # prune to one file via parquet min/max. Tunable for bigger vocabs.
    n_files = int(os.environ.get("PGFTS_TERMS_PARTITIONS", "4"))
    (
        terms.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "terms", f"shard={shard_label}"))
    )
    terms_df = spark.read.parquet(
        os.path.join(index_dir, "terms", f"shard={shard_label}")
    )
    # the written file's row count IS the shard's distinct-term count —
    # a parquet-metadata-only count job, unlike an Observation above the
    # repartitionByRange, whose range-sampling pass re-executes the child
    # and double-counts (measured 62 for a 31-term vocabulary)
    n_terms_shard = int(terms_df.count())
    tri = (
        terms_df.select("term", "df", trigrams_col("term").alias("trigrams"))
        .withColumn("n_trigrams", F.size("trigrams"))
        .select("term", "df", "n_trigrams", F.explode("trigrams").alias("trigram"))
    )
    (
        tri.repartitionByRange(n_files, "trigram")
        .sortWithinPartitions("trigram")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "trigram_terms", f"shard={shard_label}"))
    )
    return n_terms_shard


def build_norms(docs: DataFrame, text_col: str = "content") -> DataFrame:
    """Per-doc length + metadata + sha256 invariant (BASELINE.json:15).

    Rows keep any provided sha256 in ``sha256_given`` so tests can assert
    the invariant distributedly. Computed in one vectorized mapInPandas
    pass: profiling showed Spark's JVM `split()` on the tokenizer's
    negated-char-class regex costs ~150× more than the Python tokenizer
    and does not parallelize on this host, so the Python path is both the
    faster and the scaling one (sha256 via hashlib, same answer as sha2).
    """
    import hashlib

    import pandas as pd

    from project_gutenberg_full_text_search_spark.functions.text import tokenize_batch

    meta_cols = [c for c in docs.columns if c not in (text_col, "sha256")]
    has_given = "sha256" in docs.columns
    in_cols = meta_cols + [text_col] + (["sha256"] if has_given else [])
    fields = [docs.schema[c] for c in meta_cols]
    out_schema = T.StructType(
        fields
        + [T.StructField("dl", T.LongType(), False), T.StructField("sha256", T.StringType(), False)]
        + ([T.StructField("sha256_given", T.StringType(), True)] if has_given else [])
    )

    def gen(batches):
        for pdf in batches:
            texts = pdf[text_col].tolist()
            out = pdf[meta_cols].copy()
            out["dl"] = pd.Series(
                [len(t) for t in tokenize_batch(texts)], dtype="int64", index=pdf.index
            )
            out["sha256"] = [hashlib.sha256(t.encode()).hexdigest() for t in texts]
            if has_given:
                out["sha256_given"] = pdf["sha256"]
            yield out

    return docs.select(*in_cols).mapInPandas(gen, schema=out_schema)


def read_norms(spark: SparkSession, index_dir: str) -> DataFrame:
    """All norms shards (base + incremental), without the shard column."""
    root = os.path.join(index_dir, "norms")
    return spark.read.option("basePath", root).parquet(root).drop("shard")


def ensure_doc_ids(docs: DataFrame) -> DataFrame:
    """Assign a deterministic 63-bit doc_id when the input has none.

    xxhash64(repo,path,commit) — fully parallel (no global row_number
    bottleneck), deterministic across cluster sizes, collision-negligible.
    """
    if "doc_id" in docs.columns:
        return docs
    # mask, not abs: abs(Long.MIN_VALUE) stays negative in two's complement
    return docs.withColumn(
        "doc_id",
        F.xxhash64("repo", "path", "commit").bitwiseAND(F.lit((1 << 63) - 1)),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    text_col: str = "content",
    block_range: int = DEFAULT_BLOCK_RANGE,
    n_shards: int = 1,
    resume: bool = True,
    with_positions: bool = True,
    input_fingerprint: str | None = None,
    with_champions: bool = True,
) -> dict:
    """Build the full index; returns the stats dict.

    Resumable: each shard publishes output + a `_checkpoints/shard_K.json`
    manifest atomically; reruns skip completed shards whose fingerprint
    matches (analog of REFRESH MATERIALIZED VIEW CONCURRENTLY being
    restart-safe, mv_books_dc.sql:502-514 — ours resumes mid-build).
    """
    t0 = time.time()
    docs = ensure_doc_ids(docs)
    # Scale-adaptive input spread: the heavy per-doc work (Python
    # tokenize, sha256) runs partition-local, so a narrow input scan
    # (e.g. ONE 5 MB parquet file ⇒ one task) serializes the whole build
    # regardless of cores. Only engages when the scan has fewer
    # partitions than the cluster — a real corpus with thousands of
    # splits never pays this exchange (guide §2.5 input skew).
    _par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < _par:
        docs = docs.repartition(_par)
    fingerprint = input_fingerprint or "none"

    # ---- norms + stats (single scan, cheap JVM-only aggregation) ----
    # norms live under norms/shard=<label> so incremental appends are
    # idempotent (a replayed epoch OVERWRITES its own shard instead of
    # appending duplicate rows — see streaming/incremental.py).
    norms_root = os.path.join(index_dir, "norms")
    norms_path = os.path.join(norms_root, "shard=base")
    stats_path = os.path.join(index_dir, "stats.json")
    stats = read_json(stats_path) if resume else None
    derived_stale = False
    if (
        stats is None
        or stats.get("fingerprint") != fingerprint
        or stats.get("format") != FORMAT_VERSION
    ):
        # a rebuild over a stale/foreign layout must clear the old roots
        # first: overwrite only replaces the base shard dirs, so flat
        # pre-shard parquet under norms/ or terms/ would make partition
        # discovery fail ("conflicting directory structures"), and stale
        # incremental shards (shard=inc_*) from the previous fingerprint
        # would double-count into the merged stats/terms views. Only
        # reached on fingerprint/format mismatch — a resumed
        # same-fingerprint build skips this branch, so shard-level resume
        # manifests stay effective.
        for sub in ("norms", "postings", "terms", "trigram_terms", "_norms_stats", "champions"):
            p = os.path.join(index_dir, sub)
            if fsio.isdir(p):
                fsio.rmtree(p)
        # _champions.json is not deleted here: the serve gate matches its
        # fingerprint/N/avgdl against the new stats.json, so a stale meta
        # can never serve; build_champions overwrites it below.
        derived_stale = True
        norms = build_norms(docs, text_col)
        # the corpus stats ride the write (Observation) and land in a
        # per-shard manifest — no post-write re-scan, and incremental
        # epochs later just add their own manifests (streaming/incremental)
        from pyspark.sql import Observation

        n_obs = Observation("norms_base")
        norms.observe(
            n_obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        ).write.mode("overwrite").parquet(norms_path)
        agg = n_obs.get
        n_base, total = agg["n"], int(agg["sum_dl"] or 0)
        write_json(
            os.path.join(index_dir, "_norms_stats", "base.json"),
            {"shard": "base", "n": n_base, "sum_dl": total},
        )
        stats = {
            "N": n_base,
            "avgdl": (total / n_base) if n_base else 0.0,
            "total_tokens": total,
            "k1": BM25_K1,
            "b": BM25_B,
            "block_range": block_range,
            "fingerprint": fingerprint,
            "format": FORMAT_VERSION,
        }
        write_json(stats_path, stats)
    avgdl = stats["avgdl"]

    # ---- postings, shard by shard ----
    built_shards: set[int] = set()
    for shard in range(n_shards):
        ck_path = os.path.join(index_dir, "_checkpoints", f"shard_{shard}.json")
        ck = read_json(ck_path) if resume else None
        if (
            ck is not None
            and ck.get("fingerprint") == fingerprint
            and ck.get("format") == FORMAT_VERSION
        ):
            continue
        built_shards.add(shard)
        ts = time.time()
        shard_docs = (
            docs
            if n_shards == 1
            else docs.filter(F.pmod(F.col("doc_id"), F.lit(n_shards)) == shard)
        )
        tokens = tokenize_docs(shard_docs, text_col)
        tokens = tokens.withColumn(
            "block_key", block_key_expr(block_range)
        ).withColumn("tbucket", tbucket_col())
        # Task count decoupled from core count (override via env): ~2 tasks
        # per core keeps partitions small enough to sort in memory, and a
        # FIXED count across cluster sizes makes strong-scaling comparisons
        # measure parallelism, not partition-size side effects.
        n_part = int(
            os.environ.get(
                "PGFTS_BUILD_PARTITIONS",
                max(2 * spark.sparkContext.defaultParallelism, 8),
            )
        )
        # ONE shuffle keyed (tbucket, block_key): tbucket is a pure function
        # of term, so each (term, block_key) group still lands whole in one
        # partition (encode needs that), while the output is already
        # co-partitioned with the tbucket write layout — no second shuffle
        # before the partitioned write. block_key in the key spreads hot
        # terms (structural salting).
        blocks = (
            tokens.repartition(n_part, "tbucket", "block_key")
            .sortWithinPartitions("tbucket", "term", "block_key", "doc_id")
            .drop("tbucket")
            .mapInPandas(_encode_blocks_gen(avgdl), schema=POSTINGS_SCHEMA)
        )
        if not with_positions:
            blocks = blocks.withColumn("pos_bin", F.lit(b"")).withColumn(
                "pos_len_bin", F.lit(b"")
            )
        blocks = blocks.withColumn("tbucket", tbucket_col())
        out_path = os.path.join(index_dir, "postings", f"shard={shard}")
        # per-shard metrics ride the write job itself (Observation) — no
        # second full scan of the freshly written shard
        from pyspark.sql import Observation

        obs = Observation(f"postings_shard_{shard}")
        (
            blocks.sortWithinPartitions("tbucket", "term", "block_key")
            .observe(
                obs,
                F.count(F.lit(1)).alias("blocks"),
                F.sum("n_docs").alias("postings"),
                F.sum(
                    F.length("doc_ids_bin")
                    + F.length("tfs_bin")
                    + F.length("dls_bin")
                    + F.length("pos_bin")
                ).alias("bytes"),
            )
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(out_path)
        )
        agg = obs.get
        # single-shard builds already know the doc count from the norms
        # aggregation — don't pay another full scan for a metric
        n_docs_shard = stats["N"] if n_shards == 1 else shard_docs.count()
        dt = time.time() - ts
        metrics = {
            "shard": shard,
            "docs": n_docs_shard,
            "blocks": agg["blocks"],
            "postings": agg["postings"],
            "compressed_bytes": int(agg["bytes"] or 0),
            "seconds": round(dt, 3),
            "docs_per_sec": round(n_docs_shard / dt, 1) if dt > 0 else None,
            "postings_per_sec": round((agg["postings"] or 0) / dt, 1) if dt > 0 else None,
        }
        write_json(os.path.join(index_dir, "_metrics", f"shard_{shard}.json"), metrics)
        write_json(
            ck_path,
            {
                "shard": shard,
                "fingerprint": fingerprint,
                "format": FORMAT_VERSION,
                "n_shards": n_shards,
                "block_range": block_range,
                "rows": agg["blocks"],
                "postings": agg["postings"],
                "completed_at": time.time(),
            },
        )

    # ---- derived term tables: per-shard partials (merge-on-read) ----
    # Each postings shard gets its own terms/trigram_terms partial
    # aggregate (GiST/GIN trgm analog, mv_books_dc.sql:472-487);
    # IndexHandle merges lazily. Only shards that were (re)built this run
    # or whose partials are missing are written — a fully-resumed build
    # does no derived work at all.
    terms_root = os.path.join(index_dir, "terms")
    wrote_terms = False
    shard_term_counts: dict[int, int] = {}
    for shard in range(n_shards):
        sd = os.path.join(terms_root, f"shard={shard}")
        if derived_stale or shard in built_shards or not fsio.isdir(sd):
            shard_term_counts[shard] = write_shard_terms(spark, index_dir, str(shard))
            wrote_terms = True
    if wrote_terms or "n_terms" not in stats:
        if n_shards == 1 and 0 in shard_term_counts:
            # single shard ⇒ its term count IS the global distinct count —
            # write_shard_terms already counted the written file's rows,
            # so don't schedule a separate distinct-count job
            stats["n_terms"] = int(shard_term_counts[0])
        else:
            merged = spark.read.option("basePath", terms_root).parquet(terms_root)
            stats["n_terms"] = merged.select("term").distinct().count()

    # ---- champion lists (hot-term top-k fast path) ----
    # rebuilt whenever any postings shard was (re)built this run or the
    # side table is missing/inconsistent; a resumed no-op build skips it.
    # Incremental refreshes do NOT rebuild champions — the serve gate in
    # operators/champions.py compares (N, avgdl) and auto-falls-back
    # until build_champions is re-run.
    if with_champions:
        from project_gutenberg_full_text_search_spark.operators.champions import (
            build_champions,
            CHAMP_FORMAT,
        )

        cmeta = read_json(os.path.join(index_dir, "_champions.json"))
        champs_fresh = (
            cmeta is not None
            and cmeta.get("format") == CHAMP_FORMAT
            and cmeta.get("fingerprint") == fingerprint
            and cmeta.get("N") == stats["N"]
            and cmeta.get("avgdl") == stats["avgdl"]
        )
        if derived_stale or built_shards or not champs_fresh:
            build_champions(spark, index_dir)
    stats["build_seconds"] = round(time.time() - t0, 3)
    write_json(stats_path, stats)
    write_json(
        os.path.join(index_dir, "_metrics", "summary.json"),
        {
            "n_docs": stats["N"],
            "n_terms": stats["n_terms"],
            "build_seconds": stats["build_seconds"],
            # a fully-resumed build legitimately takes ~0s (no work done)
            "docs_per_sec": (
                round(stats["N"] / stats["build_seconds"], 1)
                if stats["build_seconds"] > 0
                else None
            ),
        },
    )
    return stats
