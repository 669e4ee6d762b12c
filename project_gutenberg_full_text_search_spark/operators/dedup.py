"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (its corpus is curated and deduped
upstream), these are the ops a 100 TB corpus ingest needs. All hashing is
the cross-engine md5-based 60-bit hash (functions/hashing.py) so every
operator has a bit-identical DuckDB oracle.

Scale notes:
- exact dedup: one hash-groupBy — map-side partial agg, no skew (hashes
  are uniform).
- MinHash/LSH: signatures are computed row-local in one Arrow-batched
  mapInPandas pass (one md5 per unique shingle per batch, k numpy affine
  lanes — no shuffle); the only shuffle is the band-bucket self-join,
  which AQE skew-splits if a bucket is hot. Band count/rows tune the
  recall/precision curve as usual.
- SimHash: row-local batch-vectorized bit algebra, then a prefix-bucket
  join for candidate pairs.
- n-gram Jaccard: exact pairs via an inverted shingle self-join — never
  an all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from project_gutenberg_full_text_search_spark.functions.hashing import md5_long_col
from project_gutenberg_full_text_search_spark.functions.text import tokens_col

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """(content_hash, keep_id = min id, n) per distinct content."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n"))
    )


def exact_dedup(df: DataFrame, text_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """df minus exact duplicates (keeps min-id row per content)."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles_expr(text_col: str, n: int = 3, toks: Column | None = None):
    """Distinct n-token shingles, JVM-side (no UDF).

    Guarded for docs with < n tokens (Spark's sequence(1, 0) counts DOWN,
    it does not return empty).

    Pass ``toks`` as a MATERIALIZED column (``withColumn`` then reference)
    on hot paths: higher-order functions are CodegenFallback and sit
    outside whole-stage codegen's subexpression elimination, so an
    implicit ``tokens_col`` here re-runs the regex tokenizer once per
    SHINGLE (measured 8-10x on the contamination scan; same trap as
    textstats.text_profile)."""
    toks = tokens_col(text_col) if toks is None else toks
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>[k]) — sig[s] = min over shingles of h_s(x).

    h_s(x) = (A_s · md5_long(x) + B_s) mod 2^60 with md5-derived lane
    constants (functions/hashing.py) — seeded, cross-engine reproducible
    in DuckDB via HUGEINT arithmetic. Docs with no shingles get
    sig[s] = NULL (kept, never bucketed).

    Vectorized mapInPandas: ONE md5 per unique shingle in the Arrow batch
    (hash-based pd.factorize dedups across docs — duplicate-heavy corpora
    pay ~nothing), then all k lanes as a single numpy affine broadcast and
    per-doc minimum.reduceat. The former per-(doc × seed × shingle) md5 loop was
    the dominant per-byte cost of the dedup plane at scale; a pure
    higher-order-function formulation is worse still (~50× — nested
    lambdas fall out of whole-stage codegen; measured, not guessed).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from project_gutenberg_full_text_search_spark.functions.hashing import (
        MINHASH_MOD,
        minhash_lane_consts,
    )
    from project_gutenberg_full_text_search_spark.functions.text import tokenize_str

    A, B = minhash_lane_consts(k)
    mask = np.uint64(MINHASH_MOD - 1)

    def gen(batches):
        for pdf in batches:
            # NO per-doc shingle dedup: min over a multiset equals min
            # over its distinct set, so the dict.fromkeys pass the old
            # kernel paid per doc is pure overhead here. pd.factorize
            # (hash-based) replaces the sort-based np.unique, and the
            # per-doc min loop collapses into one minimum.reduceat.
            tok_lists = [tokenize_str(t) for t in pdf[text_col].tolist()]
            n_docs = len(tok_lists)
            sh_counts = np.zeros(n_docs, dtype=np.int64)
            parts: list[list[str]] = []
            for j, toks in enumerate(tok_lists):
                m = len(toks) - shingle_n + 1
                if m <= 0:
                    continue
                sh_counts[j] = m
                parts.append(
                    [" ".join(toks[i : i + shingle_n]) for i in range(m)]
                )
            sigs: list = [[None] * k] * n_docs
            if parts:
                flat = np.asarray(
                    [s for p in parts for s in p], dtype=object
                )
                codes, uniq = pd.factorize(flat)
                hv_u = np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in uniq
                    ),
                    dtype=np.uint64,
                    count=len(uniq),
                )
                with np.errstate(over="ignore"):
                    lanes_u = (hv_u[:, None] * A[None, :] + B[None, :]) & mask
                lanes = lanes_u[codes]  # (n_flat, k), doc-contiguous
                nz = np.nonzero(sh_counts)[0]
                starts = np.concatenate(([0], np.cumsum(sh_counts[nz])[:-1]))
                mins = np.minimum.reduceat(lanes, starts, axis=0).astype(
                    np.int64
                )
                for r, j in enumerate(nz):
                    sigs[j] = mins[r].tolist()
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, sig array<long>"
    )


def lsh_bands(
    sig_df: DataFrame, bands: int = 4, rows: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_id, band_hash): hash of each r-row slice of the signature."""
    out = sig_df.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
        F.col("sig"),
    )
    return out.select(
        id_col,
        "band_id",
        md5_long_col(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), F.col("band_id") * rows + 1, rows),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("band_hash"),
    )


def lsh_candidate_pairs(band_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_a < id_b) sharing ≥1 band bucket."""
    a = band_df.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = band_df.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact shingle Jaccard.

    (id_a, id_b, jaccard) with jaccard ≥ threshold. The verify join is
    against the shingle sets of candidate ids only.
    """
    sigs = minhash_signatures(df, text_col, id_col, k, shingle_n)
    cands = lsh_candidate_pairs(lsh_bands(sigs, bands, rows, id_col), id_col)
    sh = df.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        shingles_expr(text_col, shingle_n, toks=F.col("_toks")).alias("sh"),
    )
    j = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT shingle-Jaccard near-dup pairs without a cartesian product.

    Any pair with jaccard > 0 shares ≥1 shingle, so candidates come from
    an inverted (shingle → doc) self-join; the per-pair match count from
    that join IS |A∩B| (shingle sets are distinct), and
    |A∪B| = |A| + |B| − |A∩B|. Non-overlapping pairs are never
    enumerated — the work is Σ_g df(g)², not N².

    ``max_shingle_df`` is the stop-shingle cap for the skew axis: at
    100 TB the Σ df(g)² term of boilerplate shingles (license headers,
    "all rights reserved") IS the cost center, and AQE skew-splitting
    only spreads that quadratic work, it does not shrink it. With the
    cap set, shingles whose doc-frequency exceeds it are excluded from
    CANDIDATE GENERATION only, and every surviving candidate pair is
    verified with the exact Jaccard over the pair's FULL shingle sets —
    so the cap bounds candidate volume at Σ_{df(g)≤cap} df(g)² while
    reported scores stay exact. Exactness condition: a pair is found iff
    it shares at least one sub-cap shingle; a pair whose entire
    intersection is stop-shingles is (by design) not reported — at the
    cap values that matter (df ≫ typical corpus dup-cluster size) such a
    pair shares only boilerplate, which is exactly the noise the cap
    exists to ignore.
    """
    sh = df.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        shingles_expr(text_col, shingle_n, toks=F.col("_toks")).alias("sh"),
    )
    # explode_outer, NOT explode: for a plain explode of an attribute,
    # InferFiltersFromGenerate adds `size(sh)>0 AND isnotnull(sh)` and
    # PushDownPredicates substitutes the alias chain back to raw text —
    # putting the per-shingle tokenizer lambda inside the pushed filter
    # (measured 20s vs 0.6s on a 5k-doc scan). explode_outer infers no
    # filter; the explicit isNotNull on the GENERATOR OUTPUT stays above
    # the Generate (g does not exist below it) and restores inner-explode
    # row semantics exactly.
    if max_shingle_df is None:
        sized = sh.select(
            F.col(id_col), F.size("sh").alias("n_sh"), F.explode_outer("sh").alias("g")
        ).filter(F.col("g").isNotNull())
        a = sized.select(
            F.col("g"), F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")
        )
        b = sized.select(
            F.col("g"), F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")
        )
        shared = (
            a.join(b, "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(F.count("*").alias("c"))
        )
        return (
            shared.withColumn(
                "jaccard",
                F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # capped path: candidates from sub-cap shingles only, exact verify
    # (explode_outer + isNotNull for the same inferred-filter reason)
    ex = sh.select(F.col(id_col), F.explode_outer("sh").alias("g")).filter(
        F.col("g").isNotNull()
    )
    keep_g = (
        ex.groupBy("g")
        .agg(F.count("*").alias("df_g"))
        .filter(F.col("df_g") <= int(max_shingle_df))
        .select("g")
    )
    kept = ex.join(keep_g, "g")
    cands = (
        kept.select(F.col("g"), F.col(id_col).alias("id_a"))
        .join(kept.select(F.col("g"), F.col(id_col).alias("id_b")), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "content", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """(id, simhash): tf-weighted sign fingerprint over term hashes.

    bit_i = 1 iff sum over terms of tf * (2*bit_i(h(term)) - 1) > 0, with
    h = the cross-engine md5 hash. Vectorized mapInPandas: ONE md5 per
    unique term in the Arrow BATCH (np.unique across docs — corpora share
    most of their vocabulary, so this collapses the former per-doc hash
    loop), then the per-doc weighted bit sums as a single
    numpy add.reduceat over the batch's (term × bits) sign matrix. The
    pure column-algebra formulation re-evaluates the token aggregation
    once per bit -- O(bits * tokens * terms) per row -- pathological on
    wide docs.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from project_gutenberg_full_text_search_spark.functions.text import tokenize_batch

    bit_idx = np.arange(bits, dtype=np.uint64)

    def gen(batches):
        for pdf in batches:
            # Σ_unique-terms tf·sign ≡ Σ_occurrences sign — the tf weights
            # fall out, so NO per-doc np.unique pass is needed at all:
            # factorize the batch's flat token stream (hash-based), hash
            # each unique term once, gather its sign row per occurrence,
            # and add.reduceat at doc boundaries.
            tok_lists = tokenize_batch(pdf[text_col].tolist())
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            out = np.zeros(len(tok_lists), dtype=np.int64)
            if int(lens.sum()):
                all_toks = np.concatenate([t for t in tok_lists if len(t)])
                codes, uniq = pd.factorize(all_toks)
                hs_u = np.fromiter(
                    (int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in uniq),
                    dtype=np.uint64,
                    count=len(uniq),
                )
                signs_u = (((hs_u[:, None] >> bit_idx[None, :]) & 1) * 2).astype(
                    np.int64
                ) - 1
                signs = signs_u[codes]  # (occurrences, bits), doc-contiguous
                nz = np.nonzero(lens)[0]
                starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
                w = np.add.reduceat(signs, starts, axis=0)  # (docs, bits)
                fps = ((w > 0).astype(np.uint64) << bit_idx[None, :]).sum(axis=1)
                out[nz] = fps.astype(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": pd.Series(out, dtype="int64")}
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, simhash long"
    )


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list →
    (doc_id, cluster) where cluster = the smallest doc_id reachable.

    The grouping step of every dedup pipeline: pair lists (minhash / ngram
    / simhash / embedding) are edges; "keep one doc per duplicate GROUP"
    needs the transitive closure, not the pairs. Implemented as min-label
    propagation — per round, every node takes the min label among itself
    and its neighbors; converges in O(graph diameter) rounds (near-dup
    clusters are dense, diameters are tiny). Each round is ONE shuffled
    join + groupBy at cluster-graph scale (pairs, not corpus); the
    convergence check rides the same aggregation via max(changed) — no
    extra comparison join per round. Only nodes that APPEAR IN PAIRS are
    returned (singleton docs need no clustering — see canonical_docs).

    ALWAYS runs to convergence by default (``max_iter=None``) — each
    round is cheap at pair-graph scale, and a silently-unconverged label
    set would let canonical_docs keep several survivors from one group.
    High-diameter graphs (a chain of near-dups) are safe on two counts:
    the label DataFrame is ``localCheckpoint``-ed every few rounds so
    lineage (hence Catalyst analysis time and driver memory) stays O(1)
    in round count, and an explicitly bounded run (``max_iter=N``) that
    exits still-changing RAISES instead of returning wrong labels.
    """
    # diameter ≤ node count, so propagation provably converges within it;
    # this cap only trips on a convergence-check bug, never on data.
    _HARD_CAP = 1_000_000
    _CHECKPOINT_EVERY = 5
    edges = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    )
    sym = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()  # every round joins sym — compute the edge set once
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    labels.count()  # materialize so each round builds on a computed base
    rounds = max_iter if max_iter is not None else _HARD_CAP
    changed = True
    for i in range(rounds):
        neigh = sym.join(
            labels, sym["b"] == labels["id"], "inner"
        ).select(sym["a"].alias("id"), "label")
        proposed = labels.unionByName(neigh)
        new_labels = (
            proposed.groupBy("id")
            .agg(F.min("label").alias("new_label"))
            .join(labels.withColumnRenamed("label", "old_label"), "id")
            .select(
                "id",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("_chg"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            # truncate lineage: without this every round's plan chains
            # onto the last and Catalyst analysis itself becomes the
            # bottleneck on high-diameter graphs
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = new_labels.agg(F.max("_chg")).first()[0]
        labels.unpersist()
        labels = new_labels.drop("_chg")
        if not changed:
            break
    sym.unpersist()
    if changed:
        raise RuntimeError(
            f"neardup_clusters did not converge within max_iter={rounds} "
            "rounds — labels are NOT component minima and canonical_docs "
            "would keep extra survivors; raise max_iter (or pass None to "
            "run to convergence)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """doc ids SURVIVING dedup: for every near-dup cluster keep the
    smallest doc_id; docs in no cluster survive untouched. One broadcast-
    or AQE-sized left join against the cluster table (cluster-graph sized,
    tiny relative to the corpus)."""
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")
    return docs.select(F.col(id_col).alias("doc_id")).join(
        dropped, "doc_id", "left_anti"
    )


# ---------------------------------------------------------------------------
# passage-level exact substring duplication
# ---------------------------------------------------------------------------


def hot_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document EXACT substring duplication at passage granularity.

    Slides a ``window``-word window over every document and returns each
    passage string that occurs in >= ``min_docs`` DISTINCT documents, with
    its document count and total occurrence count — the detection half of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"), which removes repeated boilerplate
    passages that doc-level near-dup (MinHash/SimHash) cannot see.

    Scale shape: the window explosion is row-local column algebra
    (transform over sequence — no UDF); the single shuffle keys on the
    passage string, where Spark's partial (map-side) aggregation collapses
    each partition's repeats before the exchange, so hot passages — the
    very thing being measured — do not create hot shuffle partitions. The
    distinct-doc count rides the same aggregate (two-phase distinct).
    Returns (passage, n_docs, n_occ).
    """
    words = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    n = F.size(words)
    # guard: sequence(1, n-w+1) with n < w would generate a DESCENDING
    # sequence (Spark defaults step to -1 when start > stop), i.e. junk
    # windows — emit no passages for docs shorter than the window
    passages = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(window - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, window)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(passages).alias("passage"))
        .groupBy("passage")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_hot_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """REMOVE cross-document repeated segments from every document.

    Splits each document on ``delim`` (a literal separator: newline for
    line-level boilerplate — license banners, nav headers, generated
    preambles in a source-code corpus; space for corpus-adaptive
    stopword stripping), finds segments occurring in >= ``min_docs``
    distinct documents, and rebuilds each document with those segments
    removed, order preserved. The removal half of repeated-boilerplate
    cleanup (C4/RefinedWeb line dedup; Lee et al. 2022 motivation) that
    `hot_passages` only detects. Empty segments (consecutive delimiters)
    are dropped, i.e. output delimiters are normalized. Emits
    (doc_id, clean_text, n_kept, n_dropped) — one row per input doc,
    docs that lose every segment keep an empty clean_text.

    Scale shape: the frequency groupBy keys on the segment string, where
    map-side partial aggregation collapses each partition's repeats
    before the exchange — hot segments, the very thing being counted,
    do not create hot shuffle partitions. The hot-segment table is then
    DISTINCT segments above the threshold (small — boilerplate by
    definition repeats), so the left-anti join is AQE-broadcast and the
    corpus-side explode never re-shuffles on a skewed key. Rebuild is
    one groupBy(doc_id) — uniform keys. At extreme vocabulary scale,
    join on xxhash64(segment) instead of the string to cut exchange
    bytes; kept as the string here for oracle exactness.
    """
    import re as _re

    segs = F.split(F.col(text_col), _re.escape(delim), -1)
    nonempty = F.filter(segs, lambda x: x != "")
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segs).alias("pos", "seg")
    ).filter(F.col("seg") != "")
    hot = (
        ex.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg")
    )
    kept = ex.join(hot, "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            delim,
        ).alias("clean_text"),
        F.count("*").cast("int").alias("n_kept"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"), F.size(nonempty).alias("_n_segs")
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        (F.col("_n_segs") - F.coalesce("n_kept", F.lit(0)))
        .cast("int")
        .alias("n_dropped"),
    )


def strip_hot_segments_sql(
    table: str,
    delim_sql: str,
    min_docs: int,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of strip_hot_segments (``delim_sql`` is a SQL string
    literal for the delimiter, e.g. ``"' '"`` or ``"chr(10)"``)."""
    return f"""
WITH s AS (
  SELECT {id_expr} AS doc_id,
         list_filter(string_split({text_expr}, {delim_sql}), x -> x <> '') AS segs
  FROM {table}
),
e AS (SELECT doc_id, segs, unnest(range(1, len(segs) + 1)) AS pos FROM s),
e2 AS (SELECT doc_id, pos, segs[pos] AS seg FROM e),
hot AS (SELECT seg FROM e2 GROUP BY seg
        HAVING count(DISTINCT doc_id) >= {min_docs}),
kept AS (SELECT doc_id, pos, seg FROM e2
         WHERE seg NOT IN (SELECT seg FROM hot)),
reb AS (SELECT doc_id,
               string_agg(seg, {delim_sql} ORDER BY pos) AS clean_text,
               count(*)::INT AS n_kept
        FROM kept GROUP BY doc_id)
SELECT s.doc_id AS doc_id,
       coalesce(reb.clean_text, '') AS clean_text,
       coalesce(reb.n_kept, 0)::INT AS n_kept,
       (len(s.segs) - coalesce(reb.n_kept, 0))::INT AS n_dropped
FROM s LEFT JOIN reb USING (doc_id)"""
