"""Per-term static champion lists: exact top-k for hot terms without
decoding their full posting lists.

The measured-win replacement for block-max pruning (which lost
structurally on uniform per-block impact corpora and was removed — see
the round-4 study in BASELINE.md): a hot single-term
top-20 otherwise decodes millions of postings to keep 20 rows. The
classic champion-list fix (Manning/Raghavan/Schütze IIR §7.1.3) works
without *block-level* impact skew because it selects a GLOBAL top-C per
term (reference analog: the GIN index's fast-scan role,
mv_books_dc.sql:461-467 — a per-term accelerator next to the base data).

**Selection happens in the SERVE ordering, which is what makes serving
unconditionally exact.** ``bm25_topk`` ranks by ``(round(score, 4) desc,
doc_id asc)`` — a TOTAL order (doc_id is unique). The champion list for a
term is the first ``C`` rows of the full path's final ordering for that
term's single-term query, with the build-time score stored (computed with
``bm25.term_scores``, the expression the scoring path uses). Serving
``k+offset ≤ C`` is then literally "return the list's first k+offset
rows re-ranked by the same tail" — no approximation, no tie hazard at the
boundary, even on corpora whose hot-term scores are completely flat after
rounding (textbook impact-ordered lists break exactness there: thousands
of docs round-tie and the winners are decided by doc_id, which a raw-
impact top-C may have dropped; measured on this corpus shape at 50k docs,
where every hot term's top-8192 raw scores sit within one rounding ulp).

Textbook champion lists also serve hot-term OR queries *approximately*;
we deliberately do not: a doc in champ(A) but outside champ(B) may still
contain B, so its OR score computed from champion rows alone is silently
too low — per-term champion data cannot produce exact multi-hot-term
scores, and the blockagg path (exact block-range intersection, one
vectorized pass) is the correct plan there. Two servable shapes instead:

* **single-term top-k** (the hot-term case): exact for ``k+offset ≤ C``
  as above, any df.
* **complete-list boolean queries**: every query term (positive and
  negated) either has ``df ≤ C`` — its champion list is its ENTIRE
  posting list — or is absent from the index. AND/OR/NOT then evaluate
  exactly over champion rows alone. Phrases never serve (no positions
  stored).

Scale: the side table holds ``Σ_t min(df_t, C)`` rows over terms with
``df ≥ min_df`` — bounded by (#heavy terms)·C regardless of corpus size
(defaults: C=8192, min_df=2048 → a ~30 GB side table for a 10^7-term
100 TB corpus, read via tbucket partition pruning + term min/max).
Selection is a three-level tournament (per-Arrow-batch numpy top-C →
top-C per (term, salt) → top-C per term), so no reducer ever sees more
than ``SALT·C`` rows per term, however hot the term. The numpy preselect
orders by a vectorized half-up round whose only divergence from Spark's
``F.round`` (exact-BigDecimal half-up) can occur within ~1e-12 of a
0.00005 grid boundary — rows inside that hazard band bypass the preselect
entirely and are adjudicated by the Spark windows, which ARE the serve
truth, so the final list is exact regardless. Champion serving is ONE
partition-pruned scan job collecting ≤ C·|terms| side-table rows, then a
local-relation tail identical to ``bm25_topk``'s round/sort/limit.

Staleness: ``_champions.json`` records (N, avgdl, k1, b, fingerprint) at
build; ``champion_topk`` serves only when they equal the live stats.json,
so an incremental refresh (which shifts N/avgdl) auto-disables champions
until ``build_champions`` is re-run — exactness never depends on the
refresh pipeline remembering a side table.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from project_gutenberg_full_text_search_spark import BM25_B, BM25_K1
from project_gutenberg_full_text_search_spark.plans.parser import ParsedQuery
from project_gutenberg_full_text_search_spark.sources.tables import (
    read_json,
    write_json,
)

CHAMP_C = 8192
CHAMP_MIN_DF = 2048
CHAMP_FORMAT = 2
ROUND_DIGITS = 4
# tournament fan-in per term at the middle level; bounds every reducer at
# SALT·C rows per term no matter how hot the term is
CHAMP_SALT = 64
# driver-side collect cap for complete-mode multi-term queries
_MAX_COLLECT_ROWS = 200_000
# build-side cap on the heavy-term literal used for static scan pruning;
# past it the build falls back to the join-only (unpruned) postings scan
_MAX_STATIC_TERMS = 32_768

# (term, doc_id, score) — serving reads exactly these three; tf/dl were
# stored-but-never-read and cost 16 bytes/row across the side table's
# shuffle + sort + write (Σ_t min(df_t, C) rows — measured 8.2M on a
# 32k-doc/19k-term corpus)
CHAMP_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _np_round_half_up(x: np.ndarray) -> np.ndarray:
    """Vectorized half-up round to ROUND_DIGITS (positive inputs)."""
    return np.floor(x * 1e4 + 0.5) / 1e4


def _np_round_hazard(x: np.ndarray) -> np.ndarray:
    """Rows where the float product sits within 1e-9 of the .5 rounding
    boundary — the only place the vectorized round can disagree with
    Spark's exact-BigDecimal F.round. These bypass the numpy preselect."""
    y = x * 1e4
    return np.abs(y - np.floor(y) - 0.5) < 1e-9


def build_champions(
    spark: SparkSession,
    index_dir: str,
    C: int = CHAMP_C,
    min_df: int = CHAMP_MIN_DF,
) -> dict:
    """Build champions/ + _champions.json for an existing index.

    One pass over the heavy terms' posting blocks (decode + per-batch
    numpy top-C in serve order), then the salt/term tournament windows
    ordered by the serve truth ``(F.round(score, 4) desc, doc_id asc)``.
    Idempotent: overwrites the previous champion table.
    """
    from project_gutenberg_full_text_search_spark.functions.codec import (
        delta_decode,
        varint_decode,
    )
    from project_gutenberg_full_text_search_spark.operators.bm25 import (
        IndexHandle,
        idf,
        term_scores,
    )
    from project_gutenberg_full_text_search_spark.operators.build_index import (
        tbucket_col,
    )

    handle = IndexHandle.open(spark, index_dir)
    stats = handle.stats
    N = stats["N"]
    avgdl = float(stats["avgdl"])
    k1 = float(stats.get("k1", BM25_K1))
    b = float(stats.get("b", BM25_B))

    # df rides the broadcast join and idf is computed INSIDE the decode
    # pass with the very same Python `idf()` the serve path uses — no
    # Python-UDF plan node (the old row-at-a-time F.udf forced a worker
    # round-trip into this JVM build stage — VERDICT r5 #4), and no JVM
    # F.log either: Math.log is only 1-ulp-accurate, while stored
    # champion scores must be BIT-identical to the blockagg kernel's
    # (math.log) for serve-order exactness.
    heavy = (
        handle.terms()
        .filter(F.col("df") >= int(min_df))
        .select("term", "df")
    )

    # Static scan pruning (guide §6): the heavy-term set is usually tiny
    # (hundreds of terms) while an unfiltered postings scan reads every
    # block's binary columns twice (once per path below). When the set
    # fits a driver literal (≤ _MAX_STATIC_TERMS tiny rows, one small
    # job over the terms table), each path's scan becomes the serve
    # paths' own pruned scan (blocks_for: tbucket isin + term isin) — an
    # EXACT term filter, so the broadcast join that only existed to
    # restrict the scan and carry df disappears entirely (df rides the
    # decode closure instead: ≤ cap tiny dict entries, same idf() calls,
    # bit-identical scores). Measured on a 50k-doc index: hot-path scan
    # 0.75 → 0.46 s, complete 0.58 → 0.49, plus two broadcast exchanges
    # and their materialization jobs gone. Past the cap (unbounded
    # identifier vocabularies at corpus scale) fall back to the
    # broadcast-join scan: isin-literal plans over huge term sets are a
    # driver OOM, exactly as decode_for documents.
    heavy_lit = heavy.limit(_MAX_STATIC_TERMS + 1).collect()
    if len(heavy_lit) > _MAX_STATIC_TERMS:
        heavy_lit = None

    _BLOCK_COLS = ("term", "doc_ids_bin", "tfs_bin", "dls_bin")

    def _heavy_blocks(df_map, keep):
        """One path's posting blocks: the pruned scan of ``df_map``'s
        terms, or — past the literal cap — the broadcast join against the
        heavy terms whose df satisfies ``keep``."""
        if df_map is not None:
            return handle.blocks_for(sorted(df_map)).select(*_BLOCK_COLS)
        return (
            handle.postings()
            .join(F.broadcast(heavy.filter(keep)), "term")
            .select("df", *_BLOCK_COLS)
        )

    def make_gen(df_map=None):
        def gen(batches):
            for pdf in batches:
                by_term: dict[str, list] = {}
                term_idf: dict[str, float] = {}
                for r in pdf.itertuples(index=False):
                    ids = delta_decode(r.doc_ids_bin).astype(np.int64)
                    tfs = varint_decode(r.tfs_bin).astype(np.int64)
                    dls = varint_decode(r.dls_bin).astype(np.int64)
                    by_term.setdefault(r.term, []).append((ids, tfs, dls))
                    df_t = df_map[r.term] if df_map is not None else int(r.df)
                    term_idf[r.term] = idf(N, df_t)
                yield from _compete(by_term, term_idf)
        return gen

    def _compete(by_term, term_idf):
        o_terms, o_ids, o_scores = [], [], []
        for term, parts in by_term.items():
            ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
            # the scoring path's own expression → same doubles → same
            # rounded ranks at serve
            score = term_scores(
                term_idf[term],
                tfs.astype(np.float64),
                dls.astype(np.float64),
                avgdl,
                k1,
                b,
            )
            if len(ids) > C:
                # hazard rows bypass the numpy competition entirely
                # (emitted unconditionally, adjudicated by the Spark
                # windows): were they ranked here, a numpy/Spark
                # rounding disagreement could let one displace a
                # legitimate top-C row from its preselect slot
                hz = _np_round_hazard(score)
                safe = np.nonzero(~hz)[0]
                r4 = _np_round_half_up(score[safe])
                keep = safe[np.lexsort((ids[safe], -r4))[:C]]
                hazard = np.nonzero(hz)[0]
                order = (
                    np.concatenate([keep, hazard]) if len(hazard) else keep
                )
            else:
                order = np.arange(len(ids))
            o_terms.append(np.repeat(np.asarray(term, dtype=object), len(order)))
            o_ids.append(ids[order])
            o_scores.append(score[order])
        if o_ids:
            # ONE frame per batch: a pandas frame per term plus a
            # concat costs ~0.5 ms × |terms| per batch
            yield pd.DataFrame(
                {
                    "term": np.concatenate(o_terms),
                    "doc_id": np.concatenate(o_ids),
                    "score": np.concatenate(o_scores),
                }
            )

    # COMPLETE-LIST terms (min_df ≤ df ≤ C) need no tournament at all:
    # their champion list is their ENTIRE posting list (the per-batch
    # preselect passes everything through when len ≤ C, and the windows
    # would filter nothing) — serving re-sorts collected rows, so stored
    # row order is irrelevant, only the row SET matters. Routing them
    # around the windows cuts the tournament sort from Σ_heavy min(df, C)
    # rows to (#terms with df > C)·C rows — measured 12.9 s → ~4 s on a
    # 32k-doc/19k-term corpus where 97% of heavy terms are complete
    # (OPTIMIZATION_r06.md §J; this was the worst-scaling slice of the
    # scaling-phase build). Only genuinely hot terms (df > C) pay the
    # salt/term tournament.
    comp_map = (
        None if heavy_lit is None
        else {r["term"]: int(r["df"]) for r in heavy_lit if r["df"] <= int(C)}
    )
    hot_map = (
        None if heavy_lit is None
        else {r["term"]: int(r["df"]) for r in heavy_lit if r["df"] > int(C)}
    )
    complete = _heavy_blocks(comp_map, F.col("df") <= int(C)).mapInPandas(
        make_gen(comp_map), schema=CHAMP_SCHEMA
    )
    cand = _heavy_blocks(hot_map, F.col("df") > int(C)).mapInPandas(
        make_gen(hot_map), schema=CHAMP_SCHEMA
    )
    # tournament in the SERVE ordering: (rounded score desc, doc_id asc)
    # — F.round here is the same function the serve tail applies, so the
    # surviving C rows are exactly the full path's first C result rows
    rkey = F.round(F.col("score"), ROUND_DIGITS)
    w1 = Window.partitionBy("term", "salt").orderBy(rkey.desc(), F.asc("doc_id"))
    semi = (
        cand.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(CHAMP_SALT)))
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= C)
        .select("term", "doc_id", "score")
    )
    # The final term-level top-C rides the WRITE exchange instead of its
    # own: hash-partitioning by tbucket alone already clusters
    # (tbucket, term) — tbucket is a function of term — so the window
    # below reuses that single Exchange (verified: one Exchange + one
    # Sort + WindowGroupLimit in the plan), and its sort order
    # (tbucket, term, rkey desc, doc_id) is a superset of the write's
    # old (tbucket, term) sortWithinPartitions, keeping the row-group
    # term min/max pruning the serve probes rely on. Complete-list rows
    # pass rn <= C trivially (df <= C rows per term), so routing them
    # through the same window filters nothing — their sort cost was
    # already paid by the old write-side sortWithinPartitions. Net: one
    # whole shuffle (the old term-level Window exchange) removed from
    # the build. Row-set identity with the two-window form: same groups
    # (tbucket adds no splits within a term), same ordering, same C.
    wf = Window.partitionBy("tbucket", "term").orderBy(rkey.desc(), F.asc("doc_id"))
    champs = (
        complete.unionByName(semi)
        .withColumn("tbucket", tbucket_col())
        .repartition("tbucket")
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= C)
        .select("term", "doc_id", "score", "tbucket")
    )
    out_path = os.path.join(index_dir, "champions")
    champs.write.mode("overwrite").partitionBy("tbucket").parquet(out_path)
    meta = {
        "C": int(C),
        "min_df": int(min_df),
        "N": N,
        "avgdl": stats["avgdl"],
        "k1": k1,
        "b": b,
        "round_digits": ROUND_DIGITS,
        "fingerprint": stats.get("fingerprint"),
        "format": CHAMP_FORMAT,
    }
    write_json(os.path.join(index_dir, "_champions.json"), meta)
    # the handle this build used cached scans of the OLD champion table
    handle._scan_cache.pop("champions", None)
    return meta


def champions_meta(handle) -> dict | None:
    """_champions.json iff present AND consistent with the live stats —
    a refresh/rebuild that shifted N/avgdl/fingerprint auto-disables
    serving (memoized)."""
    meta = getattr(handle, "_champions_meta", "unset")
    if meta == "unset":
        meta = read_json(os.path.join(handle.index_dir, "_champions.json"))
        handle._champions_meta = meta
    if meta is None or meta.get("format") != CHAMP_FORMAT:
        return None
    s = handle.stats
    if (
        meta.get("N") != s.get("N")
        or meta.get("avgdl") != s.get("avgdl")
        or meta.get("fingerprint") != s.get("fingerprint")
        or meta.get("k1", BM25_K1) != s.get("k1", BM25_K1)
        or meta.get("b", BM25_B) != s.get("b", BM25_B)
    ):
        return None
    return meta


def _champion_rows(handle, terms: list[str]) -> pd.DataFrame:
    """Collect the query terms' champion rows: ONE partition-pruned scan
    job over the small side table (≤ C rows per term by construction)."""
    from project_gutenberg_full_text_search_spark.functions.hashing import md5_long_py
    from project_gutenberg_full_text_search_spark.operators.build_index import (
        N_TBUCKETS,
    )

    buckets = sorted({md5_long_py(t) % N_TBUCKETS for t in terms})
    return (
        handle._scan("champions")
        .filter(F.col("tbucket").isin(buckets) & F.col("term").isin(terms))
        .select("term", "doc_id", "score")
        .toPandas()
    )


def champion_topk(
    handle,
    pq: ParsedQuery,
    k: int,
    offset: int = 0,
    round_digits: int = ROUND_DIGITS,
) -> DataFrame | None:
    """Exact top-k from champion lists, or None when no exact champion
    plan exists (caller falls back). See module docstring for the two
    servable shapes; exactness is structural (serve-order selection /
    complete lists), never probabilistic."""
    from project_gutenberg_full_text_search_spark.operators.bm25 import (
        _rank_limit,
        match_kernel,
        no_matches,
    )

    meta = champions_meta(handle)
    if meta is None or round_digits != meta.get("round_digits", ROUND_DIGITS):
        return None
    if any(c.kind == "phrase" for c in pq.clauses):
        return None
    K = k + offset
    C, min_df = meta["C"], meta["min_df"]
    terms = pq.positive_terms
    if not terms:
        return None
    all_terms = sorted(set(terms) | set(pq.neg_terms))
    dfs = handle.term_stats(all_terms)  # memoized; absent terms drop out
    present_pos = [t for t in terms if dfs.get(t)]
    present_neg = [t for t in pq.neg_terms if dfs.get(t)]
    if not present_pos:
        return no_matches(handle.spark)

    single = (
        len(pq.clauses) == 1
        and pq.clauses[0].kind == "term"
        and len(present_pos) == 1
    )
    complete = all(min_df <= dfs[t] <= C for t in present_pos + present_neg)
    neg_complete = all(min_df <= dfs[t] <= C for t in present_neg)
    if single and not complete:
        # Single positive term, any df ≥ min_df, possibly with negations.
        # Exact iff every negated term's list is COMPLETE (we see all its
        # docs) and K + Σdf_neg ≤ C: removing at most Σdf_neg docs from
        # the positive term's top-C cannot pull rank > C rows into the
        # top-K, so the boundary certificate survives the negation.
        t = present_pos[0]
        if (
            dfs[t] < min_df
            or not neg_complete
            or K + sum(dfs[n] for n in present_neg) > C
        ):
            return None
    elif not complete:
        return None
    if sum(min(dfs[t], C) for t in present_pos + present_neg) > _MAX_COLLECT_ROWS:
        return None

    rows = _champion_rows(handle, present_pos + present_neg)
    # a complete term must carry all df rows, a capped term exactly C —
    # anything else is an inconsistent side table: never serve from it
    counts = rows.groupby("term").size() if len(rows) else pd.Series(dtype=int)
    for t in present_pos + present_neg:
        if int(counts.get(t, 0)) != min(dfs[t], C):
            return None

    # stored per-(doc, term) scores through the scoring path's kernel:
    # same sorted term order → same per-doc sums (summation order is part
    # of float determinism); negated-only terms only mask
    order_terms = sorted(set(present_pos) | set(present_neg))
    term_idx = {t: i for i, t in enumerate(order_terms)}
    clauses = []
    for c in pq.clauses:
        cols = [term_idx[t] for t in c.terms if t in term_idx]
        if not cols:
            return no_matches(handle.spark)
        clauses.append(cols)
    ti_all = rows["term"].map(term_idx).to_numpy(np.int64)
    pos_set = set(present_pos)
    is_pos = np.array([t in pos_set for t in order_terms], dtype=bool)
    contrib = np.where(is_pos[ti_all], rows["score"].to_numpy(np.float64), 0.0)
    uniq, scores, ok = match_kernel(
        rows["doc_id"].to_numpy(np.int64),
        ti_all,
        contrib,
        len(order_terms),
        clauses,
        [term_idx[t] for t in present_neg],
    )

    out = pd.DataFrame({"doc_id": uniq[ok], "score": scores[ok]})
    sdf = handle.spark.createDataFrame(out, schema="doc_id bigint, score double")
    return _rank_limit(sdf, k, offset, round_digits)
