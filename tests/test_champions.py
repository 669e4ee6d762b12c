"""Champion lists: exact-or-fallback hot-term top-k (operators/champions.py).

Every servable shape must be row-identical to the full blockagg path;
every non-servable shape must return None (fallback), never an
approximation — the serve gate and boundary certificate are the tests'
main target.
"""

import os

import pytest

from project_gutenberg_full_text_search_spark.corpus import gen_corpus
from project_gutenberg_full_text_search_spark.operators import champions as CH
from project_gutenberg_full_text_search_spark.operators.bm25 import (
    IndexHandle,
    bm25_topk,
)
from project_gutenberg_full_text_search_spark.operators.build_index import build_index
from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch


@pytest.fixture(scope="module")
def champ_index(spark, tmp_path_factory):
    """800-doc index with a small champion config (C=50, min_df=20) so
    both serve modes AND the fallback boundary are reachable: hot terms
    (df≈800) are incomplete, mid terms (20≤df≤50) are complete."""
    d = str(tmp_path_factory.mktemp("champ") / "idx")
    build_index(
        spark,
        gen_corpus(spark, 800, seed=7),
        d,
        n_shards=2,
        input_fingerprint="champ-v1",
        with_champions=False,
    )
    CH.build_champions(spark, d, C=50, min_df=20)
    return IndexHandle.open(spark, d)


def rows(df):
    return [(r.doc_id, r.score) for r in df.collect()]


def test_champion_table_shape(champ_index):
    h = champ_index
    meta = CH.champions_meta(h)
    assert meta is not None and meta["C"] == 50 and meta["min_df"] == 20
    champ = h._scan("champions")
    counts = {
        r.term: r.n
        for r in champ.groupBy("term").count().withColumnRenamed("count", "n").collect()
    }
    dfs = h.terms().collect()
    df_map = {r.term: r.df for r in dfs}
    for t, n in counts.items():
        assert df_map[t] >= 20  # only heavy terms stored
        assert n == min(df_map[t], 50)  # complete below C, capped at C


def test_complete_mode_serves_exactly(champ_index):
    """Terms with min_df ≤ df ≤ C: champion list == full posting list →
    AND/OR/NOT boolean queries serve exactly from the side table."""
    h = champ_index
    df_map = {r.term: r.df for r in h.terms().collect()}
    complete = sorted(t for t, d in df_map.items() if 20 <= d <= 50)
    assert len(complete) >= 2, "corpus must yield complete-range terms"
    t1, t2 = complete[0], complete[1]
    for q in (t1, f"{t1} {t2}", f"{t1} or {t2}", f"{t1} -{t2}"):
        pq = parse_websearch(q)
        served = CH.champion_topk(h, pq, k=10)
        assert served is not None, q
        assert rows(served) == rows(bm25_topk(h, q, k=10, champions=False)), q


def test_complete_mode_serves_wide_or(champ_index):
    """A complete-list OR wider than an int64 clause bitmask (63+ terms,
    plus a negation) still serves, row-identical to the full path."""
    h = champ_index
    df_map = {r.term: r.df for r in h.terms().collect()}
    complete = sorted(t for t, d in df_map.items() if 20 <= d <= 50 and t != "or")
    assert len(complete) >= 64, "corpus must yield 64 complete-range terms"
    wide = " or ".join(complete[:63])
    for q in (wide, f"{wide} -{complete[63]}"):
        served = CH.champion_topk(h, parse_websearch(q), k=10)
        assert served is not None, q
        assert rows(served) == rows(bm25_topk(h, q, k=10, champions=False)), q


def test_hot_term_serves_exactly(champ_index):
    """df > C single term — the headline case: champion selection runs in
    the serve ordering (round(score,4) desc, doc_id asc), so the list IS
    the full path's first C result rows and top-k ≤ C serves exactly even
    on this flat-score corpus shape, where thousands of docs round-tie
    and the winners are decided purely by doc_id (a raw-impact-ordered
    list would be wrong here, and a certificate-gated one would refuse)."""
    h = champ_index
    df_map = {r.term: r.df for r in h.terms().collect()}
    hot = [t for t, d in sorted(df_map.items()) if d > 50][:3]
    assert hot, "need hot (df > C) terms"
    for t in hot:
        served = CH.champion_topk(h, parse_websearch(t), k=5)
        assert served is not None, t
        assert rows(served) == rows(bm25_topk(h, t, k=5, champions=False)), t
        # deeper page, still within C
        s2 = CH.champion_topk(h, parse_websearch(t), k=10, offset=30)
        assert s2 is not None
        assert rows(s2) == rows(
            bm25_topk(h, t, k=10, offset=30, champions=False)
        ), t


def test_incomplete_multi_term_never_serves(champ_index):
    """Hot AND/OR (any term with df > C): champion rows cannot produce
    exact cross-term scores — must fall back, never approximate."""
    h = champ_index
    for q in ("index query", "index or query", "merge -index"):
        assert CH.champion_topk(h, parse_websearch(q), k=5) is None, q


def test_hot_with_complete_negation_serves_exactly(champ_index):
    """Single hot positive term + negations whose lists are COMPLETE:
    removing ≤ Σdf_neg docs from the positive top-C cannot pull rank > C
    rows into the top-K when K + Σdf_neg ≤ C, so serving stays exact."""
    h = champ_index
    df_map = {r.term: r.df for r in h.terms().collect()}
    hot = max(df_map, key=df_map.get)
    negs = sorted(t for t, d in df_map.items() if 20 <= d <= 40 and t != hot)
    assert negs, "need a complete-band negation term"
    q = f"{hot} -{negs[0]}"
    served = CH.champion_topk(h, parse_websearch(q), k=5)
    assert served is not None, q
    assert rows(served) == rows(bm25_topk(h, q, k=5, champions=False)), q


def test_hot_negation_overflow_falls_back(champ_index):
    """K + Σdf_neg > C: the removals could eat past the boundary
    certificate — must fall back, never approximate."""
    h = champ_index
    df_map = {r.term: r.df for r in h.terms().collect()}
    hot = max(df_map, key=df_map.get)
    negs = sorted(
        (t for t, d in df_map.items() if 20 <= d <= 50 and t != hot),
        key=lambda t: -df_map[t],
    )
    assert negs
    # k chosen so k + df_neg exceeds C=50
    k = 50 - df_map[negs[0]] + 1
    assert CH.champion_topk(h, parse_websearch(f"{hot} -{negs[0]}"), k=k) is None


def test_phrase_and_overflow_never_serve(champ_index):
    h = champ_index
    assert CH.champion_topk(h, parse_websearch('"table scan"'), k=5) is None
    df_map = {r.term: r.df for r in h.terms().collect()}
    hot = max(df_map, key=df_map.get)
    # k+offset beyond C on an incomplete list
    assert CH.champion_topk(h, parse_websearch(hot), k=40, offset=20) is None


def test_stale_stats_gate(champ_index, spark):
    """After stats drift (incremental refresh analog) champions must not
    serve — N/avgdl/fingerprint mismatch closes the gate."""
    h2 = IndexHandle.open(spark, champ_index.index_dir)
    h2.stats = dict(h2.stats, avgdl=h2.stats["avgdl"] + 1.0)
    assert CH.champions_meta(h2) is None
    assert CH.champion_topk(h2, parse_websearch("merge"), k=5) is None


def test_auto_engage_in_bm25_topk(champ_index):
    """bm25_topk(champions=None) auto-serves a servable query: the plan
    bottoms out in a local relation (collected champion rows), not a
    posting-decode mapInPandas; champions=False forces the full path;
    both return identical rows."""
    h = champ_index
    df_map = {r.term: r.df for r in h.terms().collect()}
    t = sorted(tt for tt, d in df_map.items() if 20 <= d <= 50)[0]
    auto = bm25_topk(h, t, k=10)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan
    assert rows(auto) == rows(bm25_topk(h, t, k=10, champions=False))


def test_build_index_builds_champions_by_default(spark, tmp_path):
    d = str(tmp_path / "idx_auto")
    build_index(
        spark,
        gen_corpus(spark, 120, seed=3),
        d,
        input_fingerprint="auto-v1",
    )
    assert os.path.exists(os.path.join(d, "_champions.json"))
    # tiny corpus: no term reaches the default min_df → empty-but-valid
    h = IndexHandle.open(spark, d)
    assert CH.champions_meta(h) is not None


def test_static_prune_matches_join_fallback(champ_index, monkeypatch):
    """The heavy-term literal prune on the build's postings scans is a
    pure superset prefilter: forcing the join-only fallback (cap = 0)
    must rebuild a row-identical champion table."""
    h = champ_index
    spark = h.spark

    def table():
        return sorted(
            (r.term, r.doc_id, r.score)
            for r in h._scan("champions")
            .select("term", "doc_id", "score")
            .collect()
        )

    pruned = table()  # fixture built with the static-prune path
    monkeypatch.setattr(CH, "_MAX_STATIC_TERMS", 0)
    try:
        CH.build_champions(spark, h.index_dir, C=50, min_df=20)
        h._scan_cache.pop("champions", None)
        assert table() == pruned
    finally:
        # restore the fixture's statically-pruned table for later module
        # tests, also when the rebuild or the assert failed
        monkeypatch.undo()
        CH.build_champions(spark, h.index_dir, C=50, min_df=20)
        h._scan_cache.pop("champions", None)
