"""Rank-identity tests: distributed BM25 vs brute-force oracle.

The query matrix mirrors the reference smoke harness
(/root/reference/search/test.py:49-113): single term, AND, OR, NOT,
phrase, hot term, rare term, absent term, counts, pagination.
"""

import pandas as pd
import pytest

from project_gutenberg_full_text_search_spark.operators.bm25 import (
    IndexHandle,
    bm25_count,
    bm25_topk,
)

QUERIES = [
    "index",                      # hot single term
    "query merge",                # AND
    "index or query",             # OR
    "index -cache",               # NOT
    "uniq_5_0",                   # rare unique term
    "token block score",          # 3-way AND
    "merge or uniq_7_0",          # OR with rare
    '"merge sorted posting lists"',   # planted phrase
    '"block max wand"',           # phrase prefix of planted
    "zzz_not_in_corpus or index", # absent term in OR
    "def return",                 # lang keywords
]


@pytest.fixture(scope="module")
def handle(spark, index_dir):
    return IndexHandle.open(spark, index_dir)


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity(handle, oracle, q):
    k = 25
    got = bm25_topk(handle, q, k=k).toPandas()
    exp = oracle.search(q, k=k)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist(), f"docs differ for {q!r}"
    assert got["score"].tolist() == pytest.approx(exp["score"].tolist(), abs=1e-4)


@pytest.mark.parametrize("q", ["index", "query merge", "index -cache", '"merge sorted posting lists"'])
def test_count_matches_oracle(handle, oracle, q):
    assert bm25_count(handle, q) == oracle.count(q)


def test_absent_term_empty(handle):
    assert bm25_topk(handle, "zzz_not_in_corpus", k=10).count() == 0


def test_pagination_slices_consistently(handle, oracle):
    q = "index merge"
    full = bm25_topk(handle, q, k=30).toPandas()
    page2 = bm25_topk(handle, q, k=10, offset=10).toPandas()
    assert page2["doc_id"].tolist() == full["doc_id"].tolist()[10:20]


def test_determinism_across_runs(handle):
    q = "index or query"
    a = bm25_topk(handle, q, k=20).toPandas()
    b = bm25_topk(handle, q, k=20).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_postings_scan_partition_pruned_and_pushed(handle):
    """The GIN-analog access path must survive in the physical plan: the
    postings scan prunes to the query terms' tbucket PARTITIONS
    (PartitionFilters) and pushes the term membership filter into the
    parquet reader (PushedFilters → row-group min/max on the term-sorted
    files). A plan that reads all partitions for a 2-term query has lost
    the index."""
    from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch

    from project_gutenberg_full_text_search_spark.operators.bm25 import (
        bm25_candidates,
    )

    plan = (
        bm25_candidates(handle, parse_websearch("merge query"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    i = plan.find("PartitionFilters: [")
    assert i >= 0, "postings scan lost its partition filter"
    pf = plan[i : plan.index("]", i) + 1]
    assert "tbucket" in pf and " IN " in pf, pf
    j = plan.find("PushedFilters: [")
    assert j >= 0
    pushed = plan[j : plan.index("]", j) + 1]
    assert "In(term" in pushed, pushed


def _wide_or_queries(oracle, width=64):
    """An OR over ``width`` distinct corpus terms (every n-th of the sorted
    vocabulary, so hot and rare terms mix), and the same OR with the most
    frequent remaining vocabulary term negated."""
    vocab = sorted(t for t in oracle.df if t != "or")
    terms = vocab[:: len(vocab) // width][:width]
    neg = max((t for t in vocab if t not in terms), key=lambda t: (oracle.df[t], t))
    wide = " or ".join(terms)
    return wide, f"{wide} -{neg}"


def test_wide_or_beyond_62_terms(handle, oracle):
    """More distinct terms than an int64 clause bitmask can hold: scores,
    the OR clause and the negation must still match the oracle."""
    from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch

    for q in _wide_or_queries(oracle):
        pq = parse_websearch(q)
        assert len(set(pq.positive_terms) | set(pq.neg_terms)) >= 63
        got = bm25_topk(handle, q, k=25).toPandas()
        exp = oracle.search(q, k=25)
        assert got["doc_id"].tolist() == exp["doc_id"].tolist()
        assert got["score"].tolist() == pytest.approx(exp["score"].tolist(), abs=1e-4)
        assert bm25_count(handle, q) == oracle.count(q)
