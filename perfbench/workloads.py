"""The two workloads.

Each workload has a set-up (counted in ``setup_s``), a timed ``measure``
pass driven by the benchmark's own calls into the engine's public
functions, and a correctness gate that runs afterwards, untimed, on the
results the timed pass kept.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from inputs import (
    CLASS_WEIGHTS,
    PIPELINE_ENTRIES,
    Query,
    gen_corpus,
    gen_pipeline_tables,
    op_order,
    query_stream,
    write_parquet,
)
from tracing import Tracer, percentile, rate

# Sizes. Every working set is a few MB against 15 GB of RAM: nothing here
# measures I/O beyond the OS page cache. SERVE_DOCS is above the champion
# tables' min_df (2048), so the hottest terms are served from champion
# lists, as they would be on a production-sized index.
SERVE_DOCS = 3000
EPOCHS = 1
EPOCH_DOCS = 250
PIPELINE_DOCS = 600
PIPELINE_EVENTS = 12_000
MAX_ROUNDS = 200
TOPK = 10
SCORE_TOL = 1e-4  # the rank-identity tests' tolerance at round_digits=4
RANKED = ("hot", "and", "or", "not", "phrase", "rare")


@dataclass
class Op:
    """One timed operation and what it returned."""

    kind: str
    arg: str
    seconds: float
    result: object = None
    error: str | None = None
    ok: bool | None = None  # set by the correctness gate
    scope: int = 1  # how many corpus parts the index held when it ran


@dataclass
class Measured:
    """One timed pass: its ops and its wall time (see README.md)."""

    ops: list[Op]
    wall_s: float
    named: dict = field(default_factory=dict)  # per-workload figures for the summary line

    @property
    def ops_per_s(self) -> float:
        return rate(len(self.ops), self.wall_s)

    @property
    def op_p50_s(self) -> float:
        return percentile([o.seconds for o in self.ops], 50)


def timed(ops: list[Op], kind: str, arg: str, fn) -> Op:
    t0 = time.perf_counter()
    try:
        res, err = fn(), None
    except Exception:  # a failing op is counted as failed; the loop goes on
        res, err = None, traceback.format_exc(limit=4)
    op = Op(kind, arg, time.perf_counter() - t0, res, err)
    ops.append(op)
    return op


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def same_ranking(got, exp) -> bool:
    return len(got) == len(exp) and all(
        g[0] == e[0] and abs(g[1] - e[1]) <= SCORE_TOL for g, e in zip(got, exp)
    )


def spanned(tracer: Tracer, name: str, fn, **attrs):
    with tracer.span(name, **attrs):
        return fn()


def ranked_query(tracer: Tracer, handle, text: str):
    """parse → bm25_topk (lazy plan, incl. driver-side stats jobs) → collect."""
    from project_gutenberg_full_text_search_spark.operators.bm25 import bm25_topk
    from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch

    pq = spanned(tracer, "plans.parser:parse_websearch", lambda: parse_websearch(text))
    df = spanned(tracer, "operators.bm25:bm25_topk", lambda: bm25_topk(handle, pq, k=TOPK))
    rows = spanned(tracer, "operators.bm25:collect", df.collect)
    return [(r["doc_id"], r["score"]) for r in rows]


# ---------------------------------------------------------------------------
# search_lifecycle: one long-lived server, then appends with probes
# ---------------------------------------------------------------------------


class SearchLifecycle:
    def __init__(self, spark, tmp: str, seed: int, tracer: Tracer):
        from project_gutenberg_full_text_search_spark.api import FullTextSearch
        from project_gutenberg_full_text_search_spark.constants import SearchField
        from project_gutenberg_full_text_search_spark.operators.bm25 import IndexHandle
        from project_gutenberg_full_text_search_spark.operators.build_index import build_index

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.parts = [gen_corpus(seed, 0, SERVE_DOCS)] + [
            gen_corpus(seed, SERVE_DOCS + e * EPOCH_DOCS, EPOCH_DOCS) for e in range(EPOCHS)
        ]
        self.paths = [write_parquet(p, os.path.join(tmp, "corpus", f"part{i}.parquet"))
                      for i, p in enumerate(self.parts)]
        self.docs = spark.read.parquet(self.paths[0])
        self.index_dir = os.path.join(tmp, "index")
        self.input_bytes = int(self.parts[0]["content"].str.len().sum())
        t0 = time.perf_counter()
        spanned(tracer, "operators.build_index:build_index", lambda: build_index(
            spark, self.docs, self.index_dir, text_col="content", input_fingerprint=f"serve-{seed}"))
        self.build_s = time.perf_counter() - t0
        self.build_docs = SERVE_DOCS
        self.index_bytes = dir_bytes(self.index_dir)
        # the long-lived handle and facade the timed loop serves from
        self.handle = IndexHandle.open(self.spark, self.index_dir)
        self.fts = FullTextSearch(self.spark, self.docs, indexes={SearchField.CONTENT: self.index_dir})

    def query(self, q: Query):
        from project_gutenberg_full_text_search_spark.constants import (
            Crosswalk,
            OrderBy,
            SearchField,
            SearchType,
        )
        from project_gutenberg_full_text_search_spark.operators.bm25 import bm25_count
        from project_gutenberg_full_text_search_spark.operators.contains import contains_search
        from project_gutenberg_full_text_search_spark.operators.fuzzy import fuzzy_search

        tr = self.tracer
        if q.cls in RANKED:
            return ranked_query(tr, self.handle, q.text)
        if q.cls == "bm25_count":
            return spanned(tr, "operators.bm25:bm25_count", lambda: bm25_count(self.handle, q.text))
        if q.cls == "fuzzy":
            rows = spanned(tr, "operators.fuzzy:fuzzy_search",
                           lambda: fuzzy_search(self.handle, q.text, k=TOPK).collect())
            return [(r["doc_id"], r["sim"]) for r in rows]
        if q.cls == "contains":
            rows = spanned(tr, "operators.contains:contains_search", lambda: contains_search(
                self.handle, self.docs, q.text).select("doc_id").collect())
            return sorted(r["doc_id"] for r in rows)
        if q.cls == "execute":
            sq = (
                self.fts.query(Crosswalk.MINI)
                .search(q.text, SearchField.CONTENT, SearchType.FTS)
                .public_domain()
                .order_by(OrderBy.RELEVANCE)
                .highlight()[2, TOPK]
            )
            env = spanned(tr, "api:execute", lambda: self.fts.execute(sq))
            return env["total"], [r["id"] for r in env["results"]]
        if q.cls == "api_count":
            sq = self.fts.query().search(q.text, SearchField.CONTENT, SearchType.FTS).downloads_gte(1000)
            return spanned(tr, "api:count", lambda: self.fts.count(sq))
        raise ValueError(q.cls)

    def probe_set(self, epoch: int) -> list[Query]:
        """hot term, AND and phrase, drawn from the docs indexed so far."""
        seen = pd.concat(self.parts[: epoch + 2], ignore_index=True)
        picks: dict[str, Query] = {}
        for q in query_stream(self.seed * 31 + epoch, seen, 1):
            picks.setdefault(q.cls, q)
        return [picks["hot"], picks["and"], picks["phrase"]]

    def measure(self, seconds: float) -> Measured:
        """One client in a closed loop, whole rounds of the seeded query
        stream until ``seconds`` have passed; then, per epoch, append +
        refresh, re-open the handle and probe."""
        from project_gutenberg_full_text_search_spark.operators.bm25 import IndexHandle
        from project_gutenberg_full_text_search_spark.streaming.incremental import (
            append_docs,
            refresh_derived,
        )

        spark, tr = self.spark, self.tracer
        stream = query_stream(self.seed, self.parts[0], MAX_ROUNDS)
        per_round = sum(CLASS_WEIGHTS.values())
        ops: list[Op] = []
        t0 = time.perf_counter()
        for start in range(0, len(stream), per_round):
            for q in stream[start : start + per_round]:
                with tr.span("bench:query", cls=q.cls):
                    timed(ops, q.cls, q.text, lambda q=q: self.query(q))
            if time.perf_counter() - t0 >= seconds:
                break
        serve_s = time.perf_counter() - t0
        queries = list(ops)

        for e in range(EPOCHS):
            label, path = f"inc_{e}", self.paths[e + 1]

            def append(label=label, path=path):
                spanned(tr, "streaming.incremental:append_docs", lambda: append_docs(
                    spark, spark.read.parquet(path), self.index_dir, shard_label=label,
                    text_col="content", refresh=False))
                spanned(tr, "streaming.incremental:refresh_derived",
                        lambda: refresh_derived(spark, self.index_dir, shard_label=label))

            timed(ops, "append", label, append)
            handle = IndexHandle.open(spark, self.index_dir)
            for q in self.probe_set(e):
                with tr.span("bench:probe", cls=q.cls):
                    op = timed(ops, "probe", q.text, lambda q=q: ranked_query(tr, handle, q.text))
                op.scope = e + 2
        wall = time.perf_counter() - t0
        q_lat = [o.seconds for o in queries]
        return Measured(ops, wall, {
            "qps": rate(len(queries), serve_s),
            "query_p50_s": percentile(q_lat, 50),
            # a p90 needs >= 100 samples (10 beyond it) to be reported
            "query_p90_s": percentile(q_lat, 90) if len(q_lat) >= 100 else None,
            "queries": len(queries),
            "build_docs_per_s": rate(SERVE_DOCS, self.build_s),
            "append_docs_per_s": rate(EPOCHS * EPOCH_DOCS, sum(o.seconds for o in ops if o.kind == "append")),
            "post_append_query_p50_s": percentile([o.seconds for o in ops if o.kind == "probe"], 50),
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
        })

    def trace_counts(self, ops: list[Op]) -> dict[str, int]:
        """Counts the traced run reports that the timed pass does not
        produce itself: docs the contains prefilter let through to the
        verify scan, against docs that matched."""
        from project_gutenberg_full_text_search_spark.operators.contains import contains_candidates

        out = {"appended_docs": EPOCHS * EPOCH_DOCS, "contains_candidates": 0, "contains_matches": 0}
        for op in ops:
            if op.kind == "contains" and op.error is None:
                cands = contains_candidates(self.handle, op.arg)
                out["contains_candidates"] += SERVE_DOCS if cands is None else cands.distinct().count()
                out["contains_matches"] += len(op.result)
        return out

    def check(self, ops: list[Op]) -> None:
        """Queries and probes against the oracle over the docs the index
        held (appends are verified through the probes that read them);
        contains against the naive scan."""
        from project_gutenberg_full_text_search_spark.oracle import OracleIndex

        oracles: dict[int, OracleIndex] = {}
        memo: dict = {}
        for op in ops:
            if op.error is not None:
                continue
            if op.kind == "append":
                op.ok = True
                continue
            if op.scope not in oracles:
                oracles[op.scope] = OracleIndex(pd.concat(self.parts[: op.scope], ignore_index=True),
                                                text_col="content")
            key = (op.kind, op.arg, op.scope)
            if key not in memo:
                memo[key] = self._expected(oracles[op.scope], op)
            if op.kind in RANKED or op.kind in ("fuzzy", "probe"):
                op.ok = same_ranking(op.result, memo[key])
            else:
                op.ok = op.result == memo[key]

    def _expected(self, oracle, op: Op):
        from project_gutenberg_full_text_search_spark.operators.contains import contains_naive

        if op.kind == "fuzzy":
            e = oracle.fuzzy(op.arg, k=TOPK)
            return list(zip(e["doc_id"], e["sim"]))
        if op.kind == "contains":
            return sorted(r["doc_id"] for r in contains_naive(self.docs, op.arg).select("doc_id").collect())
        if op.kind == "bm25_count":
            return oracle.count(op.arg)
        if op.kind in ("execute", "api_count"):
            meta = self.parts[0].set_index("doc_id")
            e = oracle.search(op.arg, k=10**9)
            if op.kind == "api_count":
                return int((meta.loc[e["doc_id"], "downloads"] >= 1000).sum())
            rows = [(d, s) for d, s in zip(e["doc_id"], e["score"]) if meta.at[d, "copyrighted"] == 0]
            rows.sort(key=lambda t: (-t[1], -meta.at[t[0], "downloads"], t[0]))
            return len(rows), [d for d, _ in rows[TOPK : 2 * TOPK]]
        e = oracle.search(op.arg, k=TOPK)
        return list(zip(e["doc_id"], e["score"]))


# ---------------------------------------------------------------------------
# pipeline_ops: the non-FTS registry entries over generated tables
# ---------------------------------------------------------------------------


class PipelineOps:
    def __init__(self, spark, tmp: str, seed: int, tracer: Tracer):
        from project_gutenberg_full_text_search_spark.entry_queries import build_registry

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.data_dir = os.path.join(tmp, "tables")
        self.rows = gen_pipeline_tables(seed, self.data_dir, PIPELINE_DOCS, PIPELINE_EVENTS)
        self.queries, self.oracle_sql = build_registry()

    def measure(self, seconds: float) -> Measured:
        """Passes over the entries in a seeded order, each result collected
        to the driver: at least two (the first runs each entry for the
        first time in the session, the next ones repeat it), then whole
        passes until ``seconds`` have passed."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        for p in range(MAX_ROUNDS):
            for name in op_order(self.seed, p):
                with self.tracer.span(f"operators.{PIPELINE_ENTRIES[name]}:{name}"):
                    timed(ops, name, str(p), lambda n=name: self.queries[n](self.spark, self.data_dir).toPandas())
            if p >= 1 and time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
        return Measured(ops, wall, {
            "pipeline_ops_per_s": rate(len(ops), wall),
            "passes": len(ops) // len(PIPELINE_ENTRIES),
            "table_rows": self.rows,
        })

    def trace_counts(self, ops: list[Op]) -> dict[str, int]:
        return {}

    def check(self, ops: list[Op]) -> None:
        """Every result against its DuckDB oracle, compared the way
        tools/check_oracles.py compares them."""
        import duckdb
        from tools.check_oracles import canon

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{os.path.join(self.data_dir, f)}'")
        expected: dict[str, tuple] = {}
        for op in ops:
            if op.error is None:
                if op.kind not in expected:
                    exp = con.execute(self.oracle_sql[op.kind]).df()
                    expected[op.kind] = (sorted(exp.columns), canon(exp))
                cols, rows = expected[op.kind]
                op.ok = sorted(op.result.columns) == cols and canon(op.result) == rows
            op.result = None
        con.close()


WORKLOADS = {
    "search_lifecycle": SearchLifecycle,
    "pipeline_ops": PipelineOps,
}
