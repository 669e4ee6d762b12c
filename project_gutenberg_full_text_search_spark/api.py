"""FullTextSearch facade + SearchQuery DSL — reference API parity.

Mirrors /root/reference/search/full_text_search.py: the chainable
SearchQuery builder (67-263), ordering catalog (38-44, 275-295),
pagination clamp (78-85, 370-372), the two-query execute (count → clamp →
fetch → crosswalk envelope, 366-383), count-only API (385-389), and the
browse/facet helpers (391-498).

Key semantic rules replicated exactly:
- filters AND-compose (302-303, 318-319);
- relevance ranks ONLY the last search predicate (275-282), ties broken by
  downloads DESC;
- page_size clamped 1..100, default 25 (75, 82);
- page clamped to total_pages after count (370-372).

Where the reference builds SQL strings, we build a logical spec and plan
DataFrame ops: FTS → posting-index BM25, FUZZY → trigram index, CONTAINS
→ trigram prefilter + verify; filters become Catalyst predicates pushed to
the parquet scan.
"""

from __future__ import annotations

import math
import numbers
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from project_gutenberg_full_text_search_spark.constants import (
    Crosswalk,
    OrderBy,
    SearchField,
    SearchType,
    SortDirection,
)
from project_gutenberg_full_text_search_spark.crosswalks import apply_crosswalk
from project_gutenberg_full_text_search_spark.operators import facets as _facets
from project_gutenberg_full_text_search_spark.operators.bm25 import (
    IndexHandle,
    bm25_candidates,
    bm25_match_docs,
)
from project_gutenberg_full_text_search_spark.operators.contains import (
    contains_candidates,
)
from project_gutenberg_full_text_search_spark.operators.fuzzy import (
    DEFAULT_SIM_THRESHOLD,
    fuzzy_candidates,
)
from project_gutenberg_full_text_search_spark.plans.parser import parse_websearch

# field → text column in the unified view (reference _FIELD_COLS, :29-37)
_FIELD_TEXT = {
    SearchField.BOOK: "content",
    SearchField.CONTENT: "content",
    SearchField.TITLE: "title",
    SearchField.SUBTITLE: "title",
    SearchField.AUTHOR: "all_authors",
    SearchField.SUBJECT: "all_subjects",
    SearchField.BOOKSHELF: "all_subjects",
    SearchField.ATTRIBUTE: "title",
    SearchField.PATH: "path",
    SearchField.REPO: "repo",
}


def _sql_literal(v) -> str:
    """Render a bound parameter value as a safe Spark-SQL literal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, set):
        v = sorted(v)  # determinism
    if isinstance(v, (list, tuple)):
        return "(" + ", ".join(_sql_literal(x) for x in v) + ")"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


@dataclass
class SearchQuery:
    _search: list[tuple[str, SearchField, SearchType]] = field(default_factory=list)
    _filter: list[Column] = field(default_factory=list)
    _order: OrderBy = OrderBy.DOWNLOADS
    _sort_dir: SortDirection | None = None
    _page: int = 1
    _page_size: int = 25
    _crosswalk: Crosswalk = Crosswalk.FULL
    _random_seed: int | None = 42
    _highlight: tuple[int, str, str] | None = None

    def __getitem__(self, key) -> "SearchQuery":
        """q[3] → page 3; q[2, 50] → page 2, size 50 (clamped 1..100)."""
        if isinstance(key, tuple):
            self._page = max(1, int(key[0]))
            self._page_size = max(1, min(100, int(key[1])))
        else:
            self._page = max(1, int(key))
        return self

    def crosswalk(self, cw: Crosswalk) -> "SearchQuery":
        self._crosswalk = cw
        return self

    def order_by(
        self,
        order: OrderBy,
        direction: SortDirection | None = None,
        seed: int | None = 42,
    ) -> "SearchQuery":
        """``seed`` applies to OrderBy.RANDOM only: an int gives a
        reproducible shuffle (tests, stable pagination); ``None`` matches
        the reference's truly-random ``RANDOM()``
        (full_text_search.py:289-293 — documented deviation: our default
        is seeded)."""
        self._order = order
        self._sort_dir = direction
        self._random_seed = seed
        return self

    def search(
        self,
        txt: str,
        field: SearchField = SearchField.BOOK,
        search_type: SearchType = SearchType.FTS,
    ) -> "SearchQuery":
        txt = (txt or "").strip()
        if txt:
            self._search.append((txt, field, search_type))
        return self

    def highlight(
        self, window: int = 8, start_tag: str = "<b>", end_tag: str = "</b>"
    ) -> "SearchQuery":
        """Attach KWIC snippets to ``execute()`` results (the
        ``ts_headline`` analog; operators/snippets.py): each result dict
        gains ``snippet`` / ``first_pos`` / ``n_hits`` computed from the
        page's FTS terms over the searched text column. Snippet algebra
        runs on the page DataFrame — k rows, never the corpus. No-op
        when the query has no FTS clause with positive terms.

        ``window`` (tokens each side of the first hit) must be a
        non-negative integer; anything else raises ``ValueError`` here
        rather than inside the Spark job."""
        if (
            isinstance(window, bool)
            or not isinstance(window, numbers.Integral)
            or window < 0
        ):
            raise ValueError(
                f"highlight window must be a non-negative integer, got {window!r}"
            )
        self._highlight = (int(window), start_tag, end_tag)
        return self

    # --- filters (reference :151-263; each returns self for chaining) ---
    def etext(self, nr: int) -> "SearchQuery":
        self._filter.append(F.col("doc_id") == int(nr))
        return self

    def etexts(self, nrs: list[int]) -> "SearchQuery":
        self._filter.append(F.col("doc_id").isin([int(n) for n in nrs]))
        return self

    def downloads_gte(self, n: int) -> "SearchQuery":
        self._filter.append(F.col("downloads") >= int(n))
        return self

    def downloads_lte(self, n: int) -> "SearchQuery":
        self._filter.append(F.col("downloads") <= int(n))
        return self

    def public_domain(self) -> "SearchQuery":
        self._filter.append(F.col("copyrighted") == 0)
        return self

    def copyrighted(self) -> "SearchQuery":
        self._filter.append(F.col("copyrighted") == 1)
        return self

    def lang(self, code) -> "SearchQuery":
        """Accepts a Language enum or a bare code string (reference
        full_text_search.py lang(); enum surface constants.py:73-150)."""
        code = getattr(code, "code", code)
        self._filter.append(F.array_contains(F.col("lang_codes"), str(code).lower()))
        return self

    def text_only(self) -> "SearchQuery":
        self._filter.append(F.col("is_audio") == False)  # noqa: E712
        return self

    def audiobook(self) -> "SearchQuery":
        self._filter.append(F.col("is_audio") == True)  # noqa: E712
        return self

    def author_born_after(self, year: int) -> "SearchQuery":
        self._filter.append(F.col("max_author_birthyear") >= int(year))
        return self

    def author_born_before(self, year: int) -> "SearchQuery":
        self._filter.append(F.col("min_author_birthyear") <= int(year))
        return self

    def author_died_after(self, year: int) -> "SearchQuery":
        self._filter.append(F.col("max_author_deathyear") >= int(year))
        return self

    def author_died_before(self, year: int) -> "SearchQuery":
        self._filter.append(F.col("min_author_deathyear") <= int(year))
        return self

    def released_after(self, date: str) -> "SearchQuery":
        self._filter.append(F.col("release_date") >= F.to_date(F.lit(str(date))))
        return self

    def released_before(self, date: str) -> "SearchQuery":
        self._filter.append(F.col("release_date") <= F.to_date(F.lit(str(date))))
        return self

    def locc(self, code) -> "SearchQuery":
        """Accepts a LoCCMainClass enum or a code string (prefix match)."""
        code = getattr(code, "code", code)
        code = str(code).upper()
        self._filter.append(
            F.exists(F.col("locc_codes"), lambda c: c.startswith(code))
        )
        return self

    def contributor_role(self, role: str) -> "SearchQuery":
        self._filter.append(
            F.exists(F.col("dc.creators"), lambda c: c["role"] == role)
        )
        return self

    def file_type(self, ft: str) -> "SearchQuery":
        ft = getattr(ft, "value", ft)
        self._filter.append(
            F.exists(F.col("dc.format"), lambda f: f["mediatype"] == ft)
        )
        return self

    def encoding(self, enc: str) -> "SearchQuery":
        enc = getattr(enc, "value", enc)
        self._filter.append(
            F.exists(F.col("dc.format"), lambda f: f["encoding"] == enc)
        )
        return self

    def author_id(self, aid: int) -> "SearchQuery":
        self._filter.append(
            F.exists(F.col("dc.creators"), lambda c: c["id"] == int(aid))
        )
        return self

    def subject_id(self, sid: int) -> "SearchQuery":
        self._filter.append(
            F.exists(F.col("dc.subjects"), lambda s: s["id"] == int(sid))
        )
        return self

    def bookshelf_id(self, bid: int) -> "SearchQuery":
        self._filter.append(
            F.exists(F.col("dc.bookshelves"), lambda b: b["id"] == int(bid))
        )
        return self

    def where(self, sql: str, **params) -> "SearchQuery":
        """Raw Spark-SQL expression escape hatch with named-parameter
        binding — reference :255-263 (``where("... > :n", n=2)``, usage
        test.py:191-197). Parameter names starting with ``__p`` are
        reserved (reference parity); values render as SQL literals
        (strings escaped, sequences as IN-tuples)."""
        for k in params:
            if k.startswith("__p"):
                raise ValueError(
                    "Parameter name reserved by search engine: starts with '__p'"
                )
        rendered = sql
        for k in sorted(params, key=len, reverse=True):  # :nn before :n
            # callable replacement: the literal is inserted VERBATIM.  A
            # plain-string repl is a re.sub template, where a trailing
            # backslash in the escaped literal ('\\' → '\') would swallow
            # the closing quote and let the next bound value land as raw
            # SQL — i.e. injection through the "safe" binding.
            lit = _sql_literal(params[k])
            rendered = re.sub(
                f":{re.escape(k)}\\b", lambda _m, _lit=lit: _lit, rendered
            )
        self._filter.append(F.expr(rendered))
        return self


def build_field_indexes(
    spark: SparkSession,
    mv: DataFrame,
    base_dir: str,
    fields: tuple = (SearchField.TITLE, SearchField.AUTHOR, SearchField.SUBJECT),
    input_fingerprint: str | None = None,
    resume: bool = True,
) -> dict[SearchField, str]:
    """Build one per-field index (postings + trigram vocabulary) per
    metadata text field — the twin of the reference's per-column GIN/GiST
    trigram family (mv_books_dc.sql:472-487), which accelerates
    FUZZY/CONTAINS on title/author/subject, not just content.

    Each field index is a normal ``build_index`` artifact over
    ``(doc_id, <field text>)`` only — metadata text is a tiny fraction of
    content bytes, so these indexes are cheap at any corpus scale.
    Returns {field: index_dir} ready to merge into ``FullTextSearch``'s
    ``indexes=`` mapping.

    ``input_fingerprint`` guards resume: a rebuild into the same
    ``base_dir`` only reuses the existing artifact when the fingerprint
    matches.  When not supplied it is DERIVED FROM THE DATA (row count +
    order-independent hash of (doc_id, field text), one cheap job over the
    metadata projection) — a static default would silently resume a stale
    index after the metadata changed.
    """
    import os

    from project_gutenberg_full_text_search_spark.operators.build_index import (
        build_index,
    )

    out: dict[SearchField, str] = {}
    fp_row = None
    if input_fingerprint is None and resume:
        cols = sorted({_FIELD_TEXT[f] for f in fields})
        # Two order-independent combines per column: bit_xor alone lets
        # identical duplicate rows cancel pairwise ({A,A,B} ≡ {C,C,B}),
        # so a wrapping SUM of the same hashes — duplicate-sensitive,
        # never cancelling — is folded in alongside it.
        fp_row = mv.select(
            F.count(F.lit(1)).alias("n"),
            *[
                expr
                for c in cols
                for expr in (
                    F.bit_xor(
                        F.xxhash64(F.col("doc_id"), F.coalesce(F.col(c), F.lit("")))
                    ).alias(f"h_{c}"),
                    F.sum(
                        # decimal(38,0): |hash| ≤ 2^63 ≈ 10^19, so the sum
                        # stays in range up to ~10^19 rows — no ANSI
                        # overflow at any realistic corpus size
                        F.xxhash64(
                            F.col("doc_id"), F.coalesce(F.col(c), F.lit(""))
                        ).cast("decimal(38,0)")
                    ).alias(f"s_{c}"),
                )
            ],
        ).first()
    for fld in fields:
        col = _FIELD_TEXT[fld]
        d = os.path.join(base_dir, fld.name.lower())
        fp = input_fingerprint
        if fp is None:
            fp = (
                f"field:{col}:{fp_row['n']}:{fp_row[f'h_{col}']}:{fp_row[f's_{col}']}"
                if fp_row is not None
                else f"field:{col}"
            )
        build_index(
            spark,
            mv.select("doc_id", F.coalesce(F.col(col), F.lit("")).alias(col)),
            d,
            text_col=col,
            resume=resume,
            input_fingerprint=fp,
        )
        out[fld] = d
    return out


class FullTextSearch:
    """The engine facade (reference class at full_text_search.py:332-498)."""

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        meta: DataFrame | None = None,
        indexes: dict[SearchField, str] | None = None,
        dims: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.docs = docs
        self.meta = meta
        self.dims = dims or {}
        self._handles: dict[SearchField, IndexHandle] = {}
        for f, d in (indexes or {}).items():
            self._handles[SearchField(f)] = IndexHandle.open(spark, d)
        if SearchField.BOOK not in self._handles and SearchField.CONTENT in self._handles:
            self._handles[SearchField.BOOK] = self._handles[SearchField.CONTENT]
        self.mv = docs.join(meta, "doc_id", "left") if meta is not None else docs
        self._custom: Callable | None = None

    def set_custom_transformer(self, fn: Callable) -> None:
        self._custom = fn

    def query(self, crosswalk: Crosswalk = Crosswalk.FULL) -> SearchQuery:
        q = SearchQuery()
        q._crosswalk = crosswalk
        return q

    # ------------------------------------------------------------------
    def _handle_for(self, fld: SearchField) -> IndexHandle | None:
        return self._handles.get(fld)

    def _apply_search(
        self, base: DataFrame, txt: str, fld: SearchField, st: SearchType, rank: bool
    ):
        """→ (filtered df, rank column name or None).

        ``rank=False`` is the COUNT plan: the same match set with no
        ranking — FTS joins ``bm25_match_docs`` (no score column anywhere,
        asserted by test_count_plan_has_no_scoring), FUZZY keeps only its
        similarity threshold, CONTAINS skips the cosmetic BM25 rank join."""
        handle = self._handle_for(fld)
        text_col = _FIELD_TEXT[fld]
        if st == SearchType.FTS:
            if handle is None:
                raise ValueError(f"no FTS index for field {fld}")
            pq = parse_websearch(txt)
            if not pq.clauses and pq.neg_terms:
                # pure negation: websearch_to_tsquery('-x') matches docs
                # lacking x (pg semantics)
                neg_dfs = handle.term_stats(pq.neg_terms)
                present = [t for t in pq.neg_terms if neg_dfs.get(t)]
                if present:
                    neg = handle.decode(present).select("doc_id").distinct()
                    base = base.join(neg, "doc_id", "left_anti")
                if not rank:
                    return base, None
                return base.withColumn("_rank", F.lit(0.0)), "_rank"
            if not rank:
                return base.join(bm25_match_docs(handle, pq), "doc_id", "left_semi"), None
            cands = bm25_candidates(handle, pq).select(
                "doc_id", F.round("score", 4).alias("_rank")
            )
            return base.join(cands, "doc_id", "inner"), "_rank"
        if st == SearchType.FUZZY:
            if handle is not None:
                # index-accelerated path — for CONTENT and for any metadata
                # field with a per-field index (build_field_indexes; the
                # reference's per-column GiST trgm family,
                # mv_books_dc.sql:482-487): candidate terms come from the
                # field's trigram vocabulary, postings prune the docs scan.
                sims = fuzzy_candidates(handle, txt)
                if not rank:
                    return base.join(sims.select("doc_id"), "doc_id", "left_semi"), None
                sims = sims.withColumnRenamed("sim", "_rank")
                return base.join(sims, "doc_id", "inner"), "_rank"
            # non-indexed field: naive trigram similarity, JVM-side.
            # Correct but a FULL SCAN re-tokenizing every row — fine for
            # one-off queries, wrong as a steady state at corpus scale, so
            # say so (build_field_indexes is one call away).
            import warnings

            warnings.warn(
                f"FUZZY on field {fld.name} falls back to a full-scan "
                "trigram transform (no per-field index registered); build "
                "one with build_field_indexes() for corpus-scale use",
                stacklevel=3,
            )
            from project_gutenberg_full_text_search_spark.functions.text import (
                tokens_col,
                trigrams_col,
            )

            qcol = F.lit(txt.lower())
            word_sims = F.transform(
                tokens_col(text_col),
                lambda w: F.size(
                    F.array_intersect(trigrams_col(w), trigrams_col(qcol))
                )
                / F.size(F.array_union(trigrams_col(w), trigrams_col(qcol))),
            )
            base = base.withColumn(
                "_rank", F.round(F.array_max(F.concat(word_sims, F.array(F.lit(0.0)))), 4)
            )
            base = base.filter(F.col("_rank") >= DEFAULT_SIM_THRESHOLD)
            if not rank:
                return base.drop("_rank"), None
            return base, "_rank"
        # CONTAINS
        verify = F.contains(F.lower(F.col(text_col)), F.lit(txt.lower()))
        if handle is not None:
            # trigram prefilter from the field's own index (GIN trgm
            # analog, mv_books_dc.sql:472-477) — metadata fields included
            # when a per-field index is registered
            cands = contains_candidates(handle, txt)
            if cands is not None:
                # no broadcast hint — candidate size is unbounded for broad
                # queries; AQE picks broadcast from runtime stats when small
                base = base.join(cands, "doc_id", "left_semi")
        base = base.filter(verify)
        if not rank:
            return base, None
        # reference ranks a CONTAINS search too: ts_rank_cd with the
        # %-stripped param (full_text_search.py:275-282). Our analog: BM25
        # of the text against the field's index; 0 when unscorable.
        if handle is not None:
            pq = parse_websearch(txt)
            if pq.positive_terms:
                sc = bm25_candidates(handle, pq).select(
                    "doc_id", F.round("score", 4).alias("_rank")
                )
                base = base.join(sc, "doc_id", "left").fillna({"_rank": 0.0})
                return base, "_rank"
        return base.withColumn("_rank", F.lit(0.0)), "_rank"

    def _candidates(self, q: SearchQuery, rank: bool = True):
        """→ (df, rank_col): all matches with filters applied; with
        ``rank=False`` no rank column is computed anywhere in the plan."""
        df = self.mv
        rank_col = None
        for txt, fld, st in q._search:
            if rank_col:
                df = df.drop(rank_col)
            df, rank_col = self._apply_search(df, txt, fld, st, rank)
        for pred in q._filter:
            df = df.filter(pred)
        return df, rank_col

    def _membership(self, q: SearchQuery) -> DataFrame:
        """All matches with filters applied, membership-only (the COUNT
        plan)."""
        return self._candidates(q, rank=False)[0]

    def _order_exprs(self, q: SearchQuery, rank_col: str | None) -> list[Column]:
        d = q._sort_dir
        o = q._order
        if o == OrderBy.RELEVANCE and rank_col:
            # reference: rank DESC, downloads DESC (275-282)
            cols = [F.desc(rank_col)]
            if "downloads" in self.mv.columns:
                cols.append(F.desc("downloads"))
            return cols + [F.asc("doc_id")]
        if o == OrderBy.TITLE:
            c = F.col("title")
            return [(c.desc() if d == SortDirection.DESC else c.asc()), F.asc("doc_id")]
        if o == OrderBy.AUTHOR:
            c = F.col("all_authors")
            return [
                (c.desc_nulls_last() if d == SortDirection.DESC else c.asc_nulls_last()),
                F.asc("doc_id"),
            ]
        if o == OrderBy.RELEASE_DATE:
            c = F.col("release_date")
            return [
                (c.asc_nulls_last() if d == SortDirection.ASC else c.desc_nulls_last()),
                F.asc("doc_id"),
            ]
        if o == OrderBy.RANDOM:
            r = F.rand(q._random_seed) if q._random_seed is not None else F.rand()
            return [r, F.asc("doc_id")]
        # default: DOWNLOADS (reference :71, 287-288)
        if "downloads" in self.mv.columns:
            c = F.col("downloads")
            return [(c.asc() if d == SortDirection.ASC else c.desc()), F.asc("doc_id")]
        return [F.asc("doc_id")]

    def _highlight_spec(self, q: SearchQuery) -> tuple[list[str], str]:
        """(positive FTS terms, text column) for ``highlight()`` — from
        the query's FIRST FTS clause (multiple searches AND together on
        possibly different fields; the first is the primary relevance
        clause, reference semantics). Empty terms → highlight no-ops."""
        for txt, fld, st in q._search:
            if st == SearchType.FTS:
                pq = parse_websearch(txt)
                terms = sorted(set(pq.positive_terms))
                if terms:
                    return terms, _FIELD_TEXT[fld]
        return [], ""

    def _page_df(self, q: SearchQuery, rank_col, df: DataFrame, page: int) -> DataFrame:
        """The requested page only — sliced ON EXECUTORS: top-(page·size)
        via TakeOrderedAndProject, then a row_number window over those ≤
        page·size rows drops the earlier pages, so the driver collects
        page_size rows even for deep pages (reference semantics:
        LIMIT/OFFSET, full_text_search.py:300,306-312)."""
        from pyspark.sql.window import Window

        drop_cols: list[str] = []
        if q._order == OrderBy.RANDOM:
            # F.rand is non-deterministic per evaluation: re-evaluating it
            # in the window after the limit's exchange reshuffles values,
            # so page 2 could repeat/omit page-1 docs.  Materialize the
            # random key ONCE and sort by the column in both places.
            r = F.rand(q._random_seed) if q._random_seed is not None else F.rand()
            df = df.withColumn("_pg_rnd", r)
            order = [F.asc("_pg_rnd"), F.asc("doc_id")]
            drop_cols.append("_pg_rnd")
        else:
            order = self._order_exprs(q, rank_col)
        top = df.orderBy(*order).limit(page * q._page_size)
        if page > 1:
            top = (
                top.withColumn("_pg_rn", F.row_number().over(Window.orderBy(*order)))
                .filter(F.col("_pg_rn") > (page - 1) * q._page_size)
                .drop("_pg_rn")
            )
        return top.drop(*drop_cols) if drop_cols else top

    def execute(self, q: SearchQuery) -> dict:
        """Two-query execute + envelope (reference :366-383).

        The candidate DataFrame (search join + BM25/fuzzy/contains scoring)
        is persisted across the COUNT and the page fetch: the reference's
        two queries both hit an index, but in Spark a second action would
        otherwise RE-RUN the whole scoring join — persist makes the fetch
        an InMemoryTableScan over the ~result-sized candidate set instead
        of a recompute (candidates are post-search, so the cached set is
        bounded by matches, not corpus size)."""
        df, rank_col = self._candidates(q)
        df = df.persist()
        try:
            total = df.count()
            total_pages = max(1, math.ceil(total / q._page_size))
            page = min(q._page, total_pages)
            q._page = page
            page_df = self._page_df(q, rank_col, df, page)
            hl_terms, hl_col = (
                self._highlight_spec(q) if q._highlight else ([], "")
            )
            if q._highlight and hl_terms:
                from project_gutenberg_full_text_search_spark.operators.snippets import (
                    snippets,
                )

                w, tag_a, tag_b = q._highlight
                page_df = snippets(
                    page_df, hl_terms, text_col=hl_col, window=w,
                    start_tag=tag_a, end_tag=tag_b,
                )
            page_rows = page_df.collect()
        finally:
            df.unpersist()
        results = apply_crosswalk(q._crosswalk, page_rows, self._custom)
        if q._highlight and hl_terms:
            # crosswalks project fixed reference envelopes — attach the
            # snippet fields alongside rather than widening every envelope
            for res, row in zip(results, page_rows):
                res["snippet"] = row["snippet"]
                res["first_pos"] = row["first_pos"]
                res["n_hits"] = row["n_hits"]
        return {
            "results": results,
            "page": page,
            "page_size": q._page_size,
            "total": total,
            "total_pages": total_pages,
        }

    def count(self, q: SearchQuery) -> int:
        """Membership-only COUNT (VERDICT r4 #1): the standalone count
        never computes BM25 scores — same match set as ``execute``'s
        total, cheaper plan. ``execute`` itself keeps the scoring
        candidates (it needs them for the page anyway, persisted across
        COUNT+fetch — a single scoring pass)."""
        return self._membership(q).count()

    def get(self, doc_id: int, crosswalk: Crosswalk = Crosswalk.FULL) -> dict | None:
        """Single-doc fetch. The reference README documents fts.get()
        (README.md:107-113) though its code never shipped it (SURVEY §2.7
        doc-drift note); provided here so README-following users port
        cleanly. Sugar over etext()."""
        env = self.execute(self.query(crosswalk).etext(doc_id))
        return env["results"][0] if env["results"] else None

    def get_many(
        self, doc_ids: list[int], crosswalk: Crosswalk = Crosswalk.FULL
    ) -> list[dict]:
        """Batch fetch (reference README.md get_many twin); sugar over
        etexts(). Returns up to the page-size cap (100) per call."""
        env = self.execute(self.query(crosswalk).etexts(list(doc_ids))[1, 100])
        return env["results"]

    # --- browse / facets (reference :391-498) ---
    def all_bookshelves(self) -> DataFrame:
        return _facets.all_bookshelves(
            self.dims["bookshelves"], self.dims["mn_docs_bookshelves"]
        )

    def all_subjects(self) -> DataFrame:
        return _facets.all_subjects(
            self.dims["subjects"], self.dims["mn_docs_subjects"]
        )

    def subject(self, pk: int):
        return _facets.subject_by_pk(self.dims["subjects"], pk)

    def get_top_subjects_for_query(self, q: SearchQuery, max_books: int = 500) -> DataFrame:
        df, rank_col = self._candidates(q)
        ordered = df.orderBy(*self._order_exprs(q, rank_col))
        return _facets.top_subjects_for_docs(
            ordered, self.dims["mn_docs_subjects"], self.dims["subjects"], max_books
        )

    def locc_children(self, parent: str | None = None) -> DataFrame:
        return _facets.locc_children(self.dims["loccs"], parent)
