"""Facet / browse aggregations — reference §2.4 parity.

A1/A2 group-counts (full_text_search.py:391-429), A3 point lookup
(431-444), A4 sampled top-subject facet (446-494), A5 LoCC hierarchy
children (helpers.py:130-168) — the reference issues N queries in a
loop; we do ONE grouped aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def all_bookshelves(bookshelves: DataFrame, bridge: DataFrame) -> DataFrame:
    """(pk, bookshelf, count) ordered by name (full_text_search.py:391-409)."""
    counts = bridge.groupBy("fk_bookshelves").agg(F.count("*").alias("count"))
    return (
        bookshelves.join(
            counts, bookshelves["pk"] == counts["fk_bookshelves"], "left"
        )
        .select("pk", "bookshelf", F.coalesce("count", F.lit(0)).alias("count"))
        .orderBy("bookshelf")
    )


def all_subjects(subjects: DataFrame, bridge: DataFrame) -> DataFrame:
    """(pk, subject, count) ordered count DESC, name (411-429)."""
    counts = bridge.groupBy("fk_subjects").agg(F.count("*").alias("count"))
    return (
        subjects.join(counts, subjects["pk"] == counts["fk_subjects"], "left")
        .select("pk", "subject", F.coalesce("count", F.lit(0)).alias("count"))
        .orderBy(F.desc("count"), "subject")
    )


def subject_by_pk(subjects: DataFrame, pk: int):
    """Point lookup (431-444)."""
    rows = subjects.filter(F.col("pk") == pk).limit(1).collect()
    return rows[0].asDict() if rows else None


def top_subjects_for_docs(
    ordered_docs: DataFrame,
    bridge: DataFrame,
    subjects: DataFrame,
    max_books: int = 500,
    limit: int = 15,
) -> DataFrame:
    """A4: facet over a SAMPLE of the current result set (446-494).

    ordered_docs: (doc_id, ...) already in the query's order; the cap
    (≤5000, callers use 500) is the reference's explicit accuracy/latency
    trade — sampling the top of the ordering, not the whole match set.
    Broadcast of the sampled ids keeps the bridge join shuffle-free.
    """
    max_books = min(max_books, 5000)
    sample = ordered_docs.select("doc_id").limit(max_books)
    return (
        bridge.join(
            F.broadcast(sample), bridge["fk_docs"] == sample["doc_id"], "inner"
        )
        .groupBy("fk_subjects")
        .agg(F.count("*").alias("count"))
        .join(subjects, F.col("fk_subjects") == subjects["pk"], "inner")
        .select("pk", "subject", "count")
        .orderBy(F.desc("count"), "subject")
        .limit(limit)
    )


def locc_children(loccs: DataFrame, parent: str | None = None) -> DataFrame:
    """A5: LoCC hierarchy level (helpers.py:130-168).

    Children of `parent` = codes starting with it, exactly one "level"
    deeper by the reference's char-length ordering; has_children via a
    prefix self-semi-join. The dimension is tiny → broadcast everywhere.
    """
    base = loccs
    if parent:
        base = base.filter(
            F.col("pk").startswith(parent) & (F.col("pk") != parent)
        )
    else:
        base = base.filter(F.length("pk") == 1)
    kids = loccs.select(F.col("pk").alias("kpk"))
    return (
        base.join(
            F.broadcast(kids),
            kids["kpk"].startswith(base["pk"]) & (kids["kpk"] != base["pk"]),
            "left",
        )
        .groupBy("pk", "locc")
        .agg((F.count("kpk") > 0).alias("has_children"))
        .orderBy(F.length("pk"), "pk")
    )
