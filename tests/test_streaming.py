"""Incremental refresh: appended docs are searchable and rank-identical to
a full rebuild (the assert-ful analog of the reference's concurrent
refresh behavior, mv_books_dc.sql:502-514)."""

import os
import shutil
import tempfile

import pytest

from project_gutenberg_full_text_search_spark.corpus import DOCS_SCHEMA, gen_corpus
from project_gutenberg_full_text_search_spark.operators.bm25 import IndexHandle, bm25_topk
from project_gutenberg_full_text_search_spark.operators.build_index import build_index
from project_gutenberg_full_text_search_spark.streaming import append_docs, stream_refresh


@pytest.fixture(scope="module")
def split_corpus(spark):
    full = gen_corpus(spark, 200, seed=42).cache()
    base = full.filter("doc_id < 120").cache()
    extra = full.filter("doc_id >= 120").cache()
    return full, base, extra


def _topk(spark, d, q="merge query", k=15):
    h = IndexHandle.open(spark, d)
    return bm25_topk(h, q, k=k).toPandas()


def test_batch_append_matches_full_rebuild(spark, split_corpus):
    full, base, extra = split_corpus
    d_inc = tempfile.mkdtemp(prefix="pgfts_inc_")
    d_full = tempfile.mkdtemp(prefix="pgfts_full_")
    try:
        build_index(spark, base, d_inc, input_fingerprint="base120")
        append_docs(spark, extra, d_inc, "inc_0")
        build_index(spark, full, d_full, input_fingerprint="full200")
        for q in ["merge query", "index", '"delta varint compression"', "uniq_150_0"]:
            a = _topk(spark, d_inc, q)
            b = _topk(spark, d_full, q)
            assert a.doc_id.tolist() == b.doc_id.tolist(), q
            assert a.score.tolist() == b.score.tolist(), q
    finally:
        shutil.rmtree(d_inc, ignore_errors=True)
        shutil.rmtree(d_full, ignore_errors=True)


def test_stream_refresh_available_now(spark, split_corpus):
    full, base, extra = split_corpus
    d = tempfile.mkdtemp(prefix="pgfts_stream_")
    drop = tempfile.mkdtemp(prefix="pgfts_drop_")
    ck = tempfile.mkdtemp(prefix="pgfts_ck_")
    try:
        build_index(spark, base, d, input_fingerprint="base120")
        extra.write.mode("overwrite").parquet(os.path.join(drop, "batch1"))
        q = stream_refresh(
            spark, os.path.join(drop, "batch1"), d, ck, schema=DOCS_SCHEMA
        )
        q.awaitTermination(120)
        # new-doc unique term now searchable
        hits = _topk(spark, d, "uniq_150_0", k=5)
        assert hits.doc_id.tolist() == [150]
        # restart with same checkpoint: no duplicate ingestion
        q2 = stream_refresh(
            spark, os.path.join(drop, "batch1"), d, ck, schema=DOCS_SCHEMA
        )
        q2.awaitTermination(120)
        h = IndexHandle.open(spark, d)
        assert h.stats["N"] == 200
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(drop, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def test_epoch_replay_idempotent(spark, split_corpus):
    """foreachBatch is at-least-once: re-running the same epoch (same
    shard label) must not duplicate norms rows or shift stats/scores."""
    full, base, extra = split_corpus
    d = tempfile.mkdtemp(prefix="pgfts_replay_")
    try:
        build_index(spark, base, d, input_fingerprint="base120")
        append_docs(spark, extra, d, "inc_0")
        h1 = IndexHandle.open(spark, d)
        n1, avgdl1 = h1.stats["N"], h1.stats["avgdl"]
        top1 = _topk(spark, d)
        # simulate a crash between write and checkpoint commit → replay
        append_docs(spark, extra, d, "inc_0")
        h2 = IndexHandle.open(spark, d)
        assert h2.stats["N"] == n1 == 200
        assert h2.stats["avgdl"] == avgdl1
        top2 = _topk(spark, d)
        assert top1.doc_id.tolist() == top2.doc_id.tolist()
        assert top1.score.tolist() == top2.score.tolist()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_epoch_is_shard_sized(spark, split_corpus):
    """Merge-on-read derived tables: an epoch writes ONLY its own shard's
    partial aggregates (terms/shard=<label>, trigram_terms/shard=<label>,
    _norms_stats/<label>.json) and leaves the base shard's files
    untouched — the 10^12-scale property that a refresh costs shard-sized
    work, not a corpus re-aggregation."""
    full, base, extra = split_corpus
    d = tempfile.mkdtemp(prefix="pgfts_mor_")
    try:
        build_index(spark, base, d, input_fingerprint="base120")
        base_terms_dir = os.path.join(d, "terms", "shard=0")
        assert os.path.isdir(base_terms_dir)
        before = {
            f: os.path.getmtime(os.path.join(base_terms_dir, f))
            for f in os.listdir(base_terms_dir)
        }
        append_docs(spark, extra, d, "inc_0")
        # epoch created its own shard partials...
        assert os.path.isdir(os.path.join(d, "terms", "shard=inc_0"))
        assert os.path.isdir(os.path.join(d, "trigram_terms", "shard=inc_0"))
        assert os.path.exists(os.path.join(d, "_norms_stats", "inc_0.json"))
        # ...and did not rewrite the base shard's term files
        after = {
            f: os.path.getmtime(os.path.join(base_terms_dir, f))
            for f in os.listdir(base_terms_dir)
        }
        assert before == after
        # merged stats are exact: N and avgdl match the full corpus
        h = IndexHandle.open(spark, d)
        assert h.stats["N"] == 200
        # merged term df: lazily-summed view equals a full rebuild's
        d_full = tempfile.mkdtemp(prefix="pgfts_mor_full_")
        try:
            build_index(spark, full, d_full, input_fingerprint="full200")
            inc_df = {
                r["term"]: r["df"] for r in h.terms().collect()
            }
            full_df = {
                r["term"]: r["df"]
                for r in IndexHandle.open(spark, d_full).terms().collect()
            }
            assert inc_df == full_df
        finally:
            shutil.rmtree(d_full, ignore_errors=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- watermarked windowed aggregation + stateful dedup (operators.py) ----

def _events_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )


def _mk_events(spark, rows):
    import datetime

    import pandas as pd

    pdf = pd.DataFrame(
        [
            {
                "event_id": i,
                "ts": datetime.datetime(2026, 1, d, h),
                "event_type": t,
                "value": float(v),
            }
            for i, (d, h, t, v) in enumerate(rows)
        ]
    )
    return spark.createDataFrame(pdf, schema=_events_schema())


def test_windowed_rollup_stream_matches_batch(spark, tmp_path):
    """availableNow streaming rollup (complete mode) == the identical
    batch plan over the same files."""
    from project_gutenberg_full_text_search_spark.streaming.operators import (
        windowed_rollup,
    )

    src = str(tmp_path / "ev_src")
    rows = [(d, h, t, d * 10 + h) for d in (1, 2, 3) for h in (0, 6, 12)
            for t in ("click", "view")]
    _mk_events(spark, rows).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(_events_schema()).parquet(src)
    q = (
        windowed_rollup(stream, window="1 day", watermark="1 day")
        .writeStream.format("memory")
        .queryName("roll_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("roll_mem")
        .orderBy("win_start", "event_type")
        .toPandas()
    )
    exp = (
        windowed_rollup(spark.read.parquet(src), window="1 day")
        .orderBy("win_start", "event_type")
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    assert len(got) == 6  # 3 days x 2 types


def test_windowed_rollup_watermark_drops_too_late(spark, tmp_path):
    """Across two checkpointed availableNow runs, rows later than the
    watermark bound are DROPPED; windows finalize (append-mode emit) only
    once the watermark passes their end."""
    from project_gutenberg_full_text_search_spark.streaming.operators import (
        windowed_rollup,
    )

    src = str(tmp_path / "ev_src2")
    ck = str(tmp_path / "ev_ck")
    out = str(tmp_path / "ev_out")
    os.makedirs(src, exist_ok=True)

    def run_once(batch_rows, part):
        _mk_events(spark, batch_rows).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"part{part}")
        )
        stream = spark.readStream.schema(_events_schema()).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        q = (
            windowed_rollup(stream, window="1 day", watermark="2 days")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # batch 1: days 1..10 → watermark ends at day10 - 2d = day8;
    # append emits only windows whose END <= day8 (days 1..7)
    run_once([(d, 0, "click", 1) for d in range(1, 11)], 1)
    first = spark.read.parquet(out).toPandas()
    assert sorted(first.win_start.dt.day.tolist()) == list(range(1, 8))

    # batch 2: a LATE row for day 5 (before watermark day8 → dropped) and
    # a day-12 row (advances watermark to day10 → finalizes days 8,9)
    run_once([(5, 6, "click", 99), (12, 0, "click", 1)], 2)
    final = spark.read.parquet(out).toPandas()
    by_day = {int(d): int(n) for d, n in zip(final.win_start.dt.day, final.n)}
    assert by_day[5] == 1          # late day-5 row NOT folded in
    assert 8 in by_day and 9 in by_day  # finalized by the new watermark
    assert 12 not in by_day        # still open (watermark at day 10)


def test_stream_dedup_exact_state_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: first occurrence emitted once with
    same-batch duplicate count; re-occurrences in LATER batches are
    suppressed via the checkpointed state store."""
    import pandas as pd

    from pyspark.sql import types as T

    from project_gutenberg_full_text_search_spark.streaming.operators import (
        stream_dedup_exact,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src = str(tmp_path / "dd_src")
    ck = str(tmp_path / "dd_ck")
    out = str(tmp_path / "dd_out")
    os.makedirs(src, exist_ok=True)

    def run_once(rows, part):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]), schema=schema
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"p{part}"))
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        q = (
            stream_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once([(1, "xxx"), (2, "yyy"), (3, "xxx")], 1)
    first = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert first.text.tolist() == ["xxx", "yyy"]
    assert dict(zip(first.text, first.batch_dupes)) == {"xxx": 1, "yyy": 0}

    run_once([(4, "xxx"), (5, "zzz")], 2)  # xxx seen before → suppressed
    final = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert sorted(final.text.tolist()) == ["xxx", "yyy", "zzz"]
    assert final[final.text == "zzz"].batch_dupes.iloc[0] == 0


def test_stream_dedup_survivor_deterministic(spark, tmp_path):
    """Within-batch survivor choice is the MIN order_col row, not the
    physically-first row of a shuffled group: reruns of the same input
    emit identical rows (ADVICE r4)."""
    import pandas as pd

    from pyspark.sql import types as T

    from project_gutenberg_full_text_search_spark.streaming.operators import (
        stream_dedup_exact,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    # duplicates arrive with ids OUT of order; survivor must be min id
    rows = [(9, "aaa"), (2, "aaa"), (5, "aaa"), (7, "bbb")]
    for run in range(2):
        src = str(tmp_path / f"src{run}")
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]), schema=schema
        ).repartition(4).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out{run}"))
            .option("checkpointLocation", str(tmp_path / f"ck{run}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(str(tmp_path / f"out{run}")).toPandas()
        assert dict(zip(got.text, got.doc_id)) == {"aaa": 2, "bbb": 7}
        assert dict(zip(got.text, got.batch_dupes)) == {"aaa": 2, "bbb": 0}


def test_stream_dedup_order_col_validated(spark, tmp_path):
    from pyspark.sql import types as T

    from project_gutenberg_full_text_search_spark.streaming.operators import (
        stream_dedup_exact,
    )

    schema = T.StructType([T.StructField("text", T.StringType())])
    os.makedirs(str(tmp_path / "none"), exist_ok=True)
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "none"))
    with pytest.raises(ValueError, match="order_col"):
        stream_dedup_exact(stream)  # default doc_id absent → loud
    # explicit opt-out accepted (arbitrary survivor, documented)
    stream_dedup_exact(stream, order_col=None)
