"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider

The event-log test starts a small local Spark session (about 15 s).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__))]

import inputs  # noqa: E402
import tracing  # noqa: E402
from report import LAYER_METRICS  # noqa: E402

# ---- arithmetic ----


def test_percentile_interpolates_like_numpy():
    import numpy as np

    xs = [0.3, 1.2, 0.5, 0.9, 2.0, 0.1, 0.7]
    for q in (0, 10, 50, 75, 90, 100):
        assert tracing.percentile(xs, q) == pytest.approx(np.percentile(xs, q))
    assert tracing.percentile([4.0], 90) == 4.0
    with pytest.raises(ValueError):
        tracing.percentile([], 50)


def test_rate_and_ratio():
    assert tracing.rate(30, 12.0) == 2.5
    with pytest.raises(ValueError):
        tracing.rate(1, 0.0)
    assert tracing.ratio(3, 4) == 0.75
    assert tracing.ratio(0, 0) == 0.0


def test_covered_merges_overlaps():
    assert tracing.covered([]) == 0.0
    assert tracing.covered([(0, 1), (2, 3)]) == 2.0
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.covered([(0, 10), (2, 3)]) == 10.0


def test_self_times_subtract_children():
    tr = tracing.Tracer(enabled=True)
    S = tracing.Span
    tr.spans = [
        S(0, "bench:query", 0, None, 0.0, 10.0),
        S(1, "operators.bm25:bm25_topk", 0, 0, 1.0, 4.0),
        S(2, "operators.champions:champion_topk", 0, 1, 2.0, 3.0),
        S(3, "operators.bm25:collect", 0, 0, 5.0, 9.0),
    ]
    st = tracing.self_times(tr.spans)
    assert st == {"bench": 3.0, "operators.bm25": 6.0, "operators.champions": 1.0}
    assert sum(st.values()) == 10.0  # self times partition the root span
    assert tracing.inclusive_jobs(tr.spans)[0] == []


def test_tracer_nests_and_disabled_is_noop():
    tr = tracing.Tracer(enabled=True)
    with tr.span("bench:query") as a:
        with tr.span("plans.parser:parse_websearch") as b:
            pass
    assert (b.parent, b.trace, a.parent) == (a.id, a.id, None)
    assert a.start <= b.start <= b.end <= a.end
    off = tracing.Tracer(enabled=False)
    with off.span("bench:query") as s:
        assert s is None
    assert off.spans == []


# ---- seeded generators ----


def test_query_stream_is_seeded():
    docs = inputs.gen_corpus(3, 0, 200)
    a = inputs.query_stream(3, docs, 5)
    assert a == inputs.query_stream(3, inputs.gen_corpus(3, 0, 200), 5)
    assert a != inputs.query_stream(4, docs, 5)
    per_round = sum(inputs.CLASS_WEIGHTS.values())
    assert len(a) == 5 * per_round
    for r in range(5):  # every round carries the fixed class mix
        rnd = [q.cls for q in a[r * per_round : (r + 1) * per_round]]
        assert {c: rnd.count(c) for c in rnd} == inputs.CLASS_WEIGHTS


def test_corpus_is_seeded_per_doc():
    a = inputs.gen_corpus(5, 0, 50)
    assert a.equals(inputs.gen_corpus(5, 0, 50))
    assert not a["content"].equals(inputs.gen_corpus(6, 0, 50)["content"])
    # doc i depends only on (seed, i): an epoch extends the same corpus
    tail = inputs.gen_corpus(5, 40, 10)
    assert tail["content"].tolist() == a["content"].tolist()[40:]


def test_op_order_is_seeded():
    a = inputs.op_order(7, 1)
    assert a == inputs.op_order(7, 1)
    assert sorted(a) == sorted(inputs.PIPELINE_ENTRIES)
    assert a != inputs.op_order(8, 1)
    assert a != inputs.op_order(7, 2)


def test_pipeline_tables_are_seeded(tmp_path):
    import pandas as pd

    d1, d2, d3 = (str(tmp_path / n) for n in ("a", "b", "c"))
    rows = inputs.gen_pipeline_tables(1, d1, 50, 200)
    inputs.gen_pipeline_tables(1, d2, 50, 200)
    inputs.gen_pipeline_tables(2, d3, 50, 200)
    assert sorted(os.listdir(d1)) == sorted(f"{t}.parquet" for t in rows)
    for f in os.listdir(d1):
        a = pd.read_parquet(os.path.join(d1, f))
        assert a.equals(pd.read_parquet(os.path.join(d2, f)))
    assert not pd.read_parquet(os.path.join(d1, "events.parquet")).equals(
        pd.read_parquet(os.path.join(d3, "events.parquet"))
    )


def test_layer_metric_names_are_unique_and_valid():
    import re

    names = [n for n, _, _ in LAYER_METRICS]
    assert len(names) == len(set(names)) <= 128
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


# ---- event log ----


@pytest.fixture(scope="module")
def tiny_log(tmp_path_factory):
    """An event log of a tiny local job: a Python UDF stage, a shuffle, a
    parquet write and a read, inside two job groups."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("evlog")
    os.makedirs(base / "log")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(base / "log"))
        .config("spark.eventLog.compress", "false")
        .config("spark.local.dir", str(base / "local"))
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    sc = spark.sparkContext
    tr = tracing.Tracer(sc, enabled=True)

    # a lambda is pickled by value, so the Python workers need not import this file
    double = lambda it: (pdf.assign(y=pdf["id"] * 2) for pdf in it)  # noqa: E731
    out = str(base / "data")
    with tr.span("bench:write") as w:
        (spark.range(0, 1000, 1, 2).mapInPandas(double, "id long, y long")
         .groupBy((F.col("y") % 7).alias("k")).count().write.parquet(out))
    with tr.span("bench:read") as r:
        assert spark.read.parquet(out).count() == 7
    spark.stop()
    return tracing.parse_event_log(tracing.event_log_files(str(base / "log"))), w, r, out


def test_event_log_attributes_jobs_to_span_groups(tiny_log):
    log, w, r, _ = tiny_log
    assert w.jobs and r.jobs
    assert {log.jobs[j].group for j in w.jobs} == {w.group}
    assert {log.jobs[j].group for j in r.jobs} == {r.group}
    assert w.stages >= 2  # the shuffle splits the write into stages


def test_event_log_task_metrics(tiny_log):
    log, w, r, out = tiny_log
    m = tracing.sum_job_metrics(log, w.jobs)
    assert m["tasks"] >= 2 and m["tasks_failed"] == 0
    assert m["executor_run_s"] > 0 and m["executor_cpu_s"] > 0
    assert m["python_run_s"] > 0 and m["python_init_s"] > 0
    assert m["shuffle_write_bytes"] > 0
    assert any(out in log.written_by(j) for j in w.jobs)
    assert tracing.files_read_by(log, r.jobs) >= 1
