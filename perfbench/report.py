"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Every metric is emitted for every workload; a layer a workload does not
exercise reads 0. ``LAYER_METRICS`` is the list ``BENCHMARK.json``'s
``per_layer`` section is written from (``python3 perfbench/report.py``
prints it).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from inputs import PIPELINE_ENTRIES
from tracing import (
    EventLog,
    Span,
    event_log_files,
    files_read_by,
    inclusive_jobs,
    parse_event_log,
    percentile,
    ratio,
    self_times,
    sum_job_metrics,
)
from workloads import RANKED

# span layer (module) → metric prefix
LAYERS = {
    "bench": "bench",
    "operators.build_index": "build_index",
    "operators.champions": "champions",
    "streaming.incremental": "incremental",
    "plans.parser": "parser",
    "operators.bm25": "bm25",
    "operators.fuzzy": "fuzzy",
    "operators.contains": "contains",
    "api": "api",
    **{f"operators.{m}": m for m in sorted(set(PIPELINE_ENTRIES.values()))},
}
SPARK = ("executor_run_s", "executor_cpu_s", "scheduler_wait_s", "python_init_s",
         "python_run_s", "gc_s", "tasks_failed")

# (name, unit, better)
LAYER_METRICS: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("build_index.wall_s", "s", "lower"),
    ("build_index.norms_s", "s", "lower"),
    ("build_index.postings_s", "s", "lower"),
    ("build_index.terms_s", "s", "lower"),
    ("build_index.python_run_s", "s", "lower"),
    ("build_index.shuffle_write_bytes", "bytes", "lower"),
    ("build_index.index_bytes", "bytes", "lower"),
    ("build_index.bytes_per_input_byte", "ratio", "lower"),
    ("build_index.docs_per_s", "docs/s", "higher"),
    ("champions.build_s", "s", "lower"),
    ("champions.served_ratio", "ratio", "higher"),
    ("champions.post_append_served_ratio", "ratio", "higher"),
    ("incremental.append_write_s", "s", "lower"),
    ("incremental.refresh_s", "s", "lower"),
    ("incremental.append_docs_per_s", "docs/s", "higher"),
    ("incremental.files_per_probe", "count", "lower"),
    ("incremental.probe_p50_s", "s", "lower"),
    ("parser.parse_s", "s", "lower"),
    ("bm25.plan_s", "s", "lower"),
    ("bm25.collect_s", "s", "lower"),
    ("bm25.count_p50_s", "s", "lower"),
    ("bm25.jobs_per_query", "count", "lower"),
    ("bm25.stages_per_query", "count", "lower"),
    ("bm25.python_run_s", "s", "lower"),
    ("bm25.input_bytes_per_query", "bytes", "lower"),
    ("fuzzy.latency_p50_s", "s", "lower"),
    ("fuzzy.jobs_per_query", "count", "lower"),
    ("contains.latency_p50_s", "s", "lower"),
    ("contains.jobs_per_query", "count", "lower"),
    ("contains.candidates_per_match", "ratio", "lower"),
    ("api.execute_p50_s", "s", "lower"),
    ("api.count_p50_s", "s", "lower"),
    *[(f"pipeline.{e}_s", "s", "lower") for e in sorted(PIPELINE_ENTRIES)],
    *[(f"pipeline.{m}_s", "s", "lower") for m in sorted(set(PIPELINE_ENTRIES.values()))],
    *[(f"spark.{k}", "count" if k == "tasks_failed" else "s", "lower") for k in SPARK],
    ("spark.jobs", "count", "lower"),
    *[(f"self.{p}_s", "s", "lower") for p in LAYERS.values()],
    ("memory.peak_rss_mb", "MB", "lower"),
    ("trace.setup_s", "s", "lower"),
    ("trace.setup_cpu_s", "s", "lower"),
    ("trace.cpu_s_per_op", "s", "lower"),
    ("trace.ops_per_s", "1/s", "higher"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.bookkeeping_s", "s", "lower"),
]


def _median(xs: list[float]) -> float:
    return percentile(xs, 50) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _durations(spans: list[Span], name: str) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name]


def _descendants(spans: list[Span], root: Span) -> list[Span]:
    ids, out = {root.id}, []
    for s in spans:  # spans are recorded in start order, parents first
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def build_metrics(spans: list[Span], log: EventLog, incl: dict[int, list[int]], wl) -> dict[str, float]:
    """Build phases: norms, postings and the term tables by the path each
    of the build's jobs writes; champions from their own span."""
    out: dict[str, float] = defaultdict(float)
    for b in (s for s in spans if s.name == "operators.build_index:build_index"):
        out["build_index.wall_s"] += b.end - b.start
        out["champions.build_s"] += sum(k.end - k.start for k in _descendants(spans, b)
                                        if k.name.endswith(":build_champions"))
        m = sum_job_metrics(log, incl[b.id])
        out["build_index.python_run_s"] += m.get("python_run_s", 0.0)
        out["build_index.shuffle_write_bytes"] += m.get("shuffle_write_bytes", 0.0)
        for j in incl[b.id]:
            rec, path = log.jobs.get(j), log.written_by(j)
            for phase, sub in (("norms", "/norms/"), ("postings", "/postings/"), ("terms", "terms/")):
                if rec is not None and sub in path:
                    out[f"build_index.{phase}_s"] += max(0, rec.end_ms - rec.start_ms) / 1e3
                    break
    if out["build_index.wall_s"]:
        out["build_index.index_bytes"] = wl.index_bytes
        out["build_index.bytes_per_input_byte"] = wl.index_bytes / wl.input_bytes
        out["build_index.docs_per_s"] = wl.build_docs / out["build_index.wall_s"]
    return out


def layer_metrics(tracer, mark: int, measured, wl, log_dir: str, counts: dict, given: dict) -> dict:
    """name → (value, unit) for every entry of ``LAYER_METRICS``.

    ``mark`` is the index of the first span of the timed pass; spans
    before it come from set-up (the search workload's build). ``given``
    holds the figures the run measured itself (session start, peak RSS,
    and the end-to-end metrics with tracing on, ``trace.*``)."""
    spans = tracer.spans
    timed_spans = spans[mark:]
    log = parse_event_log(event_log_files(log_dir))
    incl = inclusive_jobs(spans)
    out: dict[str, float] = defaultdict(float)
    out.update(given)
    out.update(build_metrics(spans, log, incl, wl))

    served = [s.attrs.get("served") for s in timed_spans if s.name.endswith(":champion_topk")]
    probe_ids = {d.id for p in timed_spans if p.name == "bench:probe" for d in _descendants(spans, p)}
    in_probe = [s.attrs.get("served") for s in timed_spans
                if s.name.endswith(":champion_topk") and s.id in probe_ids]
    out["champions.served_ratio"] = ratio(sum(1 for v in served if v) - sum(1 for v in in_probe if v),
                                          len(served) - len(in_probe))
    out["champions.post_append_served_ratio"] = ratio(sum(1 for v in in_probe if v), len(in_probe))

    appends = _durations(timed_spans, "streaming.incremental:append_docs")
    refreshes = _durations(timed_spans, "streaming.incremental:refresh_derived")
    out["incremental.append_write_s"] = _median(appends)
    out["incremental.refresh_s"] = _median(refreshes)
    if appends:
        out["incremental.append_docs_per_s"] = counts["appended_docs"] / (sum(appends) + sum(refreshes))
    probes = [s for s in timed_spans if s.name == "bench:probe"]
    out["incremental.files_per_probe"] = _mean([files_read_by(log, incl[p.id]) for p in probes])
    out["incremental.probe_p50_s"] = _median([p.end - p.start for p in probes])

    out["parser.parse_s"] = _median(_durations(timed_spans, "plans.parser:parse_websearch"))
    out["bm25.plan_s"] = _median(_durations(timed_spans, "operators.bm25:bm25_topk"))
    out["bm25.collect_s"] = _median(_durations(timed_spans, "operators.bm25:collect"))
    out["bm25.count_p50_s"] = _median(_durations(timed_spans, "operators.bm25:bm25_count"))
    ranked = [s for s in timed_spans if s.name == "bench:query" and s.attrs.get("cls") in RANKED]
    per_q = [sum_job_metrics(log, incl[s.id]) for s in ranked]
    out["bm25.jobs_per_query"] = _mean([len(incl[s.id]) for s in ranked])
    out["bm25.stages_per_query"] = _mean([sum(d.stages for d in [s, *_descendants(spans, s)]) for s in ranked])
    out["bm25.python_run_s"] = _mean([m.get("python_run_s", 0.0) for m in per_q])
    out["bm25.input_bytes_per_query"] = _mean([m.get("input_bytes", 0.0) for m in per_q])

    for layer, fn in (("fuzzy", "operators.fuzzy:fuzzy_search"), ("contains", "operators.contains:contains_search")):
        ss = [s for s in timed_spans if s.name == fn]
        out[f"{layer}.latency_p50_s"] = _median([s.end - s.start for s in ss])
        out[f"{layer}.jobs_per_query"] = _mean([len(incl[s.id]) for s in ss])
    out["contains.candidates_per_match"] = ratio(counts.get("contains_candidates", 0), counts.get("contains_matches", 0))
    out["api.execute_p50_s"] = _median(_durations(timed_spans, "api:execute"))
    out["api.count_p50_s"] = _median(_durations(timed_spans, "api:count"))

    for entry, module in PIPELINE_ENTRIES.items():
        med = _median(_durations(timed_spans, f"operators.{module}:{entry}"))
        out[f"pipeline.{entry}_s"] = med
        out[f"pipeline.{module}_s"] += med

    roots = [s for s in timed_spans if s.parent is None]
    jobs = sorted({j for r in roots for j in incl[r.id]})
    engine = sum_job_metrics(log, jobs)
    for k in SPARK:
        out[f"spark.{k}"] = engine.get(k, 0.0)
    out["spark.jobs"] = len(jobs)
    for layer, t in self_times(timed_spans).items():
        out[f"self.{LAYERS[layer]}_s"] = t

    out["trace.ops_per_s"] = measured.ops_per_s
    out["trace.op_p50_s"] = measured.op_p50_s
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return {name: (float(out.get(name, 0.0)), unit) for name, unit, _ in LAYER_METRICS}


if __name__ == "__main__":
    print(json.dumps([{"name": n, "unit": u, "better": b} for n, u, b in LAYER_METRICS], indent=2))
