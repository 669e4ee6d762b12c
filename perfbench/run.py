"""Benchmark entry point.

    python3 perfbench/run.py --workload search_lifecycle --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints a run record and the workload's
named figures as JSON lines, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes lives under ``.perfbench_tmp/`` in the
checkout and is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "project_gutenberg_full_text_search_spark"
DEADLINE_S = 170  # a run must end within 180 s; stop well before that


# ---------------------------------------------------------------------------
# processes and memory, from /proc
# ---------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as fh:
                    stat = fh.read()
                out[int(d)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    pp = _ppid_map()
    kids: dict[int, list[int]] = {}
    for c, p in pp.items():
        kids.setdefault(p, []).append(c)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int) -> float:
    """CPU time of a process and of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            f = fh.read().rsplit(b")", 1)[1].split()
        return sum(int(x) for x in f[11:15]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def tree_cpu_seconds() -> float:
    """CPU time of this process, the Spark JVM and its Python workers.
    Unlike wall time it leaves out time the host gave to other guests."""
    me = os.getpid()
    return sum(cpu_seconds(p) for p in [me, *descendants(me)])


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants: the Spark JVM and
    its Python workers (the benchmark's own interpreter is excluded)."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period, self.peak, self._stop_evt = period, 0, threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.period):
            self.peak = max(self.peak, sum(rss_bytes(p) for p in descendants(me)))

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


def stray_processes() -> list[str]:
    mine = set(descendants(os.getpid())) | {os.getpid()}
    out = []
    for pid in _ppid_map():
        c = cmdline(pid)
        if pid not in mine and (c.split(" ")[0].endswith("java") or "--scaling-worker" in c):
            out.append(f"{pid}: {c[:120]}")
    return out


def meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def run_record(cpus: int) -> dict:
    def out(cmd: list[str]) -> str:
        try:
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=20)
            return (p.stdout + p.stderr).strip().splitlines()[0] if p.returncode == 0 else "unknown"
        except (OSError, subprocess.SubprocessError, IndexError):
            return "unknown"

    import pyspark

    return {
        "nproc": cpus,
        "mem_available_mb": round(meminfo_mb("MemAvailable")),
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": out(["java", "-version"]),
        # only when the checkout is itself a git work tree, not inside one
        "commit": out(["git", "rev-parse", "HEAD"])
        if out(["git", "rev-parse", "--show-toplevel"]) == ROOT else "unknown",
        "stray_processes": stray_processes(),
    }


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM (closing its stdin ends it) and wait until every
    process this run started has exited; kill what outlives the grace."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + grace_s
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search_lifecycle", "pipeline_ops"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from the repository root", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "tmp"))
    # The engine's documented knobs stay at their defaults (driver heap
    # included); only the core count, the import path (Spark's Python
    # workers import the package) and where files go are set, so that
    # nothing is read from or written outside this checkout.
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PGFTS_INDEX_CACHE=os.path.join(tmp, "index_cache"),
        PGFTS_LOCAL_DIR=os.path.join(tmp, "spark-local"),
        TMPDIR=os.path.join(tmp, "tmp"),
    )
    sys.path[:0] = [ROOT, HERE]

    watchdog = threading.Timer(DEADLINE_S, lambda: (print("perfbench: deadline passed", file=sys.stderr),
                                                    stop_processes(2.0), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()
    sampler = RssSampler()
    try:
        record = run_record(cpus)
        sampler.start()
        out = run_workload(args, tmp, sampler)
    finally:
        stop_processes()
        watchdog.cancel()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    record["spark.driver.memory"] = out.pop("driver_memory")
    print(json.dumps({"run_record": record}))
    print(json.dumps({"workload": args.workload, "seed": args.seed, **out.pop("named")}, default=str))
    if "spans" in out:
        print(json.dumps({"spans": out.pop("spans")}))
    print(json.dumps(out))
    return 0


def run_workload(args, tmp: str, sampler: RssSampler) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS

    t0, cpu0 = time.perf_counter(), tree_cpu_seconds()
    from project_gutenberg_full_text_search_spark.session import get_spark

    extra = {"spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}"}
    if args.trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    undo = install_layer_spans(tracer) if args.trace else []
    try:
        wl = WORKLOADS[args.workload](spark, tmp, args.seed, tracer)
        setup_s, cpu1 = time.perf_counter() - t0, tree_cpu_seconds()
        mark = len(tracer.spans)  # spans before it are set-up's (the index build)
        m = wl.measure(args.seconds)
        cpu_per_op = (tree_cpu_seconds() - cpu1) / len(m.ops)
        peak_mb = sampler.stop() / 2**20
        tracer.enabled = False
        counts = wl.trace_counts(m.ops) if args.trace else {}
        t_check = time.perf_counter()
        wl.check(m.ops)
        check_s = time.perf_counter() - t_check
    finally:
        for u in undo:
            u()
        driver_memory = spark.sparkContext.getConf().get("spark.driver.memory", "unset")
        spark.stop()
    failed = [o for o in m.ops if o.error is not None or o.ok is not True]
    for o in failed:
        print(f"perfbench: FAILED {o.kind} {o.arg!r}\n{o.error or 'wrong result'}", file=sys.stderr)
    e2e = {
        "setup_s": (setup_s, "s"),
        "setup_cpu_s": (cpu1 - cpu0, "s"),
        "cpu_s_per_op": (cpu_per_op, "s"),
    }
    named = {
        **{k: v for k, (v, _) in e2e.items()},
        "session_start_s": session_s, "timed_s": m.wall_s, "check_s": check_s,
        "ops_per_s": m.ops_per_s, "op_p50_s": m.op_p50_s, "peak_rss_mb": peak_mb, **m.named,
        "ops_failed_ratio": len(failed) / len(m.ops), "attempted": len(m.ops),
    }
    out = {"correct": not failed, "attempted": len(m.ops), "failed": len(failed)}
    if args.trace:
        from report import layer_metrics

        stop_processes()
        metrics = layer_metrics(tracer, mark, m, wl, os.path.join(tmp, "eventlog"), counts,
                                {"session.start_s": session_s, "memory.peak_rss_mb": peak_mb,
                                 **{f"trace.{k}": v for k, (v, _) in e2e.items()}})
        out["spans"] = tracer.to_json()
    else:
        metrics = e2e
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {**out, "named": named, "driver_memory": driver_memory}


def install_layer_spans(tracer) -> list:
    """Spans inside engine calls the benchmark does not make itself: build
    phases, champion serving (with whether it served) and champion builds."""
    import project_gutenberg_full_text_search_spark.operators.build_index as bi
    import project_gutenberg_full_text_search_spark.operators.champions as ch
    import project_gutenberg_full_text_search_spark.streaming.incremental as inc

    def served(span, res):
        span.attrs["served"] = res is not None

    return [
        tracer.wrap(bi, "write_shard_terms", "operators.build_index"),
        tracer.wrap(inc, "write_shard_terms", "operators.build_index"),
        tracer.wrap(ch, "build_champions", "operators.champions"),
        tracer.wrap(ch, "champion_topk", "operators.champions", on_result=served),
    ]


if __name__ == "__main__":
    sys.exit(main())
