"""One benchmark job: a fresh process, one Spark session.

    python3 perfbench/job.py --workload NAME --seed N --work DIR --trace 0|1

Started by ``run.py`` after it has generated the inputs into ``DIR``.
The job times ``session.get_spark`` on ``local[4]`` (imports, JVM launch,
Python worker pre-fork), runs one pandas UDF that imports kgforge on the
workers (a failure fails the job), then makes the session's first
entry-point call and checks its output.

With ``--trace 1`` the session's first call is instead the same work
as a decomposition with one span per layer function (``spans.py``),
followed by one untraced warm entry-point call. The decomposition's
counts must equal the warm call's, and its spans must cover at least
``MIN_COVERAGE`` of its wall time; the spans are written to
``DIR/../perfbench-trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with the job's
timings, call counts and, when traced, its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# the layer spans must account for this share of the traced decomposition
MIN_COVERAGE = 0.95

# Layer functions the traced run reports, with the extra counts each
# carries. A function off the workload's path reports zeros.
LAYER_FUNCTIONS = {
    "fixtures.load_transcripts": (),
    "fixtures.load_entities": (),
    "fixtures.load_alternate_links": (),
    "fixtures.load_describe_links": (),
    "extract.extract_mentions": (),
    "linking.link_mentions": ("resolved_ratio",),
    "graph.bom_edges_from_linked": ("rows_out",),
    "graph.transitive_closure": ("rounds", "rows_out"),
    "canonicalize.assign_canonical_iris": (),
    "materialize.union_triples": ("rows_out",),
    "materialize.triple_counts": (),
    "materialize.write_ntriples": ("files_out", "bytes_out"),
    "resume.write_triples_resumable": ("files_out", "bytes_out"),
    "sources.read_excel_parts": (),
    "sources.read_excel_bom_edges": (),
    "sources.read_excel_alternates": (),
    "sources.read_excel_describe_links": (),
}
SPAN_METRICS = (("wall_s", "s"), ("task_s", "s"), ("idle_ratio", "ratio"), ("jobs", "count"), ("shuffle_mb", "MB"))
EXTRA_UNITS = {"resolved_ratio": "ratio", "rows_out": "rows", "rounds": "count", "files_out": "count", "bytes_out": "bytes"}


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def session_peak_mb(jvm_pid: int) -> float:
    """Peak resident memory of the JVM plus that of every Python worker
    process below it (each process's VmHWM)."""
    kids = _proc_children()
    total = _hwm_mb(jvm_pid)
    stack = list(kids.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_python = f.read().startswith("python")
        except OSError:
            continue
        if is_python:
            total += _hwm_mb(pid)
    return total


def _worker_probe(s):
    import kgforge  # noqa: F401  (fails if workers cannot import the program)

    return s.str.len()


def check_workers(spark) -> None:
    """One pandas UDF through the pre-forked workers; raises on failure."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    probe = pandas_udf(_worker_probe, "long")
    n = spark.range(CORES * 4).repartition(CORES).select(probe(F.col("id").cast("string")).alias("n"))
    if n.agg(F.sum("n")).first()[0] is None:
        raise RuntimeError("worker probe returned no rows")


class Run:
    """Call accounting for one job: attempted and failed calls, and the
    session's peak memory after each successful call."""

    def __init__(self, wl, jvm_pid: int):
        self.wl = wl
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failed = 0
        self.peak_mb = 0.0

    def call(self, what: str, fn):
        """Time one checked call; returns (seconds, stats) or None when it
        failed (exception or wrong output)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            stats = fn()
        except Exception:
            self.failed += 1
            print(f"{what}: exception\n{traceback.format_exc()}", file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        problems = self.wl.check(stats)
        if problems:
            self.failed += 1
            print(f"{what}: wrong output: {problems}", file=sys.stderr)
            return None
        self.peak_mb = max(self.peak_mb, session_peak_mb(self.jvm_pid))
        return dt, stats


def _traced_metrics(tr, total_s: float, warm_s: float, peak_mb: float, xl: dict, write_leg: tuple) -> dict:
    summary = tr.summary()
    m: dict[str, dict] = {}
    for fn, extras in LAYER_FUNCTIONS.items():
        agg = summary.get(fn, {})
        for key, unit in SPAN_METRICS:
            m[f"{fn}.{key}"] = {"value": agg.get(key, 0), "unit": unit}
        for key in extras:
            if key == "resolved_ratio":
                val = agg.get("resolved", 0) / agg["rows_out"] if agg.get("rows_out") else 0
            else:
                val = agg.get(key, 0)
            m[f"{fn}.{key}"] = {"value": val, "unit": EXTRA_UNITS[key]}
    m["xlsx.read_workbook.wall_s"] = {"value": xl["wall_s"], "unit": "s"}
    m["xlsx.read_workbook.calls"] = {"value": xl["calls"], "unit": "count"}
    span_sum = sum(s["wall_s"] for s in tr.spans)
    write_s = sum(s["wall_s"] for s in tr.spans if s["name"] in write_leg)
    m["trace.total_s"] = {"value": total_s, "unit": "s"}
    m["trace.span_sum_s"] = {"value": span_sum, "unit": "s"}
    m["trace.coverage"] = {"value": span_sum / total_s, "unit": "ratio"}
    # the traced counterpart of cold_build_s: the entry point makes no write
    m["trace.entry_point_s"] = {"value": total_s - write_s, "unit": "s"}
    m["warm_build_s"] = {"value": warm_s, "unit": "s"}
    m["session.peak_mem_mb"] = {"value": peak_mb, "unit": "MB"}
    return m


def traced_job(spark, wl, run: Run, work: str, seed: int) -> dict | None:
    """The session's first call as the workload's layer decomposition
    under the tracer, then one untraced warm entry-point call whose
    counts the decomposition must match. Returns the per-layer metrics,
    or None if either call failed."""
    from kgforge import xlsx

    from spans import Tracer

    xl = {"calls": 0, "wall_s": 0.0}
    read_workbook = xlsx.read_workbook

    def counted_read_workbook(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return read_workbook(*args, **kwargs)
        finally:
            xl["calls"] += 1
            xl["wall_s"] += time.perf_counter() - t0

    tr = Tracer(spark, CORES)
    xlsx.read_workbook = counted_read_workbook
    try:
        traced = run.call("traced", lambda: wl.traced(spark, tr))
    finally:
        xlsx.read_workbook = read_workbook
    if traced is not None:
        wl.finish_trace(tr)
    warm = run.call("warm", lambda: wl.build(spark))
    if traced is None or warm is None:
        return None
    (total_s, stats), (warm_s, warm_stats) = traced, warm
    problems = wl.check_written(spark, stats)
    if stats != {k: warm_stats.get(k) for k in stats}:
        problems.append(f"traced stats {stats} != entry point stats {warm_stats}")
    coverage = sum(s["wall_s"] for s in tr.spans) / total_s
    if coverage < MIN_COVERAGE:
        problems.append(f"spans cover {coverage:.3f} of the decomposition, under {MIN_COVERAGE}")
    if problems:
        run.failed += 1
        print(f"traced: {problems}", file=sys.stderr)
        return None
    tr.write(
        os.path.join(os.path.dirname(work), f"perfbench-trace-{wl.name}-{seed}.json"),
        workload=wl.name, seed=seed, total_s=total_s, warm_build_s=warm_s,
    )
    return _traced_metrics(tr, total_s, warm_s, run.peak_mb, xl, wl.WRITE_LEG)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="one kgforge benchmark job")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.work, args.seed)
    wl.load()

    t0 = time.perf_counter()
    from kgforge.session import get_spark

    spark = get_spark("perfbench", cores=CORES)
    setup_s = time.perf_counter() - t0
    from pyspark import SparkContext

    gateway_proc = SparkContext._gateway.proc
    out = {"setup_s": setup_s}
    try:
        check_workers(spark)
        run = Run(wl, gateway_proc.pid)
        if args.trace:
            per_layer = traced_job(spark, wl, run, args.work, args.seed)
            if per_layer is not None:
                out["per_layer"] = per_layer
        else:
            cold = run.call("cold", lambda: wl.build(spark))
            if cold is not None:
                out["cold_build_s"] = cold[0]
        out.update(attempted=run.attempted, failed=run.failed)
    finally:
        spark.stop()
        gateway_proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway_proc.wait(timeout=60)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
