"""kgforge benchmark: one seeded workload through a public entry point.

    python3 perfbench/run.py --workload kg_chatty --seed 1 --seconds 30 --trace 0

Run from the root of a kgforge checkout. The run generates the
workload's inputs from ``--seed`` under ``.perfbench_work/`` and computes
the expected output counts, then starts fresh job processes
(``job.py``) one after another until ``--seconds`` have passed (at least
one). Each job is what one CLI or web job pays: ``get_spark`` and the
session's first entry-point call, with its output checked.

End-to-end metrics (``--trace 0``) are medians over the jobs:
``setup_s`` and ``cold_build_s`` as timed in the job. With ``--trace 1`` one
job makes the first call as a traced layer decomposition, then one warm
call, and the run reports its per-layer metrics.

A call that raises or returns a wrong output counts as failed, and so
does a job that dies (for example by the OOM killer) or is killed at
the run's time limit, which is stricter than the web UI's 300 s job
limit. The last line of standard output is the JSON result; the line
before it gives the samples behind each median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170.0  # a run must end within 180 s


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[3]) == pgid:
                        return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def run_job(args, work: str, env: dict, timeout: float) -> dict | None:
    """One job process in its own process group; None if it failed. On
    timeout the whole group (job, JVM, Python workers) is killed and
    waited for."""
    cmd = [
        sys.executable, os.path.join(HERE, "job.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--work", work, "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"job over {timeout:.0f} s: killed", file=sys.stderr)
        stdout = None
    finally:
        if proc.poll() is None or stdout is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        deadline = time.monotonic() + 30
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.2)
    if proc.returncode != 0 or not stdout:
        print(f"job exited with {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    t_run = time.monotonic()
    p = argparse.ArgumentParser(description="kgforge benchmark run")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import kgforge  # noqa: F401  (no program, no run)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every file a job writes stays inside the work directory, and the
    # Python workers import the program from this checkout
    env = dict(
        os.environ,
        KGFORGE_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(x for x in (ROOT, os.environ.get("PYTHONPATH")) if x),
    )
    jobs: list[dict] = []
    attempted = failed = 0
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.prepare()
        t_measure = time.monotonic()
        while True:
            job = run_job(args, work, env, RUN_LIMIT_S - (time.monotonic() - t_run))
            if job is None:
                attempted += 1
                failed += 1
                break
            attempted += job["attempted"]
            failed += job["failed"]
            if ("per_layer" if args.trace else "cold_build_s") not in job:
                break
            jobs.append(job)
            # another job only if it would end inside the measuring window
            elapsed = time.monotonic() - t_measure
            if args.trace or elapsed + elapsed / len(jobs) > args.seconds:
                break
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics: dict[str, dict] = {}
    if jobs and args.trace:
        metrics = jobs[0]["per_layer"]
    elif jobs:
        setup = [j["setup_s"] for j in jobs]
        cold = [j["cold_build_s"] for j in jobs]
        metrics = {
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            "cold_build_s": {"value": statistics.median(cold), "unit": "s"},
        }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "input_rows": wl.input_rows,
            "jobs": len(jobs), "setup_s": setup, "cold_build_s": cold,
        }))
    correct = failed == 0 and bool(jobs)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
