"""Layer spans for the traced benchmark run.

Each span wraps one call into a kgforge layer under its own Spark job
group. When the span closes, the tracer waits for the listener bus to
drain, then reads the group's jobs and their stages from Spark's status
store (populated even with ``spark.ui.enabled=false``) and sums the
executor run time and shuffle bytes of every stage that ran. Lazy
DataFrames are cached and counted inside their span, so the work a
layer describes is done, and timed, inside that layer's span.

Spans are kept in memory and written out as JSON once the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self.start = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as layer call ``name``; the yielded
        dict takes extra per-call counts (rows_out, rounds, ...)."""
        group = f"perfbench-{len(self.spans)}"
        extras: dict = {}
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield extras
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(
            {"name": name, "start_s": t0 - self.start, "wall_s": t1 - t0, **self._stage_metrics(group), **extras}
        )

    def df(self, name: str, make):
        """Span around ``make()``, a layer call returning a DataFrame;
        the frame is cached and counted inside the span."""
        with self.span(name) as ex:
            out = make().cache()
            ex["rows_out"] = out.count()
        return out

    def _stage_metrics(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        run_ms = shuffle_bytes = 0
        n_stages = 0
        for sid in stage_ids:
            # a stage another group already ran is listed again here as
            # SKIPPED; only stages that ran for this group count
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "COMPLETE":
                n_stages += 1
                run_ms += st.executorRunTime()
                shuffle_bytes += st.shuffleWriteBytes()
        return {
            "jobs": len(job_ids),
            "stages": n_stages,
            "task_s": run_ms / 1000.0,
            "shuffle_mb": shuffle_bytes / 1e6,
        }

    def summary(self) -> dict:
        """Per-layer-function totals: wall, task time, idle ratio, jobs,
        shuffle and any extra counts, summed over that function's spans."""
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s["name"], {})
            for k, v in s.items():
                if k not in ("name", "start_s") and isinstance(v, (int, float)):
                    agg[k] = agg.get(k, 0) + v
        for agg in out.values():
            busy = agg["wall_s"] * self.cores
            agg["idle_ratio"] = 1.0 - agg["task_s"] / busy if busy > 0 else 1.0
        return out

    def write(self, path: str, **meta) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "cores": self.cores, "spans": self.spans}, f, indent=1)
