"""Spans, Spark stage metrics and process memory for the benchmark.

Spans are recorded from the benchmark's own files, around its calls into
the engine: the engine itself carries no tracing. An untraced op uses
``NULL_TRACER``, whose ``span`` is a shared no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """In-memory spans. Each span holds the op id, name, start, end and
    the index of its parent span (None for a top-level span). While a
    span is open its Spark jobs run in the job group ``group(op, name)``,
    so the status store attributes them to it."""

    def __init__(self, stages: "SparkStages") -> None:
        self.stages = stages
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @staticmethod
    def group(op: int, name: str) -> str:
        return f"op{op}:{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        # the job-group calls sit outside the span's interval
        self.stages.set_group(self.group(self.op, name))
        rec = {"op": self.op, "name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.stages.set_group(
                self.group(self.op, self.spans[parent]["name"]) if parent is not None else None
            )

    def op_spans(self, op: int) -> dict[str, float]:
        """Milliseconds per span name for one op (summed over repeats)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + 1e3 * (s["end"] - s["start"])
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


class _NullTracer:
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null


NULL_TRACER = _NullTracer()


class SparkStages:
    """Per-job-group Spark metrics read from the JVM status store, which
    works with the Spark UI disabled."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        # a job that reuses an earlier job's shuffle lists that stage
        # again as COMPLETE; each stage is counted once, by its first job
        self._counted: set[int] = set()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_metrics(self, group: str) -> dict[str, float]:
        """Summed job, stage, task and executor metrics over the jobs of
        ``group``. Skipped stages and stages already counted for an
        earlier group count neither as stages nor tasks."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        empty_list = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        m = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            ),
            0.0,
        )
        for jid in tracker.getJobIdsForGroup(group):
            m["jobs"] += 1
            sids = store.job(jid).stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in self._counted:
                    continue
                attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if str(sd.status()) != "COMPLETE":
                        continue
                    self._counted.add(sid)
                    m["stages"] += 1
                    m["tasks"] += sd.numCompleteTasks()
                    m["executor_run_ms"] += sd.executorRunTime()
                    m["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                    m["input_bytes"] += sd.inputBytes()
                    m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return m


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
