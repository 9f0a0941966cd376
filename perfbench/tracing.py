"""Per-layer tracing from outside the engine package.

Layer attribution rides Spark job groups: each operation runs under the
group ``<op>``; its query-function phase under ``<op>/fn``; its writes
(the noop write, or ``DataFrameWriter.saveAsTable`` inside a registry
build) under ``<op>/write``; registry data tests (``DataTest.run``) under
``<op>/test``. After the operation, the jobs of each group are read from
``SparkContext.statusTracker()`` and the stage metrics from the
application status store, both of which work with the UI disabled.

Spans (operation, phase, Spark job) are kept in memory and written out
when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import time

#: Per-operation counts the drift check compares between two runs.
COUNTS = (
    "jobs", "stages", "tasks", "eager_jobs", "test_jobs", "lineage_cuts",
    "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "rows_written", "bytes_written",
)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length in seconds of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Collects spans and counters for one run; ``enabled=False`` makes
    every hook a no-op so the untraced run measures the bare calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.records: list[dict] = []
        self.overhead_s = 0.0
        self._op: str | None = None
        self._phases: list[dict] = []
        self._stack: list[str] = []
        self._undo: list = []
        if enabled:
            self._install()

    # ------------------------------------------------------------ wrapping
    def _wrap(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def _install(self) -> None:
        """Wrap public entry points: file reads, table writes, data tests."""
        from pyspark.sql import DataFrameReader, DataFrameWriter

        from local_data_pipeline_spark.registry import DataTest

        def in_phase(name):
            def make(orig):
                def wrapped(*a, **k):
                    with self.phase(name):
                        return orig(*a, **k)

                return wrapped

            return make

        for fmt in ("parquet", "orc", "json", "csv"):
            self._wrap(DataFrameReader, fmt, in_phase("load"))
        self._wrap(DataFrameWriter, "saveAsTable", in_phase("write"))
        self._wrap(DataTest, "run", in_phase("test"))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------- phases
    @contextlib.contextmanager
    def phase(self, name: str):
        """Time a phase of the current operation under job group
        ``<op>/<name>``; a nested phase takes over the group until it ends.
        The job-group calls on entry and exit count as tracer overhead."""
        if not self.enabled or self._op is None:
            yield
            return
        c0 = time.perf_counter()
        sc = self.spark.sparkContext
        self._stack.append(name)
        sc.setJobGroup(f"{self._op}/{name}", name)
        t0 = time.time()
        self.overhead_s += time.perf_counter() - c0
        try:
            yield
        finally:
            t1 = time.time()
            c0 = time.perf_counter()
            self._stack.pop()
            self._phases.append({"name": name, "start": t0, "end": t1})
            outer = f"{self._op}/{self._stack[-1]}" if self._stack else self._op
            sc.setJobGroup(outer, outer)
            self.overhead_s += time.perf_counter() - c0

    @contextlib.contextmanager
    def operation(self, op_id: str, name: str, kind: str, pass_no: int):
        """Wrap one operation; on exit (traced runs) collect its record."""
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        self._op, self._phases, self._stack = op_id, [], []
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        self.overhead_s += time.perf_counter() - c0
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            c0 = time.perf_counter()
            self.records.append(self._collect(op_id, name, kind, pass_no, t0, t1))
            self.spark.sparkContext.setJobGroup("", "")
            self._op = None
            self.overhead_s += time.perf_counter() - c0

    # ----------------------------------------------------------- counters
    def _collect(self, op_id, name, kind, pass_no, t0, t1) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        rec = {
            "op": op_id, "name": name, "kind": kind, "pass": pass_no,
            "start": t0, "end": t1, "wall_s": t1 - t0,
            "lineage_cuts": len(sc._jsc.getPersistentRDDs()),
            "phases": self._phases,
            "spans": [],
        }
        for k in COUNTS:
            rec.setdefault(k, 0)
        for k in ("executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes",
                  "eager_job_s", "fn_s", "load_s", "write_s", "test_s",
                  "fn_job_s"):
            rec[k] = 0.0
        for ph in self._phases:
            rec[f"{ph['name']}_s"] = rec.get(f"{ph['name']}_s", 0.0) + ph["end"] - ph["start"]
        eager: list[tuple[float, float]] = []
        in_fn: list[tuple[float, float]] = []
        seen: set[int] = set()
        for group, layer in ((op_id, "eager"), (f"{op_id}/fn", "eager"),
                             (f"{op_id}/load", "load"), (f"{op_id}/write", "write"),
                             (f"{op_id}/test", "test")):
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                info = tracker.getJobInfo(jid)
                jd = store.job(jid)
                js = jd.submissionTime().get().getTime() / 1000.0
                je = (jd.completionTime().get().getTime() / 1000.0
                      if jd.completionTime().isDefined() else t1)
                rec["spans"].append({"name": f"job {jid}", "group": group,
                                     "layer": layer, "start": js, "end": je})
                rec["jobs"] += 1
                if layer in ("eager", "load"):
                    in_fn.append((js, je))
                if layer == "eager":
                    rec["eager_jobs"] += 1
                    eager.append((js, je))
                elif layer == "test":
                    rec["test_jobs"] += 1
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += sd.numCompleteTasks()
                    rec["executor_run_s"] += sd.executorRunTime() / 1e3
                    rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["gc_s"] += sd.jvmGcTime() / 1e3
                    rec["input_bytes"] += sd.inputBytes()
                    rec["input_records"] += sd.inputRecords()
                    rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if layer == "write":
                        rec["bytes_written"] += sd.outputBytes()
        rec["eager_job_s"] = _union_s(eager)
        rec["fn_job_s"] = _union_s(in_fn)
        return rec


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process, in MiB."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def layer_metrics(records: list[dict], cores: int, setup: dict) -> dict:
    """Per-layer totals over the records of one pass, keyed by the names in
    BENCHMARK.json."""

    def total(key: str, kind: str | None = None) -> float:
        return sum(r[key] for r in records if kind is None or r["kind"] == kind)

    wall = total("wall_s")
    q_fn = total("fn_s", "query")
    reg_in = total("input_bytes", "registry")
    reg_out = total("bytes_written", "registry")
    run_s = total("executor_run_s")
    return {
        "sources.load_s": total("load_s"),
        "sources.input_bytes": total("input_bytes"),
        "sources.input_records": total("input_records"),
        "queries.fn_s": q_fn,
        "queries.driver_self_s": max(q_fn - total("fn_job_s", "query"), 0.0),
        "operators.eager_jobs": total("eager_jobs"),
        "operators.eager_job_s": total("eager_job_s"),
        "operators.lineage_cuts": total("lineage_cuts"),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.write_s": total("write_s"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.busy_frac": run_s / (cores * wall) if wall else 0.0,
        "spark.gc_s": total("gc_s"),
        "registry.model_s": total("wall_s", "registry") - total("test_s", "registry"),
        "registry.test_s": total("test_s", "registry"),
        "registry.test_jobs": total("test_jobs", "registry"),
        "registry.rows_written": total("rows_written", "registry"),
        "registry.bytes_written": reg_out,
        "registry.write_amp": reg_out / reg_in if reg_in else 0.0,
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
    }
