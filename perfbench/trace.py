"""Traced-run collector: spans around engine calls, attributed to Spark work.

Each span runs its engine call under ``sc.setJobGroup(<span id>)``.  When the
span ends, the collector maps the job group to its jobs, the jobs to their
stages, and the jobs to their SQL executions, reading Spark's two status
stores (both are live with ``spark.ui.enabled=false``):

* ``sc._jsc.sc().statusStore()`` — per stage ``executorRunTime``,
  ``executorCpuTime``, shuffle read/write bytes, spill, per-task durations;
* ``spark._jsparkSession.sharedState().statusStore()`` — the SQL metrics of
  the Python exchanges ("data sent to Python workers", "time to run Python
  workers", ...).

Both stores are filled by a listener that runs behind the actions, so the
collector drains the listener bus before it reads them.  A span's stage that
is still neither COMPLETE nor SKIPPED after that is kept in
:attr:`Collector.incomplete`, which the harness counts as a failed check.

Spans (name, start, end, parent, workload) and their figures stay in memory
and are written as one JSON artifact by :meth:`Collector.write`.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SQL metric name -> key in Span.python
PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_start_s",
}
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-zµ]+)")


def parse_metric_total(text: str) -> float:
    """The total of a formatted SQL size/timing metric, in bytes or seconds.

    Spark renders these as ``"total (min, med, max (stageId: taskId))\\n
    1612.1 KiB (403.0 KiB, ...)"``; a metric with one task omits the header.
    """
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    m = _TOTAL.match(lines[-1]) if lines else None
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Span:
    name: str
    workload: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    task_skew: float = 0.0
    max_task_share: float = 0.0
    python: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@contextmanager
def no_span(name: str):
    """The untraced stand-in for :meth:`Collector.span`."""
    yield None


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class Collector:
    """Records the spans of one traced pass."""

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # a job lists the stages it skipped because an earlier job already
        # ran them (shuffle or cache reuse); each stage counts once, in the
        # span that ran it
        self._attributed: set[int] = set()
        # "<span>: stage <id> <status>" for every stage the stores did not
        # show as finished
        self.incomplete: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1].name if self._stack else None
        group = f"{self.workload}:{name}:{len(self.spans) + len(self._stack)}"
        s = Span(name, self.workload, parent, time.time(), group=group)
        self._stack.append(s)
        sc.setJobGroup(group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            sc.setJobGroup(self._stack[-1].group if self._stack else "", "")
            self._attribute(s, group)
            self.spans.append(s)

    # -- status-store reads --------------------------------------------------
    def _attribute(self, s: Span, group: str) -> None:
        sc = self.spark.sparkContext
        # the status stores lag the actions until the listener bus is empty
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        s.jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        sql_ids: set[int] = set()
        for j in s.jobs:
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            sql = store.jobWithAssociatedSql(j)._2()
            if sql.isDefined():
                sql_ids.add(int(sql.get()))
        heaviest = None
        for sid in sorted(stage_ids - self._attributed):
            try:
                st = store.lastStageAttempt(sid)
            except Exception as e:  # noqa: BLE001 - evicted from the store
                self.incomplete.append(f"{s.name}: stage {sid} {type(e).__name__}")
                continue
            status = str(st.status())
            if status == "SKIPPED":  # its output was reused from earlier work
                continue
            if status != "COMPLETE":
                self.incomplete.append(f"{s.name}: stage {sid} {status}")
                continue
            self._attributed.add(sid)
            s.stages += 1
            run_ms = st.executorRunTime()
            s.run_s += run_ms / 1e3
            s.cpu_s += st.executorCpuTime() / 1e9
            s.shuffle_read_bytes += st.shuffleReadBytes()
            s.shuffle_write_bytes += st.shuffleWriteBytes()
            s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            s.peak_exec_mem_bytes = max(s.peak_exec_mem_bytes, st.peakExecutionMemory())
            if heaviest is None or run_ms > heaviest[1]:
                heaviest = (sid, run_ms, st.attemptId(), st.numTasks())
        if heaviest is not None:
            sid, run_ms, attempt, n_tasks = heaviest
            durs = [
                t.duration().get()
                for t in _seq(store.taskList(sid, attempt, n_tasks))
                if t.duration().isDefined()
            ]
            if durs and statistics.median(durs) > 0:
                s.task_skew = max(durs) / statistics.median(durs)
            if durs and sum(durs) > 0:
                s.max_task_share = max(durs) / sum(durs)
        self._python_metrics(s, sql_ids)

    def _python_metrics(self, s: Span, sql_ids: set[int]) -> None:
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for eid in sorted(sql_ids):
            ex = sql_store.execution(eid)
            if not ex.isDefined():
                continue
            values = sql_store.executionMetrics(eid)
            seen: set[int] = set()
            for m in _seq(ex.get().metrics()):
                key = PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    s.python[key] = s.python.get(key, 0.0) + parse_metric_total(v.get())

    # -- output ---------------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def covered_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by top-level spans."""
        return sum(
            max(0.0, min(s.end, end) - max(s.start, start))
            for s in self.spans
            if s.parent is None
        )

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [asdict(s) | {"wall_s": s.wall_s} for s in self.spans]},
                f,
                indent=1,
            )
