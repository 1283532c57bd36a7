"""Spans around calls into spel_spark layers, with Spark's stage metrics.

A span tags every Spark job it triggers with ``setJobGroup(tag, tag)``.
When the span ends, the job ids of the group come from
``statusTracker().getJobIdsForGroup`` and their stages from
``statusStore().job(id).stageIds()``; stage metrics come from
``statusStore().stageList(...)`` and the task-time median and max of a
stage from ``statusStore().taskSummary(...)``.  The driver's status store
serves all of these with the UI disabled.

Spans live in memory (name, layer, start, end, parent, metrics) and are
written out once, by the caller, when the run ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the modules of spel_spark that the workloads call into
LAYERS = (
    "session", "mentions", "blocking", "scoring", "clustering", "dedup", "incremental",
    "io",
)
# stage-metric fields summed over a layer's spans
STAGE_FIELDS = (
    "jobs", "tasks", "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes",
)
# every field ``layer_totals`` reports for a layer, with its unit
LAYER_UNITS = {
    "wall_s": "s", "task_s": "s", "util": "ratio", "jobs": "count",
    "tasks": "count", "rows_out": "rows", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "skew": "ratio",
}


@dataclass
class Span:
    name: str
    layer: str | None  # None: a span that groups layer spans, e.g. one job
    start: float
    parent: int | None
    tag: str = ""
    end: float = 0.0
    metrics: dict = field(default_factory=dict)
    rows_out: int = 0


def _doubles(sc, values):
    arr = sc._gateway.new_array(sc._jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = float(v)
    return arr


class StageReader:
    """Job and stage metrics of one job group, from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jsc = self.sc._jsc.sc()
        self._median_max = _doubles(self.sc, [0.5, 1.0])
        self._none = _doubles(self.sc, [])

    def group_metrics(self, tag: str) -> dict:
        # the status store is fed asynchronously by the listener bus: wait
        # until every event of the finished jobs has been applied
        self.jsc.listenerBus().waitUntilEmpty()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(tag))
        store = self.jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(int(jid)).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.length()))
        out = {k: 0 for k in STAGE_FIELDS}
        out["jobs"] = len(job_ids)
        out["skew"] = 0.0
        if not stage_ids:
            return out
        # COMPLETE attempts only: a stage skipped for shuffle reuse never ran
        statuses = self.jvm.java.util.ArrayList()
        statuses.add(self.jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = store.stageList(
            statuses, False, False, self._none, self.jvm.java.util.ArrayList()
        )
        worst = None
        for i in range(stages.length()):
            st = stages.apply(i)
            if int(st.stageId()) not in stage_ids:
                continue
            run_ms = int(st.executorRunTime())
            out["tasks"] += int(st.numCompleteTasks())
            out["task_s"] += run_ms / 1000.0
            out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.diskBytesSpilled())
            out["output_bytes"] += int(st.outputBytes())
            if worst is None or run_ms > worst[0]:
                worst = (run_ms, int(st.stageId()), int(st.attemptId()))
        if worst is None:
            return out
        # skew: max / median task time of the stage that ran longest
        summary = store.taskSummary(worst[1], worst[2], self._median_max)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            med, mx = float(rt.apply(0)), float(rt.apply(1))
            out["skew"] = mx / med if med > 0 else 1.0
        return out


class Tracer:
    """Span recorder.  Disabled, ``span`` is a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = self.reader = None
        self.spans: list[Span] = []
        self._open: list[int] = []  # indices of the spans still open
        self._ids = itertools.count()

    def bind(self, spark) -> None:
        """Trace the jobs of ``spark``'s context from now on (a span's
        metrics are read when it ends, so a context may be replaced
        between spans)."""
        self.sc = spark.sparkContext
        if self.enabled:
            self.reader = StageReader(spark)

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """A span for work that ran before any Spark job could be tagged."""
        if self.enabled:
            self.spans.append(Span(name, layer, start, None, end=end))

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        if layer is not None and layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._open[-1] if self._open else None
        sp = Span(name, layer, time.perf_counter(), parent,
                  tag=f"perfbench-{next(self._ids)}-{name}")
        self._open.append(len(self.spans))
        self.spans.append(sp)
        self.sc.setJobGroup(sp.tag, sp.tag)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self._open:
                outer = self.spans[self._open[-1]].tag
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc._jsc.clearJobGroup()
            sp.metrics = self.reader.group_metrics(sp.tag)

    def layer_totals(self, cores: int) -> dict:
        """Per-layer sums over the layer spans (which never nest), with
        ``util`` = task_s / (wall_s x cores) and ``skew`` the largest
        of the layer's spans."""
        tot = {
            ly: {"wall_s": 0.0, "rows_out": 0, "skew": 0.0, **{k: 0 for k in STAGE_FIELDS}}
            for ly in LAYERS
        }
        for sp in self.spans:
            if sp.layer is None:
                continue
            t = tot[sp.layer]
            t["wall_s"] += sp.end - sp.start
            t["rows_out"] += sp.rows_out
            t["skew"] = max(t["skew"], sp.metrics.get("skew", 0.0))
            for k in STAGE_FIELDS:
                t[k] += sp.metrics.get(k, 0)
        for t in tot.values():
            t["util"] = t["task_s"] / (t["wall_s"] * cores) if t["wall_s"] > 0 else 0.0
        return tot

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": i, "name": sp.name, "layer": sp.layer, "parent": sp.parent,
                "start_s": sp.start - t0, "end_s": sp.end - t0,
                "rows_out": sp.rows_out, **sp.metrics,
            }
            for i, sp in enumerate(self.spans)
        ]
