"""Spans around the calls into each layer, with the Spark counters of
each span read back from the status store.

Every span runs its jobs under a job group of its own. At the end of a
traced run the spans' jobs come from ``statusTracker`` and their stages'
counters from the status store. Spans never overlap, so a layer's wall
time is its self time, and the layers' walls plus the remainder add up to
the traced run's wall.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

LAYERS = (
    "normalize",
    "block",
    "score",
    "route",
    "cluster",
    "merge",
    "observe",
    "catalog",
    "dedup.minhash",
    "dedup.ngram",
)
GENERIC = {
    "wall_s": "s",
    "busy_s": "s",
    "idle_s": "s",
    "jobs": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
    "skipped_stages": "count",
}
SPECIFIC = {
    "block.yield": "ratio",
    "cluster.sync_points": "count",
    "cluster.star_rounds": "count",
    "catalog.write_mb": "MB",
    "catalog.read_s": "s",
    "dedup.minhash.pairs_out": "count",
    "dedup.ngram.pairs_out": "count",
}
RUN = {
    "trace.wall_s": "s",  # traced run, entry call to materialized output
    "trace.other_s": "s",  # traced wall not covered by any layer span
    "trace.overhead_s": "s",  # traced wall minus the untraced median
}


def metric_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC.items()}
    units.update(SPECIFIC)
    units.update(RUN)
    return units


_MB = 2**20
_OUTSIDE = "erbench-outside-spans"


@dataclass
class Span:
    layer: str | None  # None until a later boundary names the layer
    group: str
    kind: str
    t0: float  # epoch seconds, the clock the status store's job times use
    t1: float = 0.0
    rows_out: int = 0


class Tracer:
    """Holds the spans of one traced run in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}  # SPECIFIC metrics the workloads count

    def begin(self, layer: str | None, kind: str = "") -> Span:
        group = f"erbench-span-{id(self)}-{len(self.spans)}"
        self.sc.setJobGroup(group, layer or "pending")
        span = Span(layer, group, kind, time.time())
        self.spans.append(span)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.time()
        self.sc.setJobGroup(_OUTSIDE, "outside any span")

    @contextlib.contextmanager
    def span(self, layer: str, kind: str = ""):
        s = self.begin(layer, kind)
        try:
            yield s
        finally:
            self.end(s)

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def layer_metrics(self, wall_s: float) -> dict[str, float]:
        """Per-layer metrics of the spans; ``wall_s`` is the traced run's
        wall, of which the part outside every span is ``trace.other_s``."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        # the status store is filled by an asynchronous listener
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in GENERIC}
        out.update({name: float(self.counts.get(name, 0.0)) for name in SPECIFIC})
        seen_stages: set[int] = set()
        for span in self.spans:
            if span.layer is None:
                raise RuntimeError(f"span {span.group} was never given a layer")
            p = span.layer + "."
            wall = span.t1 - span.t0
            busy_intervals = []
            for job_id in tracker.getJobIdsForGroup(span.group):
                out[p + "jobs"] += 1
                job = store.job(job_id)
                start = job.submissionTime().get().getTime() / 1000
                end = job.completionTime()
                end = end.get().getTime() / 1000 if end.isDefined() else span.t1
                busy_intervals.append((max(start, span.t0), min(end, span.t1)))
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    # a stage whose shuffle output an earlier job left
                    # behind is skipped: count it, never sum it twice
                    stage = store.lastStageAttempt(stage_id)
                    if stage_id in seen_stages or str(stage.status()) == "SKIPPED":
                        out[p + "skipped_stages"] += 1
                        continue
                    seen_stages.add(stage_id)
                    out[p + "busy_s"] += stage.executorRunTime() / 1000
                    out[p + "shuffle_mb"] += stage.shuffleWriteBytes() / _MB
                    out[p + "spill_mb"] += stage.diskBytesSpilled() / _MB
                    if span.layer == "catalog":
                        out["catalog.write_mb"] += stage.outputBytes() / _MB
            out[p + "wall_s"] += wall
            out[p + "idle_s"] += wall - _covered(busy_intervals)
            out[p + "rows_out"] += span.rows_out
            if span.kind == "read":
                out["catalog.read_s"] += wall
        out["trace.wall_s"] = wall_s
        out["trace.other_s"] = wall_s - sum(out[f"{layer}.wall_s"] for layer in LAYERS)
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total


# the pipeline stage each catalog table belongs to; tables not listed
# (run_metrics, anomaly_events, quality reports and gates) are observe's
_TABLE_STAGE = {
    "normalized": "normalize",
    "candidates": "block",
    "block_splits": "block",
    "scored": "score",
    "routed": "route",
    "reviews": "route",
    "llm_validations": "route",
    "cc_state": "cluster",
    "cc_state_idmap": "cluster",
    "clusters": "cluster",
    "entities": "merge",
    "source_lineage": "merge",
}


def table_stage(table: str, run_id: str) -> str:
    prefix = f"run_{run_id}_"
    name = table[len(prefix):] if table.startswith(prefix) else table
    return _TABLE_STAGE.get(name, "observe")


class TracedCatalog:
    """A ``TableCatalog`` wrapper for ``Pipeline(catalog=...)``.

    Each write first materializes its frame (persist + count) in a span of
    the stage that owns the table, then writes it in a ``catalog`` span;
    each read and drop is a ``catalog`` span. The time between two catalog
    calls belongs to the stage of the next write: that is the stage
    computing it. Materializing before the write is what separates a
    stage's compute from its snapshot write; it costs one extra pass over
    the cached frame, which the tracing overhead includes.
    """

    def __init__(self, inner, tracer: Tracer, run_id: str):
        self._inner = inner
        self._tr = tracer
        self._run_id = run_id
        self._pending: list[Span] = []
        self._gap: Span | None = None

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def open(self) -> None:
        self._gap = self._tr.begin(None)

    def close(self, layer: str) -> None:
        """Ends the last gap and names every unnamed span ``layer``."""
        self._end_gap()
        self._name_pending(layer)

    def _end_gap(self) -> None:
        self._tr.end(self._gap)
        self._pending.append(self._gap)
        self._gap = None

    def _name_pending(self, layer: str) -> None:
        for s in self._pending:
            s.layer = layer
        self._pending = []

    def write(self, name: str, df, mode: str = "overwrite") -> None:
        stage = table_stage(name, self._run_id)
        self._end_gap()
        self._name_pending(stage)
        with self._tr.span(stage) as s:
            df = df.persist()
            rows = s.rows_out = df.count()
        with self._tr.span("catalog", "write") as s:
            self._inner.write(name, df, mode)
            s.rows_out = rows
        df.unpersist()
        self.open()

    def read(self, name: str):
        return self._catalog_call("read", self._inner.read, name)

    def drop(self, name: str) -> None:
        self._catalog_call("drop", self._inner.drop, name)

    def _catalog_call(self, kind: str, fn, name: str):
        self._end_gap()
        with self._tr.span("catalog", kind):
            out = fn(name)
        self.open()
        return out
