"""Spans around the program's layer boundaries, attributed to Spark work.

A traced run wraps the public functions listed in ``LAYERS`` (and the
benchmark's own registry and action calls) in spans. Every span sets its
own Spark job group, so a job belongs to the innermost span that was open
when it was submitted. Structured Streaming runs its jobs under the
query's run id instead; those jobs are matched to the innermost span open
at their submission time. A streaming listener maps each query's run id to
the span that started it and counts the query's epochs there.

After each pass ``harvest`` reads the application status store (jobs and
stages) and the SQL status store (``MapInPandas`` Python time). Spans stay
in memory until ``dump``. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import sys
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: Layer -> (module, public functions). Layers in ``PER_FUNCTION`` get one
#: span name per function, the rest one span name per layer.
LAYERS = {
    "session": ("parcialbigdata_spark.session", ("get_spark", "release_checkpoint")),
    "sources.tables": ("parcialbigdata_spark.sources.tables", ("load_table", "load_tables", "register_views")),
    "operators.dedup": (
        "parcialbigdata_spark.operators.dedup",
        ("minhash_index_ingest", "minhash_index_probe", "minhash_index_compact"),
    ),
    "operators.graph": (
        "parcialbigdata_spark.operators.graph",
        (
            "pagerank_scaled", "pagerank_conserving", "pagerank_personalized", "kcore",
            "label_propagation", "shortest_paths", "dedup_clusters", "connected_components",
        ),
    ),
    "streaming.dedup_store": ("parcialbigdata_spark.streaming.dedup_store", ("run_streaming_minhash_index",)),
    "pipeline.parse": (
        "parcialbigdata_spark.pipeline.parse",
        ("read_landing", "exploded_cards", "parse_listings", "compat_view"),
    ),
    "pipeline.sink": (
        "parcialbigdata_spark.pipeline.sink",
        ("write_csv_distributed", "write_csv_distributed_observed", "write_csv_per_source"),
    ),
    "streaming.pipeline": (
        "parcialbigdata_spark.streaming.pipeline",
        ("stream_landing_to_csv", "run_available_now"),
    ),
}
PER_FUNCTION = ("session", "operators.dedup", "operators.graph")

#: Spans opened by the benchmark itself around registry builders and actions.
QUERIES, EXECUTE = "queries", "execute"

_GROUP_PREFIX = "layerbench-"
_STAGE_FIELDS = (
    "run_ms", "cpu_ns", "gc_ms", "input_b", "output_b", "shuffle_read_b", "shuffle_write_b", "spill_b", "tasks",
)


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    epochs: list = field(default_factory=list)
    stage: dict = field(default_factory=lambda: dict.fromkeys(_STAGE_FIELDS, 0))
    python_udf_ms: float = 0.0

    @property
    def layer(self) -> str:
        for layer in LAYERS:
            if self.name == layer or self.name.startswith(layer + "."):
                return layer
        return self.name


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it covered by its children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append(s.end - s.start - covered)
    return out


def _metric_seconds(text: str) -> float:
    """First value of a Spark SQL timing metric string, in seconds
    (``"total (min, med, max ...)\\n10.3 s (2.5 s, ...)"``)."""
    m = re.search(r"\n\s*([\d.]+) (ms|s|m|h)\b", text)
    if not m:
        return 0.0
    return float(m.group(1)) * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]


class _EpochListener(StreamingQueryListener):
    """Counts each streaming query's epochs on the span that started it.
    ``onQueryStarted`` runs before ``DataStreamWriter.start()`` returns, so
    the span open at that moment is the one that started the query."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        stack = self.tracer._stack
        self.tracer._run_span[str(event.runId)] = stack[-1] if stack else None

    def onQueryProgress(self, event) -> None:
        progress = event.progress
        idx = self.tracer._run_span.get(str(progress.runId))
        if idx is not None:
            self.tracer.spans[idx].epochs.append([str(progress.runId), progress.batchId])

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans, job groups and the status-store harvest for one Spark app."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._seen_execs: set[int] = set()
        self._patched: list[tuple[object, str, object]] = []
        self._run_span: dict[str, int | None] = {}

    # -- spans --------------------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a (new) SparkContext; job ids restart with it."""
        self._sc = spark.sparkContext
        self._seen_jobs.clear()
        self._seen_stages.clear()
        self._seen_execs.clear()
        spark.streams.addListener(_EpochListener(self))

    def _set_group(self) -> None:
        if self._sc is None or self._sc._jsc is None:
            return
        if self._stack:
            idx = self._stack[-1]
            self._sc.setJobGroup(f"{_GROUP_PREFIX}{idx}", self.spans[idx].name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, self._stack[-1] if self._stack else None, time.time()))
        self._stack.append(idx)
        self._set_group()
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._set_group()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self) -> None:
        """Route every call of the ``LAYERS`` functions through a span,
        including calls through names other modules imported directly."""
        for layer, (module_name, names) in LAYERS.items():
            module = importlib.import_module(module_name)
            for fn_name in names:
                orig = getattr(module, fn_name)
                traced = self._wrap(f"{layer}.{fn_name}" if layer in PER_FUNCTION else layer, orig)
                for mod in list(sys.modules.values()):
                    name = getattr(mod, "__name__", "")
                    if not (name.startswith("parcialbigdata_spark") or name.startswith("layerbench")):
                        continue
                    if getattr(mod, fn_name, None) is orig:
                        setattr(mod, fn_name, traced)
                        self._patched.append((mod, fn_name, orig))

    def uninstrument(self) -> None:
        for mod, fn_name, orig in reversed(self._patched):
            setattr(mod, fn_name, orig)
        self._patched.clear()

    # -- harvest ------------------------------------------------------
    def _owner(self, job, submitted_s: float) -> int | None:
        group = job.jobGroup()
        if group.isDefined() and group.get().startswith(_GROUP_PREFIX):
            return int(group.get()[len(_GROUP_PREFIX):])
        # Streaming jobs carry the query run id as their group: attribute
        # them to the innermost span open at submission.
        return self._span_at(submitted_s)

    def _span_at(self, t: float) -> int | None:
        """Innermost span open at wall time ``t``."""
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= (s.end or float("inf")) and (best is None or s.start >= self.spans[best].start):
                best = i
        return best

    def harvest(self) -> None:
        """Attribute every job, stage and SQL execution finished since the
        last harvest to its span."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):  # newest first
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            submitted = job.submissionTime()
            owner = self._owner(job, submitted.get().getTime() / 1000.0 if submitted.isDefined() else 0.0)
            if owner is None:
                continue
            span = self.spans[owner]
            span.jobs += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                self._add_stage(span, store.stageData(sid, False, None, False, None))
        self._harvest_sql()

    def _add_stage(self, span: Span, attempts) -> None:
        span.stages += 1
        skipped = True
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            skipped = False
            add = span.stage
            add["run_ms"] += st.executorRunTime()
            add["cpu_ns"] += st.executorCpuTime()
            add["gc_ms"] += st.jvmGcTime()
            add["input_b"] += st.inputBytes()
            add["output_b"] += st.outputBytes()
            add["shuffle_read_b"] += st.shuffleReadBytes()
            add["shuffle_write_b"] += st.shuffleWriteBytes()
            add["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            add["tasks"] += st.numCompleteTasks()
        span.skipped_stages += skipped

    def _harvest_sql(self) -> None:
        """Add each new SQL execution's ``MapInPandas`` Python time to the
        span open when the execution started."""
        from pyspark.sql import SparkSession

        sql_store = SparkSession.getActiveSession()._jsparkSession.sharedState().statusStore()
        execs = sql_store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid in self._seen_execs:
                continue
            self._seen_execs.add(eid)
            nodes = sql_store.planGraph(eid).allNodes()
            values = None
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() != "MapInPandas":
                    continue
                values = values or sql_store.executionMetrics(eid)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    if metric.name() == "time to run Python workers":
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            owner = self._span_at(ex.submissionTime() / 1000.0)
                            if owner is not None:
                                self.spans[owner].python_udf_ms += 1000 * _metric_seconds(v.get())

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=t) for s, t in zip(self.spans, selfs)], f)
