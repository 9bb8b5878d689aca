"""Per-layer metrics from the spans of a traced run.

Every metric is reported on every workload, so a layer a workload never
calls reads zero calls. Counts and times are per timed pass (totals over
the traced passes divided by their number); ``session.get_spark_s`` is the
median over the set-up cycles.
"""

from __future__ import annotations

import statistics

from layerbench.spans import EXECUTE, LAYERS, QUERIES, Span, self_times

MB = 1e6
DEDUP_FNS = LAYERS["operators.dedup"][1]
GRAPH_FNS = LAYERS["operators.graph"][1]


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    out = [("session.get_spark_s", "s"), ("session.release_checkpoint.calls", "count"),
           ("sources.tables.calls", "count"), ("sources.tables.self_s", "s"),
           ("queries.self_s", "s"), ("queries.jobs", "count")]
    out += [(f"execute.{m}", u) for m, u in (
        ("self_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"), ("input_mb", "MB"),
        ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
        ("cpu_per_run", "ratio"), ("stages_skipped_frac", "ratio"),
    )]
    for fn in DEDUP_FNS:
        out += [(f"operators.dedup.{fn}.{m}", u) for m, u in (
            ("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("executor_cpu_s", "s"),
            ("shuffle_write_mb", "MB"), ("output_mb", "MB"),
        )]
    out += [("streaming.dedup_store.self_s", "s"), ("streaming.dedup_store.epochs", "count"),
            ("streaming.dedup_store.jobs", "count")]
    for fn in GRAPH_FNS:
        out += [(f"operators.graph.{fn}.{m}", u) for m, u in (
            ("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("stages", "count"),
            ("executor_cpu_s", "s"),
        )]
    out += [("operators.graph.jobs_per_call", "count"),
            ("pipeline.parse.self_s", "s"), ("pipeline.parse.python_udf_s", "s"),
            ("pipeline.sink.self_s", "s"), ("pipeline.sink.jobs", "count"), ("pipeline.sink.output_mb", "MB"),
            ("streaming.pipeline.self_s", "s"), ("streaming.pipeline.epochs", "count"),
            ("streaming.pipeline.jobs", "count"), ("streaming.pipeline.output_files", "count"),
            ("stored_bytes_ratio", "ratio"), ("tracing_overhead", "ratio")]
    return out


class _Group:
    """Sums over the spans of one layer or function."""

    def __init__(self, spans: list[tuple[Span, float]]) -> None:
        self.spans = spans

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s, _ in self.spans)

    def stage(self, key: str) -> float:
        return sum(s.stage[key] for s, _ in self.spans)

    @property
    def calls(self) -> int:
        return len(self.spans)

    @property
    def self_s(self) -> float:
        return sum(t for _, t in self.spans)

    @property
    def epochs(self) -> int:
        return len({tuple(e) for s, _ in self.spans for e in s.epochs})


def summarise(spans: list[Span], first: int, passes: int, setup_spans: list[Span], workload) -> dict:
    """Metrics of the spans from index ``first`` on, over ``passes`` passes.
    Returns ``{name: (value, unit)}`` for every name in :func:`metric_names`
    except the two the runner adds (stored bytes and tracing overhead)."""
    selfs = self_times(spans)
    window = [(s, t) for s, t in zip(spans[first:], selfs[first:])]

    def group(name: str) -> _Group:
        return _Group([(s, t) for s, t in window if s.name == name])

    def layer(name: str) -> _Group:
        return _Group([(s, t) for s, t in window if s.layer == name])

    per = 1.0 / max(passes, 1)
    v: dict[str, float] = {}
    starts = [s.end - s.start for s in setup_spans if s.name == "session.get_spark"]
    v["session.get_spark_s"] = statistics.median(starts) if starts else 0.0
    v["session.release_checkpoint.calls"] = group("session.release_checkpoint").calls * per
    g = layer("sources.tables")
    v["sources.tables.calls"], v["sources.tables.self_s"] = g.calls * per, g.self_s * per
    g = group(QUERIES)
    v["queries.self_s"], v["queries.jobs"] = g.self_s * per, g.total("jobs") * per

    g = group(EXECUTE)
    run_s, cpu_s = g.stage("run_ms") / 1e3, g.stage("cpu_ns") / 1e9
    stages = g.total("stages")
    v.update({
        "execute.self_s": g.self_s * per, "execute.jobs": g.total("jobs") * per,
        "execute.stages": stages * per, "execute.tasks": g.stage("tasks") * per,
        "execute.executor_run_s": run_s * per, "execute.executor_cpu_s": cpu_s * per,
        "execute.gc_s": g.stage("gc_ms") / 1e3 * per, "execute.input_mb": g.stage("input_b") / MB * per,
        "execute.shuffle_read_mb": g.stage("shuffle_read_b") / MB * per,
        "execute.shuffle_write_mb": g.stage("shuffle_write_b") / MB * per,
        "execute.spill_mb": g.stage("spill_b") / MB * per,
        "execute.cpu_per_run": cpu_s / run_s if run_s else 0.0,
        "execute.stages_skipped_frac": g.total("skipped_stages") / stages if stages else 0.0,
    })
    for fn in DEDUP_FNS:
        g, p = group(f"operators.dedup.{fn}"), f"operators.dedup.{fn}."
        v.update({
            p + "calls": g.calls * per, p + "self_s": g.self_s * per, p + "jobs": g.total("jobs") * per,
            p + "executor_cpu_s": g.stage("cpu_ns") / 1e9 * per,
            p + "shuffle_write_mb": g.stage("shuffle_write_b") / MB * per,
            p + "output_mb": g.stage("output_b") / MB * per,
        })
    g = layer("streaming.dedup_store")
    v.update({"streaming.dedup_store.self_s": g.self_s * per, "streaming.dedup_store.epochs": g.epochs * per,
              "streaming.dedup_store.jobs": g.total("jobs") * per})
    for fn in GRAPH_FNS:
        g, p = group(f"operators.graph.{fn}"), f"operators.graph.{fn}."
        v.update({
            p + "calls": g.calls * per, p + "self_s": g.self_s * per, p + "jobs": g.total("jobs") * per,
            p + "stages": g.total("stages") * per, p + "executor_cpu_s": g.stage("cpu_ns") / 1e9 * per,
        })
    # Jobs of the graph layer per outermost graph call (nested calls, such
    # as dedup_clusters -> connected_components, count once).
    g = layer("operators.graph")
    outer = [s for s, _ in g.spans if s.parent is None or spans[s.parent].layer != "operators.graph"]
    v["operators.graph.jobs_per_call"] = g.total("jobs") / len(outer) if outer else 0.0

    g = layer("pipeline.parse")
    v["pipeline.parse.self_s"] = g.self_s * per
    # MapInPandas is the parse UDF wherever its plan runs (sink, stream, action).
    v["pipeline.parse.python_udf_s"] = _Group(window).total("python_udf_ms") / 1e3 * per
    g = layer("pipeline.sink")
    v.update({"pipeline.sink.self_s": g.self_s * per, "pipeline.sink.jobs": g.total("jobs") * per,
              "pipeline.sink.output_mb": g.stage("output_b") / MB * per})
    g = layer("streaming.pipeline")
    v.update({"streaming.pipeline.self_s": g.self_s * per, "streaming.pipeline.epochs": g.epochs * per,
              "streaming.pipeline.jobs": g.total("jobs") * per,
              "streaming.pipeline.output_files": workload.output_files() if g.calls else 0})
    units = dict(metric_names())
    return {k: (val, units[k]) for k, val in v.items()}
