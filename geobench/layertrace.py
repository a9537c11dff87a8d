"""Spans around the public layer calls and the Spark work inside them.

A span records name, start, end and parent.  While a span is open its
Spark jobs run under the span's own job group, so the jobs it started
and the stage metrics of those jobs (CPU, shuffle and spill bytes, read
from Spark's status store) belong to it alone; a child span's jobs are
not its parent's.

``LayerTracer`` patches the layer functions ``pipeline.run_pipeline``
calls (a layer whose function no longer exists keeps zero metrics) so
that one ``run_pipeline`` call records, per layer, the time spent inside
the call and the time to force its outputs through a ``noop`` sink.
Forced outputs are persisted and handed on, so the next layer starts
from materialised inputs and its forcing time is its self time.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GROUP = "spark.jobGroup.id"
BOOKKEEPING = "bookkeeping"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # time the tracer spent reading metrics for this span's children
    accounting_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _seq: int = 0

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"geobench-{self._seq}"
        prev = sc.getLocalProperty(_GROUP)
        parent = self._stack[-1].sid if self._stack else None
        s = Span(self._seq, name, parent, time.perf_counter())
        self._stack.append(s)
        sc.setLocalProperty(_GROUP, group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            sc.setLocalProperty(_GROUP, prev)
            self._stack.pop()
            self._account(s, group)
            if self._stack:
                self._stack[-1].accounting_s += time.perf_counter() - s.end
            self.spans.append(s)

    @contextmanager
    def untraced(self):
        """Bookkeeping (row counts): a child span of its own, so it is
        not its parent's self time, and named so no layer counts it."""
        with self.span(BOOKKEEPING):
            yield

    def _account(self, s: Span, group: str) -> None:
        sc = self.spark.sparkContext
        # stage-completed events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        s.jobs = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the status store
                continue
            s.cpu_s += st.executorCpuTime() / 1e9
            s.shuffle_bytes += st.shuffleWriteBytes()
            s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover and the
        tracer's own metric reads for them."""
        kids = [c for c in self.spans if c.parent == s.sid]
        return s.wall_s - sum(c.wall_s for c in kids) - s.accounting_s

    def overhead_s(self) -> float:
        """Bookkeeping spans plus the tracer's metric reads."""
        return (sum(c.wall_s for c in self.spans if c.name == BOOKKEEPING)
                + sum(c.accounting_s for c in self.spans))


@dataclass
class LayerStats:
    plan_s: float = 0.0
    jobs: int = 0
    exec_s: float = 0.0
    cpu_s: float = 0.0
    rows_out: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # waynodes: resolved ways / ways in; multipolygons: polygons out /
    # multipolygon relations in
    useful: int = 0
    rows_in: int = 0

    def add(self, s: Span, plan: bool) -> None:
        """``jobs`` counts the jobs started inside the public call; CPU,
        shuffle and spill cover the call and the forcing of its output."""
        if plan:
            self.plan_s += s.wall_s
            self.jobs += s.jobs
        else:
            self.exec_s += s.wall_s
        self.cpu_s += s.cpu_s
        self.shuffle_bytes += s.shuffle_bytes
        self.spill_bytes += s.spill_bytes


def _frames(result) -> list[DataFrame]:
    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, tuple):
        return [r for r in result if isinstance(r, DataFrame)]
    if isinstance(result, dict):
        return [v for v in result.values() if isinstance(v, DataFrame)]
    return []


def _replace(result, persisted: dict[int, DataFrame]):
    if isinstance(result, DataFrame):
        return persisted[id(result)]
    if isinstance(result, tuple):
        return tuple(persisted.get(id(r), r) for r in result)
    if isinstance(result, dict):
        return {k: persisted.get(id(v), v) for k, v in result.items()}
    return result


# (layer, module attribute path) of every public call run_pipeline makes
BUILD_CALLS = (
    ("decode", "pipeline.decode_all"),
    ("waynodes", "pipeline.collect_way_nodes"),
    ("parenttags", "pipeline.add_parent_tags"),
    ("relationtags", "pipeline.add_relation_tags"),
    ("multipolygons", "pipeline.process_multipolygons"),
    ("makegeoms", "pipeline.make_points"),
    ("makegeoms", "pipeline.make_way_features"),
    ("minzoom", "operators.minzoom._apply"),
    ("minzoom", "pipeline.find_minzoom_fused"),
    ("tiles", "pipeline.tile_dictionary"),
    ("tiles", "pipeline.allocate_tiles"),
)
BUILD_LAYERS = tuple(dict.fromkeys(layer for layer, _ in BUILD_CALLS))


class LayerTracer:
    """Patches the BUILD_CALLS for the life of a ``with`` block."""

    def __init__(self, tracer: Tracer, package):
        self.tracer = tracer
        self.package = package
        self.stats = {name: LayerStats() for name in BUILD_LAYERS}
        self.persisted: list[DataFrame] = []
        self._patched: list[tuple[object, str, object]] = []
        self._active: set[str] = set()

    def __enter__(self):
        import importlib
        for layer, path in BUILD_CALLS:
            mod_path, attr = path.rsplit(".", 1)
            mod = importlib.import_module(
                f"{self.package.__name__}.{mod_path}")
            fn = getattr(mod, attr, None)
            if fn is None:
                continue
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(layer, attr, fn))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def _wrap(self, layer: str, attr: str, fn):
        def traced(*args, **kwargs):
            if layer in self._active:
                # a layer function calling another one of its own layer
                # (find_minzoom_fused -> _apply) is one call
                return fn(*args, **kwargs)
            st = self.stats[layer]
            self._active.add(layer)
            try:
                with self.tracer.span(f"{layer}.{attr}") as s:
                    result = fn(*args, **kwargs)
                st.add(s, plan=True)
            finally:
                self._active.discard(layer)
            frames = _frames(result)
            if not frames:
                return result
            persisted = {id(df): df.persist(StorageLevel.MEMORY_AND_DISK)
                         for df in frames}
            self.persisted.extend(persisted.values())
            with self.tracer.span(f"{layer}.{attr}.exec") as s:
                for df in persisted.values():
                    df.write.format("noop").mode("overwrite").save()
            st.add(s, plan=False)
            with self.tracer.untraced():
                counts = {k: cached_rows(df) for k, df in persisted.items()}
                st.rows_out += sum(counts.values())
                if layer == "waynodes":
                    st.useful += counts[id(frames[0])]
                    st.rows_in += cached_rows(args[0])
                elif layer == "multipolygons":
                    st.useful += counts[id(frames[0])]
                    st.rows_in += _multipolygon_relations(args[0], args[2])
            return _replace(result, persisted)
        return traced


def cached_rows(df: DataFrame) -> int:
    """Row count of a materialised persisted frame, from the cached
    relation's statistics (no Spark job); a count otherwise."""
    rows = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    return int(rows.get()) if rows.isDefined() else df.count()


def _multipolygon_relations(relations: DataFrame, style) -> int:
    types = (["multipolygon", "boundary"] if style.boundary_relations
             else ["multipolygon"])
    return relations.where(F.col("tags")["type"].isin(types)).count()
