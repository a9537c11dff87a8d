#!/usr/bin/env python3
"""Benchmark of the osmquadtree-geometry engine.

    python3 geobench/run.py --workload build_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a report, then as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``).  See geobench/README.md.
"""

from __future__ import annotations

import os
import sys
import time


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "osmquadtree_geometry_spark"

sys.path[:0] = [REPO, HERE]

import argparse  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

# Settings the benchmark passes to the program, identical on both sides
# of any A/B.  Driver memory fits a 15 GB box with room for the Python
# workers; the inputs need far less.
DRIVER_MEMORY = "2g"
PERSIST = False
TILE_DEPTH = 8  # run_pipeline's tile_group_depth; read_geometry's tile_depth

# Per-workload input: generator name and doc count.  A build of 1200
# docs (100 of each scene) takes about 40 s cold on 4 cores, most of it
# JIT, codegen and per-job overhead, so a run fits in the time the whole
# set of benchmark runs allows each run.
WORKLOADS = {
    "build_mixed": ("build", "mixed", 1200),
    "build_multipolygon": ("build", "multipolygon", 1200),
    "serve_layout": ("serve", "mixed", 1200),
}

# Query windows (half-widths in 1e-7 degrees) around a seeded feature
# point.  "large" makes read_geometry's tile IN-list long (~800 depth-8
# tiles plus their ancestors).  The small box and the join window are
# the benchmark's own choice: no measured query log sets them.
BBOX_SMALL = 2 * 10 ** 7
BBOX_LARGE = 20 * 10 ** 7
JOIN_WINDOW = 10 * 10 ** 7
# One serve round: an export, then one query of each serve query type in
# a closed loop.  Equal weights, because there is no measured traffic
# mix to weight them by.
QUERY_MIX = ("bbox_small", "bbox_large", "pip_join", "knn_join",
             "raster_vector_join")

# The serve workload's held layout is one fixed input (its seed picks
# the query stream); see HeldLayout.
SERVE_DATA_SEED = 0
SERVE_WARM_UP_ROUNDS = 2

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "round_cpu_s": "s",
    "peak_rss_mb": "MB",
}
_LAYER = {"plan_s": "s", "jobs": "count", "exec_s": "s", "cpu_s": "s",
          "rows_out": "count", "shuffle_bytes": "bytes",
          "spill_bytes": "bytes"}
QUERY_LAYERS = ("sources", "spatial.pip_join", "spatial.knn_join",
                "spatial.raster_vector_join")


def per_layer_units() -> dict[str, str]:
    from layertrace import BUILD_LAYERS
    units: dict[str, str] = {}
    for layer in BUILD_LAYERS + ("pipeline",):
        units.update({f"{layer}.{k}": u for k, u in _LAYER.items()})
    units["waynodes.resolved_ratio"] = "ratio"
    units["multipolygons.assembled_ratio"] = "ratio"
    units.update({f"sinks.{k}": u for k, u in _LAYER.items()
                  if k != "plan_s"})
    units["sinks.bytes_written"] = "bytes"
    for layer in QUERY_LAYERS:
        units.update({f"{layer}.{k}": u for k, u in _LAYER.items()})
        units[f"{layer}.p50_ms"] = "ms"
    units["sources.scan_ratio"] = "ratio"
    units.update({"trace.untraced_s": "s", "trace.traced_s": "s",
                  "trace.overhead_s": "s", "trace.layers_s": "s",
                  "trace.bookkeeping_s": "s", "trace.fusion_gap_s": "s"})
    return units


def serve_side(metric: str) -> bool:
    """True for a metric of a layer only serve_layout runs."""
    return metric.split(".")[0] in ("sinks", "sources", "spatial")


def _pin_environment(work: str) -> None:
    """Before the JVM starts: no inherited SPARK_GRAFT_* knobs, workers
    import the package from this checkout, and every scratch file Spark,
    the JVM or Python writes stays under ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM's perf-counter file always goes to /tmp.
    # The heap is committed and touched in full at start: an initial
    # heap of half the RAM is capped at -Xmx (DRIVER_MEMORY; the
    # launcher JVM's own -Xmx for it).  Left to grow, the heap's RSS
    # followed the collector's timing-driven sizing, and peak_rss_mb
    # spread 4-15% between runs of the same code.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData "
                                       "-XX:InitialRAMPercentage=50 "
                                       "-XX:+AlwaysPreTouch")
    # With ~400 JVM threads, the number of glibc malloc arenas (and the
    # native RSS they hold) varied by ~200 MB from run to run.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


class Ops:
    """Checked operations: every exception or oracle mismatch fails."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, what: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.errors.append(f"{what}: {problem}")
        return problem is None


class ProcTree:
    """The JVM and all its descendants (the Python worker daemon and
    workers), read from /proc."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(pid: int) -> list[str]:
        """Fields of /proc/<pid>/stat after the command name."""
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()

    def pids(self) -> set[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    parent[int(d)] = int(self._stat(int(d))[1])
                except OSError:  # exited while scanning
                    continue
        pids, frontier = {self.root_pid}, [self.root_pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            pids.update(kids)
            frontier.extend(kids)
        return pids

    def rss(self) -> int:
        """Summed RSS, without a child that still runs the JVM's binary:
        the JVM starts commands (Hadoop's ``chmod`` on every file it
        writes) with posix_spawn, and until the child's exec it shares
        the JVM's memory, so its RSS reads as a second JVM."""
        total = 0
        jvm = os.readlink(f"/proc/{self.root_pid}/exe")
        for p in self.pids():
            try:
                if p != self.root_pid and os.readlink(f"/proc/{p}/exe") == jvm:
                    continue
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def cpu_s(self) -> float:
        """CPU seconds used so far, reaped children included (a worker
        that exits moves its time into its parent's child counters), plus
        the calling thread's: the driver-side Python of the program's
        calls runs on it."""
        ticks = 0
        for p in self.pids():
            try:
                # utime, stime, cutime, cstime
                ticks += sum(int(x) for x in self._stat(p)[11:15])
            except OSError:
                continue
        return ticks / self._tick + time.thread_time()


class RssSampler(threading.Thread):
    """Peak summed RSS of a ProcTree, sampled every 100 ms."""

    def __init__(self, tree: ProcTree):
        super().__init__(daemon=True)
        self.tree = tree
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, self.tree.rss())

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak


# ---------------------------------------------------------------------------
# the program's operations, as a user calls them
# ---------------------------------------------------------------------------

def tile_counts(res):
    """The flagship ``entry()`` action: per-(geom_type, tile) feature
    counts and id ranges over the four geometry outputs."""
    from pyspark.sql import functions as F

    def tag(df, t):
        return df.select(F.lit(t).alias("geom_type"), "tile", "id")
    allf = (tag(res.points, "point")
            .unionByName(tag(res.linestrings, "linestring"))
            .unionByName(tag(res.simple_polygons, "simple_polygon"))
            .unionByName(tag(res.complicated_polygons, "complicated_polygon")))
    return (allf.groupBy("geom_type", "tile")
            .agg(F.count("*").alias("n_features"),
                 F.min("id").alias("min_id"), F.max("id").alias("max_id")))


def as_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Engine:
    """The program under test, driven through its public functions."""

    def __init__(self, spark, docs: str, work: str):
        from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
        from osmquadtree_geometry_spark.config.style import GeometryStyle
        self.spark = spark
        self.docs = docs
        self.work = work
        self.style = GeometryStyle()
        self.spec = MinZoomSpec.default()
        self._n = 0

    def run_pipeline(self):
        from osmquadtree_geometry_spark import pipeline
        return pipeline.run_pipeline(
            self.spark, self.docs, style=self.style, minzoom=self.spec,
            tile_group_depth=TILE_DEPTH, persist=PERSIST)

    def build(self) -> tuple[float, float, list[tuple]]:
        """One build -> (construction s, count action s, count rows)."""
        from osmquadtree_geometry_spark import cache
        with cache.scope() as handles:
            t0 = time.perf_counter()
            res = self.run_pipeline()
            t1 = time.perf_counter()
            rows = as_rows(tile_counts(res))
            t2 = time.perf_counter()
        cache.release(handles)
        return t1 - t0, t2 - t1, rows

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def write_held(self, out: str) -> str:
        """Build and write the feature set as a layout, the way the
        layout-serving flagship queries do (default persist)."""
        from osmquadtree_geometry_spark import cache, pipeline
        from osmquadtree_geometry_spark.sinks import write_feature_tables
        with cache.scope() as handles:
            res = pipeline.run_pipeline(
                self.spark, self.docs, style=self.style, minzoom=self.spec,
                tile_group_depth=TILE_DEPTH)
            write_feature_tables(res, out, media=res.decoded.get("media"))
        cache.release(handles)
        return out

    def export(self, res) -> str:
        from osmquadtree_geometry_spark.sinks import write_feature_tables
        out = self.fresh_dir("layout")
        write_feature_tables(res, out, media=res.decoded.get("media"))
        return out

    def open(self, path: str):
        from osmquadtree_geometry_spark.sources import read_feature_tables
        return read_feature_tables(self.spark, path)


def window(df, box, lon="lon", lat="lat"):
    from pyspark.sql import functions as F
    return df.where((F.col(lon) >= box[0]) & (F.col(lon) <= box[2])
                    & (F.col(lat) >= box[1]) & (F.col(lat) <= box[3]))


class Expected:
    """The oracle side of the serve queries: a seeded window for each
    query and the rows it must return.  Plain Python over the oracle
    results, done before a round's timing starts."""

    def __init__(self, truth: dict):
        self.points = truth["points"]
        self.spatial = truth["spatial"]

    @staticmethod
    def box(p, half: int) -> tuple[int, int, int, int]:
        return (p[1] - half, p[2] - half, p[1] + half, p[2] + half)

    def _inside(self, box) -> set[int]:
        return {i for i, lon, lat in self.points
                if box[0] <= lon <= box[2] and box[1] <= lat <= box[3]}

    def make(self, kind: str, rng: random.Random):
        """-> (window, oracle rows) of one query centred on a seeded
        feature point."""
        center = rng.choice(self.points)
        if kind.startswith("bbox"):
            box = self.box(center, BBOX_SMALL if kind == "bbox_small"
                           else BBOX_LARGE)
            return box, [(i,) for i in self._inside(box)]
        box = self.box(center, JOIN_WINDOW)
        inside = self._inside(box)
        idx = {"pip_join": 0, "knn_join": 0, "raster_vector_join": 2}[kind]
        return box, [r for r in self.spatial[kind] if r[idx] in inside]


def query(engine: Engine, kind: str, box, layout: str, lay):
    """The public call of one serve query over the opened ``layout``
    (``lay``): its result DataFrame, not yet executed."""
    from pyspark.sql import functions as F

    from osmquadtree_geometry_spark.sources import read_geometry
    from osmquadtree_geometry_spark.spatial import joins
    if kind.startswith("bbox"):
        return read_geometry(engine.spark, os.path.join(layout, "points"),
                             bbox=box, tile_depth=TILE_DEPTH).select("id")
    cells = lay.spatial_index.get("points_cells")
    meta = lay.spatial_index.get("meta", {})
    if kind == "pip_join":
        return joins.point_in_polygon_join(
            window(lay.points, box), lay.simple_polygons, cell_depth=10,
            poly_cover=lay.spatial_index.get("poly_cover"),
            point_cells=window(cells, box) if cells is not None else None,
            cover_depths=meta.get("cover_depths"), engine="auto",
            max_ring_pts=meta.get("max_ring_pts")).select("point_id",
                                                          "polygon_id")
    if kind == "knn_join":
        from oracle import KNN_K
        return joins.knn_join(
            window(lay.points, box), lay.points, k=KNN_K, cell_depth=8,
            max_rings=2, target_cells=cells).select(
                "query_id", "target_id",
                F.floor(F.col("dist") * 100.0 + 0.5).cast("long")
                .alias("dist_c"))
    return joins.raster_vector_join(
        lay.decoded["media"], window(lay.points, box)).select(
            "doc_id", "tile", "feature_id", "quadtree")


# ---------------------------------------------------------------------------
# set-up, timed runs, traced run
# ---------------------------------------------------------------------------

def make_inputs(generator: str, n_docs: int, seed: int, out: str,
                spatial: bool, threads: int) -> dict:
    """Docs parquet under ``out`` plus every oracle result a run checks
    against (JSON-able: lists of row lists)."""
    import gen
    import oracle
    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    os.makedirs(out, exist_ok=True)
    docs = os.path.join(out, "docs.parquet")
    source = (gen.mixed_docs if generator == "mixed"
              else gen.multipolygon_docs)
    gen.write_docs(docs, source(seed, n_docs))
    style, spec = GeometryStyle(), MinZoomSpec.default()
    con = oracle.connect(threads, os.path.join(out, "duckdb"))
    try:
        truth = {"docs": docs,
                 "counts": oracle.feature_tile_counts(con, docs, style, spec)}
        if spatial:
            truth["points"] = oracle.feature_points(con, docs, style)
            truth["spatial"] = oracle.spatial(con, docs, style, spec)
    finally:
        con.close()
    return truth


def _as_tuples(truth: dict) -> dict:
    """Oracle rows back to tuples after a JSON round trip."""
    out = dict(truth)
    for k in ("counts", "points"):
        out[k] = [tuple(r) for r in truth[k]]
    out["spatial"] = {k: [tuple(r) for r in v]
                      for k, v in truth["spatial"].items()}
    return out


class HeldLayout:
    """The serve workload's held feature set, kept in the checkout under
    ``geobench/.cache``: the first serving run of a checkout generates
    its docs, computes its oracles and builds and writes the layout;
    later runs reopen it.  Keyed by the package and benchmark sources,
    so changed code never reads a stale layout."""

    def __init__(self, n_docs: int):
        import hashlib
        h = hashlib.sha256(f"{n_docs}:{SERVE_DATA_SEED}".encode())
        roots = [os.path.join(REPO, PACKAGE), HERE]
        for root in roots:
            for r, dirs, fs in sorted(os.walk(root)):
                dirs[:] = sorted(d for d in dirs if not d.startswith("."))
                for f in sorted(fs):
                    if f.endswith(".py"):
                        with open(os.path.join(r, f), "rb") as fh:
                            h.update(fh.read())
        self.n_docs = n_docs
        self.final = os.path.join(HERE, ".cache", f"serve-{h.hexdigest()[:16]}")
        self.tmp = os.path.join(HERE, ".cache", f"tmp-{os.getpid()}")

    def truth(self, threads: int) -> dict:
        if os.path.exists(os.path.join(self.final, "truth.json")):
            with open(os.path.join(self.final, "truth.json")) as f:
                truth = json.load(f)
            truth["docs"] = os.path.join(self.final, "docs.parquet")
            return _as_tuples(truth)
        truth = make_inputs("mixed", self.n_docs, SERVE_DATA_SEED, self.tmp,
                            True, threads)
        with open(os.path.join(self.tmp, "truth.json"), "w") as f:
            json.dump({k: v for k, v in truth.items() if k != "docs"}, f)
        return truth

    def layout(self, engine: "Engine", truth: dict, ops: "Ops") -> str:
        """Path of the held layout, building it first when absent."""
        from oracle import mismatch
        path = os.path.join(self.final, "layout")
        if os.path.exists(path):
            return path
        built = engine.write_held(os.path.join(self.tmp, "layout"))
        ok = ops.check("held build", mismatch(
            as_rows(tile_counts(engine.open(built))), truth["counts"]))
        if not ok:  # served once, so its queries fail; never cached
            return built
        try:
            os.rename(self.tmp, self.final)
        except OSError:  # another run finished it first
            shutil.rmtree(self.tmp, ignore_errors=True)
        return path


def start_spark(cpus: int):
    from osmquadtree_geometry_spark.session import get_spark
    return get_spark("geobench", master=f"local[{cpus}]",
                     shuffle_partitions=max(cpus, 8))


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_build(engine: Engine, truth: dict, ops: Ops, tree: ProcTree):
    """The run's one build, the first of its process -> (construction s,
    build s, build CPU s).  ``--seconds`` does not apply: a second build
    in the same process is a warm one and measures something else."""
    from oracle import mismatch
    cpu = tree.cpu_s()
    p, q, rows = engine.build()
    cpu = tree.cpu_s() - cpu
    ops.check("build", mismatch(rows, truth["counts"]))
    return p, p + q, cpu


def serve_round(engine: Engine, held, expected: Expected, ops: Ops,
                rng: random.Random, lat: dict[str, list[float]],
                tree: ProcTree):
    """Export + reopen, then QUERY_MIX -> (export+reopen s, round s, round
    CPU s), or None when the export or the reopen failed.  Windows and
    oracle rows are made before the timed part, results checked after."""
    from oracle import mismatch
    for d in os.listdir(engine.work):
        if d.startswith("layout-"):
            shutil.rmtree(os.path.join(engine.work, d), ignore_errors=True)
    plans = [(kind, *expected.make(kind, rng)) for kind in QUERY_MIX]
    results = []
    cpu = tree.cpu_s()
    t0 = time.perf_counter()
    try:
        out = engine.export(held)
        lay = engine.open(out)
    except Exception:  # a failed operation is counted, not fatal
        ops.check("export", traceback.format_exc(limit=3))
        return None
    prep = time.perf_counter() - t0
    for kind, box, _ in plans:
        t = time.perf_counter()
        try:
            rows, problem = as_rows(query(engine, kind, box, out, lay)), None
        except Exception:
            rows, problem = None, traceback.format_exc(limit=3)
        results.append((rows, problem, (time.perf_counter() - t) * 1e3))
    whole = time.perf_counter() - t0
    cpu = tree.cpu_s() - cpu
    ops.check("export", None)
    for (kind, _, want), (rows, problem, ms) in zip(plans, results):
        if ops.check(kind, problem or mismatch(rows, want)):
            lat.setdefault(kind, []).append(ms)
    return prep, whole, cpu


def timed_serve(engine: Engine, held, expected: Expected, ops: Ops,
                seconds: float, rng: random.Random,
                lat: dict[str, list[float]], tree: ProcTree):
    """Serve rounds until ``seconds`` pass, at least one."""
    rounds = []
    t_end = time.perf_counter() + seconds
    while True:
        r = serve_round(engine, held, expected, ops, rng, lat, tree)
        if r is not None:
            rounds.append(r)
        if time.perf_counter() >= t_end:
            break
    if not rounds:
        raise RuntimeError("every timed serve round failed: "
                           + ops.errors[-1])
    return rounds


def traced_run(engine: Engine, truth: dict, ops: Ops, rng: random.Random,
               held, tree: ProcTree) -> tuple[dict, list]:
    """Per-layer metrics, apart from the timed runs, of the layers the
    workload runs: the build layers on a build workload, the serve layers
    over the reopened held layout (``held``) on serve_layout.  The
    ``trace.*`` metrics compare one untraced round with one traced round.
    A layer the workload never runs reports 0 for every metric."""
    import layertrace as tr
    tracer = tr.Tracer(engine.spark)
    m: dict[str, float] = {}
    if held is None:
        _trace_build(engine, tracer, truth, ops, m)
    else:
        _trace_serve(engine, tracer, held, Expected(truth), ops, rng, m,
                     tree)
    units = per_layer_units()
    ran = {k for k in units
           if k.startswith("trace.") or serve_side(k) == (held is not None)}
    missing = ran - set(m)
    if missing:
        raise RuntimeError(f"traced run left metrics unset: {sorted(missing)}")
    m.update({k: 0 for k in units if k not in ran})
    spans = [{"id": s.sid, "name": s.name, "parent": s.parent,
              "start": s.start, "end": s.end, "jobs": s.jobs,
              "cpu_s": s.cpu_s, "shuffle_bytes": s.shuffle_bytes,
              "spill_bytes": s.spill_bytes} for s in tracer.spans]
    return m, spans


def _trace_build(engine: Engine, tracer, truth: dict, ops: Ops,
                 m: dict) -> None:
    """Warm-up build, untraced build, then the same build with a span
    around every layer call and each layer's outputs forced and held."""
    import layertrace as tr
    import oracle

    import osmquadtree_geometry_spark as package
    from osmquadtree_geometry_spark import cache
    _, _, rows = engine.build()
    ops.check("warm-up build", oracle.mismatch(rows, truth["counts"]))

    # untraced build: the reference for overhead and fusion gap, and the
    # pipeline layer's construction time and driver jobs
    with tracer.span("pipeline.untraced") as whole:
        with tracer.span("pipeline.run_pipeline") as plan:
            with cache.scope() as handles:
                res = engine.run_pipeline()
        rows = as_rows(tile_counts(res))
    cache.release(handles)
    ops.check("build", oracle.mismatch(rows, truth["counts"]))
    m["pipeline.plan_s"] = plan.wall_s
    m["pipeline.jobs"] = plan.jobs
    m["trace.untraced_s"] = whole.wall_s

    layers = tr.LayerTracer(tracer, package)
    with tracer.span("build") as build:
        with cache.scope() as handles:
            with layers:
                with tracer.span("pipeline") as pipe:
                    res = engine.run_pipeline()
            with tracer.span("pipeline.exec") as final:
                rows = as_rows(tile_counts(res))
    ops.check("traced build", oracle.mismatch(rows, truth["counts"]))
    layers.release()
    cache.release(handles)
    m["trace.traced_s"] = build.wall_s
    m["trace.overhead_s"] = build.wall_s - m["trace.untraced_s"]
    for name, st in layers.stats.items():
        m.update({f"{name}.plan_s": st.plan_s, f"{name}.jobs": st.jobs,
                  f"{name}.exec_s": st.exec_s, f"{name}.cpu_s": st.cpu_s,
                  f"{name}.rows_out": st.rows_out,
                  f"{name}.shuffle_bytes": st.shuffle_bytes,
                  f"{name}.spill_bytes": st.spill_bytes})
    m["waynodes.resolved_ratio"] = _ratio(layers.stats["waynodes"])
    m["multipolygons.assembled_ratio"] = _ratio(layers.stats["multipolygons"])
    m.update({"pipeline.exec_s": final.wall_s, "pipeline.cpu_s": final.cpu_s,
              "pipeline.rows_out": sum(r[2] for r in rows),
              "pipeline.shuffle_bytes": final.shuffle_bytes,
              "pipeline.spill_bytes": final.spill_bytes})
    m["trace.layers_s"] = (
        sum(st.plan_s + st.exec_s for st in layers.stats.values())
        + tracer.self_time(pipe) + final.wall_s)
    m["trace.bookkeeping_s"] = tracer.overhead_s()
    m["trace.fusion_gap_s"] = m["trace.untraced_s"] - m["trace.layers_s"]


def _trace_serve(engine: Engine, tracer, held, expected: Expected,
                 ops: Ops, rng: random.Random, m: dict,
                 tree: ProcTree) -> None:
    """One untraced serve round, then the same round with each public
    call in a span: the export of ``held``, its reopen and one QUERY_MIX
    pass."""
    import oracle
    r = serve_round(engine, held, expected, ops, rng, {}, tree)
    if r is None:
        raise RuntimeError("the untraced serve round failed: "
                           + ops.errors[-1])
    m["trace.untraced_s"] = r[1]
    plans = [(kind, *expected.make(kind, rng)) for kind in QUERY_MIX]
    per: dict[str, list[dict]] = {}
    scanned = returned = 0
    with tracer.span("serve") as whole:
        with tracer.span("sinks.write_feature_tables") as sink:
            out = engine.export(held)
        with tracer.span("sources.read_feature_tables"):
            lay = engine.open(out)
        for kind, box, want in plans:
            layer = ("sources" if kind.startswith("bbox")
                     else f"spatial.{kind}")
            with tracer.span(f"{layer}.plan") as p:
                df = query(engine, kind, box, out, lay)
            with tracer.span(f"{layer}.exec") as e:
                got = as_rows(df)
            ops.check(kind, oracle.mismatch(got, want))
            if layer == "sources":
                scanned += _scan_rows(df)
                returned += len(got)
            per.setdefault(layer, []).append({
                "plan_s": p.wall_s, "exec_s": e.wall_s,
                "jobs": p.jobs + e.jobs, "cpu_s": p.cpu_s + e.cpu_s,
                "rows_out": len(got),
                "shuffle_bytes": p.shuffle_bytes + e.shuffle_bytes,
                "spill_bytes": p.spill_bytes + e.spill_bytes,
                "p50_ms": (p.wall_s + e.wall_s) * 1e3})
    m.update({"sinks.exec_s": sink.wall_s, "sinks.jobs": sink.jobs,
              "sinks.cpu_s": sink.cpu_s,
              "sinks.rows_out": _parquet_rows(out),
              "sinks.shuffle_bytes": sink.shuffle_bytes,
              "sinks.spill_bytes": sink.spill_bytes,
              "sinks.bytes_written": _du(out)})
    for layer, calls in per.items():
        for k in calls[0]:
            m[f"{layer}.{k}"] = statistics.median(c[k] for c in calls)
    m["sources.scan_ratio"] = scanned / max(returned, 1)
    m["trace.traced_s"] = whole.wall_s
    m["trace.overhead_s"] = whole.wall_s - m["trace.untraced_s"]
    m["trace.layers_s"] = sum(c.wall_s for c in tracer.spans
                              if c.parent == whole.sid)
    m["trace.bookkeeping_s"] = tracer.overhead_s()
    m["trace.fusion_gap_s"] = m["trace.untraced_s"] - m["trace.layers_s"]


def _ratio(st) -> float:
    return st.useful / st.rows_in if st.rows_in else 0.0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(os.path.join(r, f)).num_rows
               for r, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _scan_rows(df) -> int:
    """Rows the parquet scans of an executed query produced."""
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        metric = leaves.apply(i).metrics().get("numOutputRows")
        if metric.isDefined():
            total += metric.get().value()
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"geobench: package {PACKAGE!r} not found under {REPO}; "
              f"run from a checkout of the repository", file=sys.stderr)
        return 2
    kind, generator, n_docs = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work)
    cpus = len(os.sched_getaffinity(0))
    try:
        return _run(args, kind, generator, n_docs, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.path.join(HERE, ".cache", f"tmp-{os.getpid()}"),
                      ignore_errors=True)


def _run(args, kind, generator, n_docs, work, cpus) -> int:
    held = HeldLayout(n_docs) if kind == "serve" else None
    # inputs and oracles are made (or loaded) while the JVM starts
    made: dict = {}

    def make():
        try:
            made["truth"] = (
                held.truth(cpus) if held else
                make_inputs(generator, n_docs, args.seed, work, False,
                            cpus))
        except BaseException as e:  # re-raised on the main thread
            made["error"] = e
    maker = threading.Thread(target=make)
    maker.start()
    spark = start_spark(cpus)
    try:
        maker.join()
        if "error" in made:
            raise made["error"]
        truth = made["truth"]
        engine = Engine(spark, truth["docs"], work)
        tree = ProcTree(spark.sparkContext._gateway.proc.pid)
        ops = Ops()
        rng = random.Random(args.seed)

        # A timed build is the first build of its process, as for every
        # batch run of the pipeline.  A serving process is long-lived, so
        # its set-up ends with untimed warm-up rounds (rounds still got
        # ~10% faster from the second to the third).
        held_res = None
        if held is not None:
            held_res = engine.open(held.layout(engine, truth, ops))
            expected = Expected(truth)
            for _ in range(SERVE_WARM_UP_ROUNDS):
                serve_round(engine, held_res, expected, ops, rng, {}, tree)
        setup_s = time.time() - T_PROCESS

        report = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "cpus": cpus, "n_docs": n_docs,
                  "spark_conf": dict(spark.sparkContext.getConf().getAll()),
                  "settings": {"persist": PERSIST, "driver_memory": DRIVER_MEMORY,
                               "style": "GeometryStyle()",
                               "minzoom": "MinZoomSpec.default()",
                               "tile_group_depth": TILE_DEPTH,
                               "java_tool_options":
                                   os.environ["JAVA_TOOL_OPTIONS"],
                               "malloc_arena_max":
                                   os.environ["MALLOC_ARENA_MAX"]}}
        if args.trace:
            metrics, spans = traced_run(engine, truth, ops, rng, held_res,
                                        tree)
            units = per_layer_units()
            report["spans"] = spans
            samples = {}
        else:
            rss = RssSampler(tree)
            rss.start()
            lat: dict[str, list[float]] = {}
            if kind == "build":
                rounds = [timed_build(engine, truth, ops, tree)]
            else:
                rounds = timed_serve(engine, held_res, expected, ops,
                                     args.seconds, rng, lat, tree)
            peak = rss.stop()
            metrics = {"setup_s": setup_s,
                       "round_s": statistics.median(r[1] for r in rounds),
                       "round_cpu_s": statistics.median(r[2] for r in rounds),
                       "peak_rss_mb": peak / 2 ** 20}
            units = END_TO_END
            samples = {"round_s": len(rounds), "round_cpu_s": len(rounds)}
            report["samples"] = {"rounds": rounds, "query_ms": lat}
            _print_detail(kind, n_docs, rounds, lat)
    finally:
        stop_spark(spark)

    report.update({"metrics": metrics, "attempted": ops.attempted,
                   "failed": ops.failed, "errors": ops.errors})
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    for e in ops.errors:
        print(f"FAILED {e}")
    for name, value in metrics.items():
        n = samples.get(name, 1)
        print(f"{name:34s} {value:14.4f} {units[name]:6s} n={n}")
    print(f"fail_ratio {ops.failed / ops.attempted:.4f} "
          f"({ops.failed}/{ops.attempted})  report {path}")
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def _print_detail(kind, n_docs, rounds, lat) -> None:
    """Construction or export time, build throughput, per-type query
    latency."""
    print(f"prepare_s {statistics.median(r[0] for r in rounds):.4f} s  "
          f"({'run_pipeline construction' if kind == 'build' else 'export and reopen'})"
          f"  n={len(rounds)}")
    if kind == "build":
        b = statistics.median(r[1] for r in rounds)
        print(f"build_docs_per_s {n_docs / b:.1f} docs/s  n={len(rounds)}")
    for k, v in sorted(lat.items()):
        print(f"{k:24s} p50 {statistics.median(v):9.1f} ms  n={len(v)}")


if __name__ == "__main__":
    sys.exit(main())
