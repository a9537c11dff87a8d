"""End-to-end geometry pipeline: docs -> decode -> enrichment joins ->
geometry construction -> minzoom -> tile allocation.

Operator order matches the reference chain
(`process_geometry.rs:418-524`, SURVEY §0):

  decode -> CollectWayNodes (J1) -> AddParentTag (J3) ->
  AddRelationTags (J4) -> ProcessMultiPolygons (J2) ->
  MakeGeometries (G10) -> FindMinZoom (G14) -> tile alloc (J6)

Optional stages elide exactly like the reference
(`process_geometry.rs:444-459`): no parent_tags spec -> no J3, no
relation_tag_spec -> no J4, style.multipolygons=false -> no J2,
minzoom=None -> no G14.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cache
from .config.minzoom import MinZoomSpec
from .config.style import GeometryStyle
from .decode import decode_all, read_docs
from .operators.makegeoms import (make_points, make_way_features,
                                  make_ways, split_way_features)
from .operators.minzoom import find_minzoom, find_minzoom_fused
from .operators.multipolygons import process_multipolygons
from .operators.parenttags import add_parent_tags
from .operators.relationtags import add_relation_tags
from .operators.tiles import allocate_tiles
from .operators.waynodes import collect_way_nodes

EMPTY_ERRORS = "elem_type string, elem_id long, message string"
EMPTY_CPOLYS = (
    "doc_id string, id long, tags map<string,string>, "
    "parts array<struct<exterior:array<struct<lon:int,lat:int>>,"
    "interiors:array<array<struct<lon:int,lat:int>>>,area:double>>, "
    "area double, z_order long, layer long, minzoom long, "
    "quadtree long, wkb binary")


@dataclass
class PipelineResult:
    points: DataFrame
    linestrings: DataFrame
    simple_polygons: DataFrame
    complicated_polygons: DataFrame
    errors: DataFrame
    decoded: dict = field(default_factory=dict)
    # FUSED line+polygon table (geom_type discriminator): consumers
    # touching both types should read this ONE DataFrame so the
    # upstream decode+J1 subtree is traversed once, not per branch
    way_features: DataFrame | None = None
    # precomputed spatial-index side tables (points_cells, poly_cover)
    # when reading a written layout — see sinks.write_spatial_index
    spatial_index: dict = field(default_factory=dict)


def run_pipeline(spark: SparkSession, docs_path: str | None = None,
                 style: GeometryStyle | None = None,
                 minzoom: MinZoomSpec | None = None,
                 tile_group_depth: int = 8,
                 persist: bool = True,
                 end_date: int | None = None,
                 bucketed_prefix: str | None = None) -> PipelineResult:
    style = style or GeometryStyle()
    if bucketed_prefix is not None:
        # consume the prepare_bucketed ingest prepass: the decode
        # shuffles were paid once at ingest, and the J1 refs⋈locations
        # join reads both sides bucket-aligned (zero Exchange below
        # the join) — the 100 TB layout, where raw-docs parsing never
        # runs inside the query job
        return _run_pipeline_bucketed(
            spark, bucketed_prefix, style, minzoom, tile_group_depth,
            end_date)
    t = decode_all(read_docs(spark, docs_path))
    # persist policy: True = everything (the round-1 default), False =
    # nothing (fastest on a DRAM-bound single box — see
    # BENCH/BASELINE.md levers), or a comma-set of {"decode",
    # "ways_ll"} for selective caching (ways_ll alone has FOUR
    # consumers — way features, multipolygon members, parent tags,
    # waynode errors — and is far smaller than the span stream)
    if persist is True:
        pset = {"decode", "ways_ll"}
    elif persist is False:
        pset = set()
    elif isinstance(persist, str):
        pset = {p.strip() for p in persist.split(",") if p.strip()}
        unknown = pset - {"decode", "ways_ll"}
        if unknown:
            raise ValueError(
                f"unknown persist tokens {sorted(unknown)}; "
                f"expected a comma-set of {{'decode', 'ways_ll'}}")
    else:
        # a non-bool/non-str (e.g. persist=1) silently disabling all
        # caching is a footgun (round-3 ADVICE) — reject it
        raise TypeError(
            f"persist must be bool or comma-set str, got "
            f"{type(persist).__name__}")
    if "decode" in pset:
        # one parse of the span stream feeds 8+ downstream groupBys
        t["spans"] = cache.persist(t["spans"])
        # the fused tag table (ONE shuffle for node/way/rel tags) is
        # read by three branches — persist so the shuffle runs once
        # (cache matches by logical plan, so the nodes/ways/relations
        # built in decode_all hit it)
        t["tags_all"] = cache.persist(t["tags_all"])
    nodes, ways, relations = t["nodes"], t["ways"], t["relations"]
    if "decode" in pset:
        # the decoded tables feed several downstream branches (points +
        # way join + relation joins); persisting here prevents each
        # output from re-running the decode shuffles
        nodes = cache.persist(nodes)
        ways = cache.persist(ways)
        relations = cache.persist(relations)
        t["nodes"], t["ways"], t["relations"] = nodes, ways, relations

    # persist the shared J1 branch point (ways_ll + error rows) rather
    # than ways_ll alone: the errors output then reads the cached
    # refs⋈locations join instead of re-running it
    ways_ll, err_w = collect_way_nodes(ways, nodes,
                                       persist_shared="ways_ll" in pset)
    return _finish_pipeline(spark, t, nodes, relations, ways_ll, err_w,
                            style, minzoom, tile_group_depth,
                            "ways_ll" in pset, end_date)


def _run_pipeline_bucketed(spark: SparkSession, prefix: str,
                           style: GeometryStyle,
                           minzoom: MinZoomSpec | None,
                           tile_group_depth: int,
                           end_date: int | None) -> PipelineResult:
    """Pipeline body over the prepare_bucketed ingest tables — same
    operator chain, the decode stage replaced by bucketed scans."""
    t = {
        "nodes": spark.table(f"{prefix}_nodes"),
        "ways": spark.table(f"{prefix}_ways"),
        "relations": spark.table(f"{prefix}_relations"),
        "media": spark.table(f"{prefix}_media"),
    }
    ways_ll, err_w = collect_way_nodes_bucketed(spark, prefix)
    return _finish_pipeline(spark, t, t["nodes"], t["relations"], ways_ll,
                            err_w, style, minzoom, tile_group_depth,
                            False, end_date)


def _finish_pipeline(spark: SparkSession, t: dict, nodes: DataFrame,
                     relations: DataFrame, ways_ll: DataFrame,
                     err_w: DataFrame, style: GeometryStyle,
                     minzoom: MinZoomSpec | None,
                     tile_group_depth: int, persist: bool,
                     end_date: int | None) -> PipelineResult:
    if style.parent_tags:
        nodes = add_parent_tags(nodes, ways_ll, style)
    if style.relation_tag_spec:
        ways_ll = add_relation_tags(ways_ll, relations, style)
        if persist:
            # enriched ways feed both multipolygon assembly and
            # line/polygon classification
            ways_ll = cache.persist(ways_ll)

    if style.multipolygons:
        cpolys, err_r = process_multipolygons(relations, ways_ll, style)
    else:
        cpolys = spark.createDataFrame([], EMPTY_CPOLYS)
        err_r = spark.createDataFrame([], EMPTY_ERRORS)

    points = make_points(nodes, style)
    # FUSED line+polygon construction: minzoom + tile allocation run
    # once over one DataFrame; the per-type linestrings /
    # simple_polygons results are views split at the very end
    way_feats = make_way_features(ways_ll, style)

    if minzoom is not None:
        from .operators.minzoom import _apply as _apply_mz
        drop = minzoom.max_minzoom is not None
        points = _apply_mz(points, minzoom.sql_point_minzoom("tags"), drop)
        cpolys = _apply_mz(cpolys, minzoom.sql_polygon_minzoom("tags", "area"),
                           drop)
        way_feats = find_minzoom_fused(way_feats, minzoom)

    # tile = the feature cell's group-depth ancestor, -1 when shallower:
    # a projection equal to the reference's deepest-registered-ancestor
    # lookup (proof in operators/tiles.py)
    points = allocate_tiles(points, tile_group_depth)
    way_feats = allocate_tiles(way_feats, tile_group_depth)
    cpolys = allocate_tiles(cpolys, tile_group_depth)

    if end_date is not None:
        # block-level snapshot timestamp carried on every feature
        # (`geometry_block.rs:39,190-193` PrimitiveBlock.end_date —
        # the reference's historical-extract marker)
        def stamp(df: DataFrame) -> DataFrame:
            return df.withColumn("end_date",
                                 F.lit(int(end_date)).cast("long"))
        points, way_feats, cpolys = (
            stamp(points), stamp(way_feats), stamp(cpolys))

    lines, spolys = split_way_features(way_feats)
    return PipelineResult(
        points=points, linestrings=lines, simple_polygons=spolys,
        complicated_polygons=cpolys,
        errors=err_w.unionByName(err_r), decoded=t,
        way_features=way_feats)


def filter_features_bbox(res: PipelineResult,
                         bbox: tuple[int, int, int, int]) -> PipelineResult:
    """Reference `-f/--filter` semantics (bbox in 1e-7-degree ints):
    keep features whose geometry bbox overlaps the filter box — the
    reference filters input blocks by bbox (`process_geometry.rs`
    filter arg); feature-level overlap is the exact output analogue.
    Pure JVM predicates (array_min/max over the coordinate structs)."""
    a, b, c, d = (int(v) for v in bbox)

    def pt(df):
        return df.where((F.col("lon") >= a) & (F.col("lon") <= c)
                        & (F.col("lat") >= b) & (F.col("lat") <= d))

    def ll(df):
        return df.where(F.expr(
            f"array_min(transform(lonlats, p -> p.lon)) <= {c} AND "
            f"array_max(transform(lonlats, p -> p.lon)) >= {a} AND "
            f"array_min(transform(lonlats, p -> p.lat)) <= {d} AND "
            f"array_max(transform(lonlats, p -> p.lat)) >= {b}"))

    def parts(df):
        return df.where(F.expr(
            f"array_min(transform(parts, pt -> array_min(transform(pt.exterior, p -> p.lon)))) <= {c} AND "
            f"array_max(transform(parts, pt -> array_max(transform(pt.exterior, p -> p.lon)))) >= {a} AND "
            f"array_min(transform(parts, pt -> array_min(transform(pt.exterior, p -> p.lat)))) <= {d} AND "
            f"array_max(transform(parts, pt -> array_max(transform(pt.exterior, p -> p.lat)))) >= {b}"))

    return PipelineResult(
        points=pt(res.points), linestrings=ll(res.linestrings),
        simple_polygons=ll(res.simple_polygons),
        complicated_polygons=parts(res.complicated_polygons),
        errors=res.errors, decoded=res.decoded,
        way_features=(ll(res.way_features)
                      if res.way_features is not None else None))


def filter_features_poly(res: PipelineResult, rings) -> PipelineResult:
    """Reference ``GeometryFilter::Poly`` semantics
    (`pack_geometry.rs:498-519`, ``Poly::check_box``): keep features
    whose geometry BBOX overlaps the polygon (any ring).  Two layers,
    like the reference's tile-prune + per-feature check:

      1. coarse: the rings' common bbox as pure JVM predicates
         (:func:`filter_features_bbox` — prunable/pushdownable);
      2. exact: a vectorized pandas UDF running
         ``geomcalc.poly_overlaps_boxes`` on the staged feature bbox.

    ``rings``: list of (lon int-1e-7 array, lat array) closed rings,
    e.g. from :func:`osmquadtree_geometry_spark.sources.
    parse_poly_file`."""
    from pyspark.sql import types as T

    from .kernels import geomcalc

    rr = [(np.asarray(lon, np.int64), np.asarray(lat, np.int64))
          for lon, lat in rings]
    pb = (int(min(r[0].min() for r in rr)),
          int(min(r[1].min() for r in rr)),
          int(max(r[0].max() for r in rr)),
          int(max(r[1].max() for r in rr)))
    coarse = filter_features_bbox(res, pb)

    @F.pandas_udf(T.BooleanType())
    def overlaps(minlon: pd.Series, minlat: pd.Series,
                 maxlon: pd.Series, maxlat: pd.Series) -> pd.Series:
        a = minlon.to_numpy(np.int64)
        b = minlat.to_numpy(np.int64)
        c = maxlon.to_numpy(np.int64)
        d = maxlat.to_numpy(np.int64)
        keep = np.zeros(len(a), bool)
        for rlon, rlat in rr:
            todo = ~keep
            if not todo.any():
                break
            keep[todo] |= geomcalc.poly_overlaps_boxes(
                rlon, rlat, a[todo], b[todo], c[todo], d[todo])
        return pd.Series(keep)

    def pt(df):
        return df.where(overlaps("lon", "lat", "lon", "lat"))

    def ll(df):
        g = {k: f"array_{m}(transform(lonlats, p -> p.{c}))"
             for k, (m, c) in {"_mnlo": ("min", "lon"),
                               "_mnla": ("min", "lat"),
                               "_mxlo": ("max", "lon"),
                               "_mxla": ("max", "lat")}.items()}
        staged = df
        for k, e in g.items():
            staged = staged.withColumn(k, F.expr(e))
        return (staged.where(overlaps("_mnlo", "_mnla", "_mxlo", "_mxla"))
                .drop(*g.keys()))

    def parts(df):
        g = {k: (f"array_{m}(transform(parts, pt -> array_{m}("
                 f"transform(pt.exterior, p -> p.{c}))))")
             for k, (m, c) in {"_mnlo": ("min", "lon"),
                               "_mnla": ("min", "lat"),
                               "_mxlo": ("max", "lon"),
                               "_mxla": ("max", "lat")}.items()}
        staged = df
        for k, e in g.items():
            staged = staged.withColumn(k, F.expr(e))
        return (staged.where(overlaps("_mnlo", "_mnla", "_mxlo", "_mxla"))
                .drop(*g.keys()))

    return PipelineResult(
        points=pt(coarse.points), linestrings=ll(coarse.linestrings),
        simple_polygons=ll(coarse.simple_polygons),
        complicated_polygons=parts(coarse.complicated_polygons),
        errors=coarse.errors, decoded=coarse.decoded,
        way_features=(ll(coarse.way_features)
                      if coarse.way_features is not None else None))


def prepare_bucketed(spark: SparkSession, docs_path: str,
                     n_buckets: int = 32, prefix: str = "oqg",
                     base_path: str | None = None,
                     manifest_path: str | None = None) -> dict[str, str]:
    """Ingest prepass (round-2 verdict Next #7): decode the interleaved
    docs ONCE and write bucketed+sorted tables so every later run's
    enrichment joins start co-located — the Spark-native analogue of
    the reference's external `calcqts`/`sortblocks` prepass, which
    turns raw PBF into sorted tiled blocks before the geometry stage
    ever runs.

      * ``<prefix>_nodes``    bucketed by id  (location/tag lookups)
      * ``<prefix>_ways``     bucketed by id  (assembled refs + tags)
      * ``<prefix>_wayrefs``  bucketed by ref (pre-exploded: the J1
        refs⋈nodes join reads BOTH sides bucket-aligned -> zero
        Exchange before the per-way collect, see
        test_bucketed_waynode_join_plan)
      * ``<prefix>_relations`` bucketed by id

    Returns {logical name: table name}.  When ``manifest_path`` is
    given, a JSON manifest (table, schema DDL, bucket column/count,
    data path) is written so OTHER Spark sessions — which don't share
    the in-memory catalog — can re-register the bucketed tables with
    :func:`register_bucketed` (the single-box stand-in for a shared
    Hive metastore)."""
    from .sinks import write_bucketed
    t = decode_all(read_docs(spark, docs_path))
    out = {}
    manifest = []

    def w(df: DataFrame, name: str, col: str) -> None:
        table = f"{prefix}_{name}"
        path = f"{base_path}/{table}" if base_path else None
        write_bucketed(df, table, col, n_buckets, path)
        out[name] = table
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields)
        loc = path or spark.sql(
            f"DESCRIBE TABLE EXTENDED {table}").where(
            "col_name = 'Location'").first().data_type
        manifest.append({"table": table, "schema": ddl, "bucket_col": col,
                         "n_buckets": n_buckets, "path": loc})

    w(t["nodes"], "nodes", "id")
    w(t["ways"], "ways", "id")
    w(t["ways"].select(F.col("id").alias("way_id"),
                       F.posexplode("refs").alias("pos", "ref")),
      "wayrefs", "ref")
    w(t["relations"], "relations", "id")
    w(t["media"], "media", "doc_id")
    if manifest_path:
        import json as _json
        import os as _os
        _os.makedirs(_os.path.dirname(manifest_path), exist_ok=True)
        with open(manifest_path, "w") as f:
            _json.dump(manifest, f, indent=1)
    return out


def register_bucketed(spark: SparkSession, manifest_path: str) -> None:
    """Register the prepare_bucketed tables in THIS session's catalog
    as external bucketed tables (bucket metadata must be declared —
    plain spark.read.parquet would discard the co-location)."""
    import json as _json
    for t in _json.load(open(manifest_path)):
        spark.sql(f"DROP TABLE IF EXISTS {t['table']}")
        spark.sql(
            f"CREATE TABLE {t['table']} ({t['schema']}) USING parquet "
            f"CLUSTERED BY ({t['bucket_col']}) SORTED BY ({t['bucket_col']}) "
            f"INTO {t['n_buckets']} BUCKETS LOCATION '{t['path']}'")


def collect_way_nodes_bucketed(spark: SparkSession,
                               prefix: str = "oqg"):
    """J1 over the bucketed prepass tables: the refs⋈locations join is
    Exchange-free (both sides bucket-aligned on the node id); the only
    remaining shuffle is the inherent per-way collect."""
    ways = spark.table(f"{prefix}_ways")
    refs = spark.table(f"{prefix}_wayrefs")
    locs = (spark.table(f"{prefix}_nodes")
            .select(F.col("id").alias("ref"), "lon", "lat"))
    j = refs.join(locs, "ref", "left")
    from .operators.waynodes import collect_lonlats_expr
    grouped = (j.groupBy("way_id")
               .agg(F.expr(collect_lonlats_expr()).alias("lonlats"),
                    F.min(F.when(F.col("lon").isNull(),
                                 F.struct("pos", "ref"))).alias("first_missing"))
               .withColumnRenamed("way_id", "id"))
    enriched = grouped.join(ways.select("doc_id", "id", "refs", "tags"), ["id"])
    ok = enriched.where(F.col("first_missing").isNull()).drop("first_missing")
    errors = (enriched.where(F.col("first_missing").isNotNull())
              .select(F.lit("way").alias("elem_type"),
                      F.col("id").alias("elem_id"),
                      F.concat(F.lit("missing node "),
                               F.col("first_missing.ref")).alias("message")))
    return ok.select("doc_id", "id", "refs", "tags", "lonlats"), errors


def feature_counts(res: PipelineResult) -> DataFrame:
    """CollectWorkingTiles-style counters (`process_geometry.rs:157-216`).

    The line/polygon counts come from ONE traversal of the fused
    way_features table (conditional sums, rows via stack) — two
    separate filtered legs would each re-run the whole upstream
    subtree in the same action."""
    def c(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy().agg(F.count("*").alias("n")).select(
            F.lit(name).alias("geom_type"), "n")
    if res.way_features is not None:
        wf = (res.way_features.groupBy().agg(
            F.sum(F.when(F.col("geom_type") == "linestring", 1)
                  .otherwise(0)).alias("nl"),
            F.sum(F.when(F.col("geom_type") == "simple_polygon", 1)
                  .otherwise(0)).alias("np"))
            .selectExpr("stack(2, 'linestrings', coalesce(nl, 0L), "
                        "'simple_polygons', coalesce(np, 0L)) "
                        "as (geom_type, n)"))
    else:
        wf = (c(res.linestrings, "linestrings")
              .unionByName(c(res.simple_polygons, "simple_polygons")))
    return (c(res.points, "points")
            .unionByName(wf)
            .unionByName(c(res.complicated_polygons, "complicated_polygons")))


def run_pipeline_checkpointed(spark: SparkSession, docs_path: str,
                              workdir: str,
                              style: GeometryStyle | None = None,
                              minzoom: MinZoomSpec | None = None,
                              tile_group_depth: int = 8,
                              force: bool = False,
                              end_date: int | None = None) -> tuple[PipelineResult, dict]:
    """North-rule resumable pipeline: every stage materializes through
    the LineageStore with per-partition row metrics; a re-run (same
    input fingerprint) skips completed stages and resumes mid-tiling.

    Returns (result, resumed_flags) where resumed_flags[stage] is True
    when the stage was served from its checkpoint."""
    from .lineage import LineageStore, fingerprint_input, run_stage

    style = style or GeometryStyle()
    store = LineageStore(spark, workdir)
    fp = fingerprint_input(docs_path)
    resumed: dict[str, bool] = {}

    def stage(name, build):
        out, was = run_stage(store, name, fp, build, force=force)
        resumed[name] = was
        return out

    docs = read_docs(spark, docs_path)
    t = decode_all(docs)
    nodes = stage("decode_nodes", lambda: t["nodes"])
    ways = stage("decode_ways", lambda: t["ways"])
    relations = stage("decode_relations", lambda: t["relations"])
    media = stage("decode_media", lambda: t["media"])

    ways_ll = stage("waynodes", lambda: collect_way_nodes(ways, nodes)[0])
    err_w = stage("waynodes_errors", lambda: collect_way_nodes(ways, nodes)[1])

    nodes2 = (stage("parent_tags", lambda: add_parent_tags(nodes, ways_ll, style))
              if style.parent_tags else nodes)
    ways2 = (stage("relation_tags", lambda: add_relation_tags(ways_ll, relations, style))
             if style.relation_tag_spec else ways_ll)

    if style.multipolygons:
        cpolys = stage("multipolygons",
                       lambda: process_multipolygons(relations, ways2, style)[0])
        err_r = stage("multipolygon_errors",
                      lambda: process_multipolygons(relations, ways2, style)[1])
    else:
        cpolys = spark.createDataFrame([], EMPTY_CPOLYS)
        err_r = spark.createDataFrame([], EMPTY_ERRORS)

    points = stage("points", lambda: make_points(nodes2, style))
    # FUSED way-feature stage (round-3 verdict Next #10, mirroring
    # run_pipeline): ONE checkpointed traversal builds lines+polygons
    # with the geom_type discriminator; the per-type frames are cheap
    # filters over the checkpointed table.  Old per-type stage chains
    # (lines/simple_polygons x minzoom x tiles) collapse from 6 stages
    # to 3.
    way_feats = stage("way_features", lambda: make_way_features(ways2, style))

    if minzoom is not None:
        from .operators.minzoom import _apply as _apply_mz
        drop = minzoom.max_minzoom is not None
        p0, w0, c0 = points, way_feats, cpolys  # snapshot: the lambdas
        # must see pre-minzoom inputs even after rebinding
        points = stage("minzoom_points", lambda: _apply_mz(
            p0, minzoom.sql_point_minzoom("tags"), drop))
        way_feats = stage("minzoom_way_features",
                          lambda: find_minzoom_fused(w0, minzoom))
        cpolys = stage("minzoom_complicated_polygons", lambda: _apply_mz(
            c0, minzoom.sql_polygon_minzoom("tags", "area"), drop))

    points = stage("tiles_points",
                   lambda: allocate_tiles(points, tile_group_depth))
    way_feats = stage("tiles_way_features",
                      lambda: allocate_tiles(way_feats, tile_group_depth))
    cpolys = stage("tiles_complicated_polygons",
                   lambda: allocate_tiles(cpolys, tile_group_depth))

    if end_date is not None:
        # stamped on the RETURNED frames (`geometry_block.rs:39`); the
        # per-stage checkpoints themselves stay date-free so a resume
        # with a different -t needn't recompute
        def _stamp(df):
            return df.withColumn("end_date",
                                 F.lit(int(end_date)).cast("long"))
        points, way_feats, cpolys = (
            _stamp(points), _stamp(way_feats), _stamp(cpolys))

    lines, spolys = split_way_features(way_feats)
    res = PipelineResult(points=points, linestrings=lines,
                         simple_polygons=spolys, complicated_polygons=cpolys,
                         errors=err_w.unionByName(err_r),
                         decoded={"nodes": nodes, "ways": ways,
                                  "relations": relations, "media": media},
                         way_features=way_feats)
    return res, resumed
