#!/usr/bin/env python
"""Round-6 profiling: break the headline geometry_pipeline action into
phases and count Spark jobs/stages per phase (guide SS1: measure first).

Not part of the frozen bench; numbers feed OPTIMIZATION_r06.md.
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    from osmquadtree_geometry_spark.session import get_spark
    from osmquadtree_geometry_spark.datagen import fixture_docs_path
    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    from osmquadtree_geometry_spark import cache
    from pyspark.sql import functions as F

    spark = get_spark("profile", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    sc = spark.sparkContext
    docs_path = fixture_docs_path(SF_DIR)
    spark.read.parquet(docs_path).count()

    st = sc.statusTracker()

    def jobs():
        return len(st.getJobIdsForGroup(None) or [])

    def run_once(tag):
        t0 = time.monotonic()
        res = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default(),
                           persist=False)
        t_plan = time.monotonic() - t0

        def c(df, name):
            return df.groupBy().agg(F.count("*").alias("n")).select(
                F.lit(name).alias("t"), "n")
        wf = (res.way_features.groupBy().agg(
            F.sum(F.when(F.col("geom_type") == "linestring", 1)
                  .otherwise(0)).alias("nl"),
            F.sum(F.when(F.col("geom_type") == "simple_polygon", 1)
                  .otherwise(0)).alias("np"))
            .selectExpr("stack(2, 'linestrings', coalesce(nl, 0L), "
                        "'simple_polygons', coalesce(np, 0L)) as (t, n)"))
        allc = (c(res.points, "points")
                .unionByName(wf)
                .unionByName(c(res.complicated_polygons, "complicated_polygons"))
                .unionByName(c(res.errors, "errors")))
        j0 = jobs()
        t1 = time.monotonic()
        allc.collect()
        t_exec = time.monotonic() - t1
        cache.release_all()
        print(f"[{tag}] plan_build={t_plan:.2f}s exec={t_exec:.2f}s "
              f"jobs_delta={jobs() - j0}")
        return res

    # phase-level timing on a fresh build, piece by piece
    def timed_count(tag, df):
        j0 = jobs()
        t0 = time.monotonic()
        n = df.groupBy().agg(F.count("*")).collect()[0][0]
        print(f"  {tag}: {time.monotonic() - t0:.2f}s rows={n} "
              f"jobs={jobs() - j0}")

    run_once("cold")
    run_once("warm1")
    run_once("warm2")

    print("--- piecewise (warm JVM, fresh plans, persist=False) ---")
    t0 = time.monotonic()
    res = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default(),
                       persist=False)
    print(f"plan build: {time.monotonic() - t0:.2f}s")
    timed_count("points", res.points)
    timed_count("way_features", res.way_features)
    timed_count("cpolys", res.complicated_polygons)
    timed_count("errors", res.errors)
    cache.release_all()

    # decode pieces
    from osmquadtree_geometry_spark.decode import decode_all, read_docs
    t = decode_all(read_docs(spark, docs_path))
    timed_count("decode nodes", t["nodes"])
    timed_count("decode ways", t["ways"])
    timed_count("decode relations", t["relations"])
    from osmquadtree_geometry_spark.operators.waynodes import collect_way_nodes
    ways_ll, err = collect_way_nodes(t["ways"], t["nodes"])
    timed_count("ways_ll (J1)", ways_ll)
    from osmquadtree_geometry_spark.operators.multipolygons import (
        process_multipolygons)
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    cp, er = process_multipolygons(t["relations"], ways_ll, GeometryStyle())
    timed_count("cpolys (J2 direct)", cp)
    cache.release_all()


if __name__ == "__main__":
    main()
