"""North-rule resumable pipeline: per-stage lineage, idempotent
re-runs, mid-tiling resume after partial loss."""

import shutil

import pytest
from pyspark.sql import functions as F

from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
from osmquadtree_geometry_spark.pipeline import run_pipeline_checkpointed


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_first_run_computes_everything(spark, docs_path, workdir):
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert not any(resumed.values())
    assert res.points.count() > 0
    assert res.complicated_polygons.count() > 0
    # lineage rows exist for every stage
    from osmquadtree_geometry_spark.lineage import LineageStore
    store = LineageStore(spark, workdir)
    lin = store.read("tiles_points")
    assert lin is not None and lin.count() > 0


def test_second_run_resumes_everything(spark, docs_path, workdir):
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert all(resumed.values()), {k: v for k, v in resumed.items() if not v}
    assert res.points.count() > 0


def test_mid_tiling_resume_after_partial_loss(spark, docs_path, workdir):
    """Delete one LATE stage's output (mid-tiling failure analogue):
    only that stage recomputes; every earlier stage resumes."""
    import os
    victim = None
    for d in os.listdir(workdir):
        if d == "out_stage=tiles_points":
            victim = os.path.join(workdir, d)
    assert victim
    shutil.rmtree(victim)
    res, resumed = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    assert resumed["decode_nodes"] and resumed["waynodes"] \
        and resumed["multipolygons"] and resumed["minzoom_points"]
    # the damaged stage recomputed (lineage present but output missing)
    assert not resumed["tiles_points"]
    assert res.points.count() > 0


def test_results_match_uncheckpointed(spark, docs_path, workdir):
    from osmquadtree_geometry_spark.pipeline import run_pipeline
    live = run_pipeline(spark, docs_path, minzoom=MinZoomSpec.default())
    ck, _ = run_pipeline_checkpointed(
        spark, docs_path, workdir, minzoom=MinZoomSpec.default())
    for a, b in ((live.points, ck.points),
                 (live.linestrings, ck.linestrings),
                 (live.simple_polygons, ck.simple_polygons),
                 (live.complicated_polygons, ck.complicated_polygons)):
        la = sorted((r.id, r.quadtree, r.tile) for r in
                    a.select("id", "quadtree", "tile").collect())
        lb = sorted((r.id, r.quadtree, r.tile) for r in
                    b.select("id", "quadtree", "tile").collect())
        assert la == lb


def test_checkpointed_without_multipolygons(spark, docs_path, tmp_path):
    """style.multipolygons=False elides J2: the empty multipolygon
    frame still carries the quadtree that tile allocation reads."""
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    res, _ = run_pipeline_checkpointed(
        spark, docs_path, str(tmp_path / "ckpt"),
        style=GeometryStyle(multipolygons=False))
    assert res.complicated_polygons.count() == 0
    assert "tile" in res.complicated_polygons.columns
    assert res.points.where(F.col("tile") >= 0).count() > 0
