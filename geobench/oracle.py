"""Correctness gate: DuckDB oracle results from ``oracles.py``, computed
once per input before any timed run, and the comparisons that count a
timed result as failed."""

from __future__ import annotations

from collections import Counter

import duckdb

from osmquadtree_geometry_spark import oracles
from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
from osmquadtree_geometry_spark.config.style import GeometryStyle

# knn_join's k, as in the flagship ``knn_join`` query
KNN_K = 3


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def feature_tile_counts(con, docs: str, style: GeometryStyle,
                        spec: MinZoomSpec) -> list[tuple]:
    """(geom_type, tile, n_features, min_id, max_id) — the build gate."""
    return rows(con, oracles.q_feature_tile_counts(docs, style, spec))


def feature_points(con, docs: str, style: GeometryStyle) -> list[tuple]:
    """(id, lon, lat) of every feature node: the bbox-read gate and the
    source of query windows."""
    return rows(con, f"""WITH {oracles.base_ctes(docs)}
SELECT nd.id, nd.lon, nd.lat FROM nd
WHERE {oracles.feature_exists(style, 'node', 'nd.id')}
ORDER BY nd.id""")


def spatial(con, docs: str, style: GeometryStyle,
            spec: MinZoomSpec) -> dict[str, list[tuple]]:
    """Full-input results of the three spatial-join oracles; a windowed
    query is checked against the rows whose point lies in its window."""
    return {
        "pip_join": rows(con, oracles.q_pip_join(docs, style)),
        "knn_join": rows(con, oracles.q_knn_join(docs, style, k=KNN_K)),
        "raster_vector_join": rows(con, oracles.q_raster_vector(docs, style,
                                                                spec)),
    }


def mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row multisets are equal, else a short
    description of the difference."""
    g, w = Counter(got), Counter(want)
    if g == w:
        return None
    extra = sorted(g - w, key=repr)[:3]
    missing = sorted(w - g, key=repr)[:3]
    return (f"{len(got)} rows vs {len(want)} expected; "
            f"unexpected {extra}, missing {missing}")
