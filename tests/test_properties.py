"""Property tests (hypothesis) — SURVEY §5's encode∘decode / algebra
strategy over the pure kernels.  The reference ships no tests; its
implicit invariants (pack/unpack round-trips, ring-assembly algebra,
quadtree laws, winding repair post-conditions) become generated-input
properties here.  No Spark session needed."""

import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osmquadtree_geometry_spark.kernels import geomcalc, quadtree as qtk
from osmquadtree_geometry_spark.kernels import rings as ringk
from osmquadtree_geometry_spark.kernels import wkb as wkbk

LON = st.integers(min_value=-1_799_999_999, max_value=1_799_999_999)
LAT = st.integers(min_value=-849_000_000, max_value=849_000_000)
DEPTH = st.integers(min_value=0, max_value=18)


# ---------------------------------------------------------------------------
# quadtree laws (G11)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(LON, LAT, DEPTH)
def test_qt_xyz_roundtrip_and_depth(lon, lat, d):
    q = qtk.calculate_point(np.asarray([lon]), np.asarray([lat]), d)
    tx, ty, dz = qtk.xyz(q)
    assert dz[0] == d <= 18
    assert qtk.from_tile(tx, ty, d)[0] == q[0]


@settings(max_examples=200, deadline=None)
@given(LON, LAT, DEPTH, DEPTH)
def test_qt_round_is_ancestor(lon, lat, d1, d2):
    """round(q, d2) is an ancestor-or-self of q, and equals the direct
    encode of the point at min(d1, d2)."""
    q = qtk.calculate_point(np.asarray([lon]), np.asarray([lat]), d1)
    r = qtk.round_qt(q, np.asarray([d2]))
    assert qtk.is_parent(r, q)[0]
    direct = qtk.calculate_point(np.asarray([lon]), np.asarray([lat]),
                                 min(d1, d2))
    assert r[0] == direct[0]


@settings(max_examples=200, deadline=None)
@given(LON, LAT, DEPTH)
def test_qt_tile_bounds_contain_point(lon, lat, d):
    q = qtk.calculate_point(np.asarray([lon]), np.asarray([lat]), d)
    bl, bb, br, bt = qtk.tile_bounds(q)
    assert bl[0] <= lon <= br[0]
    assert bb[0] <= lat <= bt[0]


@settings(max_examples=100, deadline=None)
@given(LON, LAT, LON, LAT, DEPTH)
def test_qt_common_ancestor_law(lon1, lat1, lon2, lat2, d):
    """common_ancestor is a parent of both inputs and is the DEEPEST
    such cell (its two children towards the inputs differ)."""
    qa = qtk.calculate_point(np.asarray([lon1]), np.asarray([lat1]), d)
    qb = qtk.calculate_point(np.asarray([lon2]), np.asarray([lat2]), d)
    c = qtk.common_ancestor(qa, qb)
    assert qtk.is_parent(c, qa)[0] and qtk.is_parent(c, qb)[0]
    cd = int(qtk.depth(c)[0])
    if cd < d:  # one level deeper must separate them
        da = qtk.round_qt(qa, np.asarray([cd + 1]))
        db = qtk.round_qt(qb, np.asarray([cd + 1]))
        assert da[0] != db[0]


# ---------------------------------------------------------------------------
# closed-form tile allocation (S5/J6, operators/tiles.py): a feature's
# tile is its cell's depth-8 ancestor (-1 when shallower), which must
# equal the reference's deepest ancestor registered by ANY node's cell
# ---------------------------------------------------------------------------

_EDGES8 = np.arange(257)
LON_EDGE8 = (_EDGES8 * 14_062_500 - 1_800_000_000).tolist()
LAT_EDGE8 = np.round(np.degrees(np.arctan(np.sinh(
    np.pi * (1 - 2 * _EDGES8 / 256)))) * 1e7).astype(np.int64).tolist()
CLAMP_LAT = [850_511_287, -850_511_287, 900_000_000, -900_000_000]
UNIT = st.integers(-1, 1)
EDGE_LON = st.builds(int.__add__, st.sampled_from(LON_EDGE8), UNIT)
EDGE_LAT = st.builds(int.__add__, st.sampled_from(LAT_EDGE8 + CLAMP_LAT),
                     UNIT)
NODE_LON = st.one_of(EDGE_LON,
                     st.integers(-1_800_000_000, 1_800_000_000))
NODE_LAT = st.one_of(EDGE_LAT, st.sampled_from(CLAMP_LAT),
                     st.integers(-900_000_000, 900_000_000))
# feature nodes sit around a shared anchor: exactly on it, +-1 unit, or
# within a fraction of a depth-8 cell (~14M units), so features both
# straddle cell edges and fit inside one cell
OFFSET = st.one_of(st.integers(-1, 1), st.integers(-300_000, 300_000))


def _old_registered_tile(qt, all_lon, all_lat, g=8):
    """The allocation being replaced: register the depth-g round of
    every node's point cell, then take the feature cell's deepest
    registered ancestor, else -1."""
    reg = set(qtk.round_qt(qtk.calculate_point(all_lon, all_lat),
                           np.full(len(all_lon), g)).tolist())
    if qt < 0:
        return -1
    for d in range(int(qtk.depth(np.asarray([qt]))[0]), -1, -1):
        a = int(qtk.round_qt(np.asarray([qt]), np.asarray([d]))[0])
        if a in reg:
            return a
    return -1


@settings(max_examples=300, deadline=None)
@given(NODE_LON, NODE_LAT,
       st.lists(st.tuples(OFFSET, OFFSET), min_size=1, max_size=6),
       st.lists(st.tuples(NODE_LON, NODE_LAT), max_size=20),
       st.none() | DEPTH)
def test_closed_form_tile_equals_registered_ancestor(lon0, lat0, offs,
                                                     background, minzoom):
    lon = np.asarray([lon0 + a for a, _ in offs], np.int64)
    lat = np.asarray([lat0 + b for _, b in offs], np.int64)
    qt = qtk.calculate_bbox(*([v] for v in (lon.min(), lat.min(),
                                            lon.max(), lat.max())))
    if minzoom is not None:
        qt = qtk.round_qt(qt, np.asarray([minzoom]))
    qt = int(qt[0])
    bg_lon = np.asarray([p[0] for p in background], np.int64)
    bg_lat = np.asarray([p[1] for p in background], np.int64)
    expected = _old_registered_tile(qt, np.concatenate([lon, bg_lon]),
                                    np.concatenate([lat, bg_lat]))
    q = np.asarray([qt])
    closed = int(np.where(qtk.depth(q) >= 8, qtk.round_qt(q, 8), -1)[0])
    assert closed == expected


# ---------------------------------------------------------------------------
# WKB encode/decode (G12): parse our own bytes back
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(LON, LAT)
def test_wkb_point_roundtrip(lon, lat):
    raw = wkbk.point_wkb(lon, lat, transform=False, with_srid=False)
    (bo,) = struct.unpack_from("<B", raw, 0)
    (ty,) = struct.unpack_from("<I", raw, 1)
    x, y = struct.unpack_from("<dd", raw, 5)
    assert bo == 1 and ty == 1
    assert x == float(np.round(lon * 1e-7, 7)) or abs(x - lon * 1e-7) < 1e-6
    assert abs(y - lat * 1e-7) < 1e-6


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(LON, LAT), min_size=2, max_size=20))
def test_wkb_linestring_roundtrip(pts):
    lon = np.asarray([p[0] for p in pts], np.int64)
    lat = np.asarray([p[1] for p in pts], np.int64)
    raw = wkbk.linestring_wkb(lon, lat, transform=False, with_srid=False)
    (ty,) = struct.unpack_from("<I", raw, 1)
    (n,) = struct.unpack_from("<I", raw, 5)
    assert ty == 2 and n == len(pts)
    for i in range(n):
        x, y = struct.unpack_from("<dd", raw, 9 + 16 * i)
        assert abs(x - lon[i] * 1e-7) < 1e-6
        assert abs(y - lat[i] * 1e-7) < 1e-6


# ---------------------------------------------------------------------------
# ring assembly algebra (G7/G8): any segmentation/orientation of a
# simple ring reassembles to the same cycle; winding repair normalizes
# ---------------------------------------------------------------------------

def _regular_ring(n, cx, cy, r):
    """Closed convex ring (distinct int vertices, CCW in lonlat)."""
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    lon = (cx + r * np.cos(ang)).astype(np.int64)
    lat = (cy + r * np.sin(ang)).astype(np.int64)
    lon = np.append(lon, lon[0])
    lat = np.append(lat, lat[0])
    return lon, lat


@settings(max_examples=60, deadline=None)
@given(st.integers(5, 24), st.data())
def test_ring_reassembly_any_segmentation(n, data):
    lon, lat = _regular_ring(n, 10_000_000, 5_000_000, 2_000_000)
    refs = list(range(100, 100 + n)) + [100]
    # random cut points -> way segments
    n_cuts = data.draw(st.integers(1, min(6, n - 1)))
    cuts = sorted(data.draw(
        st.lists(st.integers(1, n - 1), min_size=n_cuts, max_size=n_cuts,
                 unique=True)))
    bounds = [0] + cuts + [n]
    parts = []
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        sl = slice(a, b + 1)
        p = ringk.RingPart(1000 + i, False, refs[sl], lon[sl], lat[sl])
        # random orientation per segment
        if data.draw(st.booleans()):
            p = ringk.RingPart(p.orig_id, False, list(reversed(p.refs)),
                               p.lon[::-1], p.lat[::-1])
        parts.append(p)
    order = data.draw(st.permutations(range(len(parts))))
    rings, left = ringk.collect_rings([parts[i] for i in order])
    assert len(rings) == 1 and not left
    got = rings[0].refs_seq()
    assert got[0] == got[-1] and len(got) == n + 1
    # same cycle up to rotation + direction
    cyc = got[:-1]
    base = refs[:-1]
    i0 = cyc.index(base[0])
    rot = cyc[i0:] + cyc[:i0]
    assert rot == base or rot == [base[0]] + list(reversed(base[1:]))


@settings(max_examples=60, deadline=None)
@given(st.integers(4, 20), st.booleans())
def test_winding_repair_postconditions(n, flip):
    lon, lat = _regular_ring(n, -3_000_000, 2_000_000, 1_500_000)
    if flip:
        lon, lat = lon[::-1], lat[::-1]
    r = ringk.Ring(parts=[ringk.RingPart(1, False, list(range(n + 1)),
                                         lon.copy(), lat.copy())])
    r.calc_area_bbox()
    part = ringk.PolygonPart.new(r)
    # exterior forced positive (reference sign convention)
    assert part.exterior.area > 0
    inner_lon, inner_lat = _regular_ring(max(4, n - 1), -3_000_000,
                                         2_000_000, 700_000)
    q = ringk.Ring(parts=[ringk.RingPart(2, False, list(range(50, 50 + n)),
                                         inner_lon, inner_lat)])
    q.calc_area_bbox()
    part.add_interior(q)
    assert part.interiors[0].area < 0
    assert part.area < part.exterior.area


# ---------------------------------------------------------------------------
# clip (G5): Liang-Barsky output lies in the box and on the polyline
# ---------------------------------------------------------------------------

@settings(max_examples=80, deadline=None)
@given(st.lists(st.tuples(st.integers(-100, 100), st.integers(-100, 100)),
                min_size=2, max_size=12))
def test_clip_parts_inside_box(pts):
    lon = np.asarray([p[0] * 100_000 for p in pts], np.int64)
    lat = np.asarray([p[1] * 100_000 for p in pts], np.int64)
    bbox = (-5_000_000, -5_000_000, 5_000_000, 5_000_000)
    for plon, plat in geomcalc.clip_line_bbox(lon, lat, bbox):
        assert len(plon) >= 2
        assert (plon >= bbox[0] - 1).all() and (plon <= bbox[2] + 1).all()
        assert (plat >= bbox[1] - 1).all() and (plat <= bbox[3] + 1).all()
