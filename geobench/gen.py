"""Seeded input generator for the benchmark workloads.

``datagen.Scene(i)`` and the scene catalogue are pure functions of the
doc index ``i``, so a seed selects a disjoint index range: fresh ids
and coordinates, the same scene mix.  Everything here runs in one
process and writes ``datagen.DOCS_SCHEMA`` parquet to a path the caller
chooses (never ``datagen.fixture_docs_path``).
"""

from __future__ import annotations

import math
import random

import pyarrow as pa
import pyarrow.parquet as pq

from osmquadtree_geometry_spark import datagen

# Index ranges of two seeds never overlap: a seed owns SEED_STRIDE doc
# indices, and every workload uses fewer docs than that.  Seeds are
# taken modulo MAX_SEED, which keeps every id inside int64.
SEED_STRIDE = 12 * 1000
MAX_SEED = 10 ** 6

# Scenes holding relations (``datagen.SCENES`` positions): donut,
# multi_part, missing_member, relation_tags, skew.
RELATION_SCENES = (2, 3, 4, 6, 10)

# Ids of benchmark-built relation docs live above every scene id
# (scene ids are doc index * 1000 + n, n < 1000).
REL_ID_BASE = 1 << 50
REL_ID_STRIDE = 1 << 20


def first_index(seed: int) -> int:
    return seed % MAX_SEED * SEED_STRIDE


def _spans(s: datagen.Scene) -> list[dict]:
    return [{"kind": k, "text": t, "media_ref": m, "offset": off}
            for off, (k, t, m) in enumerate(s.spans())]


def mixed_docs(seed: int, n_docs: int):
    """All 12 scenes round-robin, starting at the seed's index range."""
    start = first_index(seed)
    for i in range(start, start + n_docs):
        yield datagen.build_doc(i)


def _heavy_tail(rng: random.Random, lo: int, hi: int, alpha: float) -> int:
    """Pareto-distributed integer in [lo, hi]."""
    return min(hi, int(lo * rng.paretovariate(alpha)))


def relation_doc(i: int, rng: random.Random) -> tuple[str, list[dict]]:
    """One multipolygon relation whose outer ring is a circle split into
    a heavy-tailed number of member ways, each with a heavy-tailed
    vertex count; every third relation also gets a square hole."""
    s = datagen.Scene(i)
    s.base = REL_ID_BASE + i * REL_ID_STRIDE
    n_ways = _heavy_tail(rng, 2, 400, 1.2)
    per_way = _heavy_tail(rng, 2, 40, 1.5)
    npts = n_ways * per_way
    radius = 20 * datagen.U
    coords = [(int(radius * math.cos(2 * math.pi * k / npts)),
               int(radius * math.sin(2 * math.pi * k / npts)))
              for k in range(npts)]
    _, outer = s.ring(1, npts + 10, coords, n_ways=n_ways)
    members = [("way", w, "outer") for w in outer]
    if i % 3 == 0:
        u = 2 * datagen.U
        hole = [(-u, -u), (u, -u), (u, u), (-u, u)]
        _, inner = s.ring(npts + n_ways + 20, npts + n_ways + 30, hole)
        members += [("way", w, "inner") for w in inner]
    s.rel(npts + n_ways + 40, members,
          {"type": "multipolygon", "landuse": "forest"})
    return f"doc-rel-{i:012d}", _spans(s)


def multipolygon_docs(seed: int, n_docs: int):
    """Relation-heavy input: half the docs are the catalogue's relation
    scenes, half are benchmark-built heavy-tailed relations."""
    start = first_index(seed)
    rng = random.Random(seed % MAX_SEED)
    i = start
    made = 0
    while made < n_docs:
        if i % len(datagen.SCENES) in RELATION_SCENES:
            yield datagen.build_doc(i)
            made += 1
            if made < n_docs:
                yield relation_doc(i, rng)
                made += 1
        i += 1


def write_docs(path: str, docs, chunk: int = 256) -> int:
    """Write (doc_id, spans) pairs as DOCS_SCHEMA parquet; small row
    groups let Spark split the file into parallel tasks."""
    n = 0
    writer = pq.ParquetWriter(path, datagen.DOCS_SCHEMA)
    try:
        ids, spans = [], []
        for doc_id, sp in docs:
            ids.append(doc_id)
            spans.append(sp)
            if len(ids) == chunk:
                writer.write_table(pa.Table.from_pydict(
                    {"doc_id": ids, "spans": spans}, schema=datagen.DOCS_SCHEMA))
                n += len(ids)
                ids, spans = [], []
        if ids:
            writer.write_table(pa.Table.from_pydict(
                {"doc_id": ids, "spans": spans}, schema=datagen.DOCS_SCHEMA))
            n += len(ids)
    finally:
        writer.close()
    return n
