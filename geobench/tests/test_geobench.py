"""The benchmark's own checks, at tiny input sizes (no Spark needed).

    python3 -m pytest geobench/tests -q
"""

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _read(path):
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pylist()


@pytest.mark.parametrize("make", [gen.mixed_docs, gen.multipolygon_docs])
def test_generator_is_deterministic_per_seed(tmp_path, make):
    paths = {}
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        paths[name] = str(tmp_path / f"{name}.parquet")
        assert gen.write_docs(paths[name], make(seed, 30)) == 30
    a, b, c = (_read(paths[k]) for k in "abc")
    assert a == b
    assert a != c
    # another seed is a disjoint index range: no doc id in common
    assert not {d["doc_id"] for d in a} & {d["doc_id"] for d in c}


def test_any_seed_maps_into_the_id_range():
    for seed in (0, 999_999, 2 ** 32 - 1, -5):
        doc_id, spans = next(gen.mixed_docs(seed, 1))
        ids = [int(s["text"].split("id=")[1].split(";")[0])
               for s in spans if s["kind"] == "node"]
        assert ids and max(ids) < 2 ** 63
    assert gen.first_index(7) == gen.first_index(7 + gen.MAX_SEED)


def test_generator_keeps_the_scene_mix_across_seeds():
    def scenes(seed):
        return [int(d.split("-")[1]) % 12 for d, _ in gen.mixed_docs(seed, 24)]
    assert sorted(scenes(0)) == sorted(scenes(7)) == sorted(list(range(12)) * 2)


def test_multipolygon_input_has_heavy_tailed_relations():
    import random
    rng = random.Random(0)
    sizes = []
    for i in range(400):
        _, spans = gen.relation_doc(i, rng)
        sizes.append(sum(s["kind"] == "rel_member" for s in spans))
    sizes.sort()
    assert sizes[len(sizes) // 2] < 10
    assert sizes[-1] >= 100


def test_metric_names_and_counts():
    e2e = run.END_TO_END
    layer = run.per_layer_units()
    assert len(e2e) <= 16 and len(layer) <= 128
    for name in list(e2e) + list(layer):
        assert NAME.match(name), name
    assert not set(e2e) & set(layer)


def test_benchmark_json_matches_the_metric_catalogue():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert ({m["name"]: m["unit"] for m in spec["per_layer"]}
            == run.per_layer_units())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["name"] == \
        "setup_s"


def test_oracle_gate_flags_a_corrupted_count(tmp_path):
    from osmquadtree_geometry_spark.config.minzoom import MinZoomSpec
    from osmquadtree_geometry_spark.config.style import GeometryStyle
    docs = str(tmp_path / "docs.parquet")
    gen.write_docs(docs, gen.mixed_docs(5, 24))
    con = oracle.connect(2, str(tmp_path / "duckdb"))
    want = oracle.feature_tile_counts(con, docs, GeometryStyle(),
                                      MinZoomSpec.default())
    con.close()
    assert want and oracle.mismatch(list(reversed(want)), want) is None
    geom_type, tile, n, lo, hi = want[0]
    corrupted = [(geom_type, tile, n + 1, lo, hi)] + want[1:]
    assert oracle.mismatch(corrupted, want) is not None
    assert oracle.mismatch(want[1:], want) is not None
