"""Self-tests of the benchmark's own machinery; no Spark, a few seconds.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from oracles import CatalogOracle, SearchOracle  # noqa: E402
from tracing import Span, layer_table, self_times  # noqa: E402


class HashEmbedder:
    """Deterministic unit vectors, standing in for the program's embedder."""

    def __init__(self, dim: int) -> None:
        self.dim = dim

    def embed_query(self, text: str) -> list[float]:
        seed = int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "little")
        v = np.random.default_rng(seed).standard_normal(self.dim)
        return (v / np.linalg.norm(v)).tolist()


def _write_all(seed: int, out: Path) -> None:
    out.mkdir()
    layers, order = gen.make_layers(seed, 120, 16)
    gen.write_layers_geoparquet(layers, order, out / "layers.parquet")
    (out / "requests.txt").write_text(repr(gen.make_requests(seed, layers, 3)))
    gen.write_documents(seed, 60, out / "documents.parquet")
    gen.write_embeddings(seed, 60, 8, out / "embeddings.parquet")
    gen.write_tpch(seed, 50, 10, 20, out)


def _digests(d: Path) -> dict[str, str]:
    return {f.name: hashlib.sha256(f.read_bytes()).hexdigest() for f in sorted(d.iterdir())}


def test_generator_is_deterministic_per_seed(tmp_path):
    _write_all(5, tmp_path / "a")
    _write_all(5, tmp_path / "b")
    _write_all(6, tmp_path / "c")
    a, b, c = (_digests(tmp_path / x) for x in "abc")
    assert a == b
    assert all(a[name] != c[name] for name in a if name != "nation.parquet")


def test_layers_shape():
    layers, order = gen.make_layers(3, 1000, 8)
    assert len(order) == 1030  # 3% duplicate rows
    assert np.allclose(np.linalg.norm(layers.emb, axis=1), 1.0, atol=1e-6)
    assert 0.005 < np.isnan(layers.bbox[:, 0]).mean() < 0.04
    assert any(t.isupper() for t in layers.types) and any(t.islower() for t in layers.types)


def test_request_blocks_are_stratified():
    layers, _ = gen.make_layers(4, 200, 8)
    stream = gen.make_requests(4, layers, 5)
    for b in range(5):
        block = stream[10 * b : 10 * b + 10]
        kinds = [x["kind"] for x in block]
        assert (kinds.count("plain"), kinds.count("type"), kinds.count("point")) == (4, 3, 3)
        assert sum(x["via"] == "mcp" for x in block) == 2
    strings = [x["payload"]["request_string"] for x in stream]
    assert len(set(strings)) < len(strings)  # Zipf-like draws repeat


def _brute_force(layers, embedder, payload) -> list[str]:
    """The search semantics written as plain loops."""
    q = embedder.embed_query(payload["request_string"])
    point = payload.get("input_point")
    if point is not None:
        lon, lat = point["longitude"], point["latitude"]
        if point.get("epsg", 4326) == 3857:
            lon, lat = gen.mercator_to_lonlat(lon, lat)
    wanted = [t.lower() for t in payload.get("type_filter") or []]
    scored = []
    for i, lid in enumerate(layers.ids):
        if wanted and layers.types[i].lower() not in wanted:
            continue
        if point is not None:
            xmin, ymin, xmax, ymax = layers.bbox[i]
            if np.isnan(xmin) or not (xmin <= lon <= xmax and ymin <= lat <= ymax):
                continue
        dot = sum(float(e) * x for e, x in zip(layers.emb[i], q))
        scored.append((1.0 - dot, lid))
    scored.sort()
    skip, limit = payload.get("skip", 0), payload.get("limit", 5)
    return [lid for _, lid in scored[skip : skip + limit]]


def _response(layers, ids, mutate=None):
    rows = []
    for lid in ids:
        i = layers.ids.index(lid)
        fields = {
            "id": lid,
            "name": layers.names[i],
            "type": layers.types[i],
            "description": layers.descriptions[i],
            "url": layers.urls[i],
            "metadata_text": layers.metadata[i],
        }
        if mutate:
            mutate(fields)
        rows.append(SimpleNamespace(**fields))
    return SimpleNamespace(error=None, layers=rows)


@pytest.fixture(scope="module")
def tiny_search():
    layers, _ = gen.make_layers(7, 300, 16)
    embedder = HashEmbedder(16)
    stream = gen.make_requests(7, layers, 4)
    return layers, SearchOracle(layers, embedder), embedder, stream


def test_search_oracle_agrees_with_brute_force(tiny_search):
    layers, oracle, embedder, stream = tiny_search
    nonempty = 0
    for item in stream:
        want = _brute_force(layers, embedder, item["payload"])
        nonempty += bool(want)
        assert oracle.check(item["payload"], "search", _response(layers, want)) is None
    assert nonempty > len(stream) // 2


def test_search_oracle_counts_injected_wrong_answers(tiny_search):
    layers, oracle, embedder, stream = tiny_search
    item = next(x for x in stream if len(_brute_force(layers, embedder, x["payload"])) >= 2)
    payload = item["payload"]
    want = _brute_force(layers, embedder, payload)
    swapped = [want[1], want[0], *want[2:]]
    outsider = next(lid for lid in layers.ids if lid not in want)
    assert oracle.check(payload, "search", _response(layers, swapped)) is not None
    assert oracle.check(payload, "search", _response(layers, want[:-1])) is not None
    assert oracle.check(payload, "search", _response(layers, [*want[:-1], outsider])) is not None
    renamed = _response(layers, want, lambda f: f.update(name=f["name"] + "!"))
    assert oracle.check(payload, "search", renamed) is not None
    assert oracle.check(payload, "search", SimpleNamespace(error="boom", layers=None)) is not None
    html = _response(layers, want, lambda f: f.update(description="<p>x</p>"))
    assert oracle.check(payload, "mcp", html) is not None


def test_catalog_oracle_counts_injected_wrong_answers(tmp_path):
    gen.write_documents(9, 80, tmp_path / "documents.parquet")
    sql = {"per_lang": "SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY lang"}
    oracle = CatalogOracle(HERE.parent, tmp_path, ["per_lang"], sql)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    counts = docs.groupby("lang").size()
    right = [(lang, int(n)) for lang, n in counts.items()]
    assert oracle.check("per_lang", ["lang", "n"], right) is None
    assert oracle.check("per_lang", ["lang", "n"], right[::-1]) is None  # order-insensitive
    wrong = [(right[0][0], right[0][1] + 1), *right[1:]]
    assert oracle.check("per_lang", ["lang", "n"], wrong) is not None
    assert oracle.check("per_lang", ["lang", "n"], right[1:]) is not None
    assert oracle.check("per_lang", ["lang", "count"], right) is not None


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("parent", 0.0, 10.0, None, "r1"),
        Span("a", 1.0, 3.0, 0, "r1"),
        Span("b", 2.0, 5.0, 0, "r1"),  # overlaps a
        Span("c", 8.0, 12.0, 0, "r1"),  # runs past the parent's end
        Span("leaf", 2.5, 3.5, 2, "r1"),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 2.0, 4.0, 1.0])
    table = layer_table(spans + [Span("a", 20.0, 21.0, None, "r2")])
    assert table["a"]["count"] == 2
    assert table["a"]["self_s"] == pytest.approx(3.0)
    assert table["parent"]["total_s"] == pytest.approx(10.0)
