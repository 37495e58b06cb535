"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from the seed
alone: the same seed gives byte-identical files, and the program receives
only those files (plus the request stream, which the client replays).

* ``layers.parquet`` -- a GeoParquet file shaped like the reference's
  ``layers`` table: text columns, L2-normalised float32 embeddings, WKB
  rectangles in EPSG:4326, ~3% exact duplicate rows, ~2% NULL geometry,
  ~10% HTML descriptions and mixed-case ``type`` values.
* ``documents``, ``embeddings``, ``customer``, ``supplier``, ``part`` and
  ``nation`` parquet tables in the catalog's schemas (word-bag documents
  with a ~10% near-duplicate share, clustered unit embeddings).
* the ``/search`` request stream: stratified blocks of ten requests (four
  plain, three ``type_filter``, three ``input_point``), two of them sent
  through the MCP tool, query strings drawn Zipf-like from a seeded pool.
"""

from __future__ import annotations

import json
import math
import struct
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAYER_TYPES = ["Feature Layer", "Table", "Raster Layer", "Map Service", "Image Service"]
LAYER_WORDS = (
    "parcel zoning hydrology elevation roads bridges census flood utility boundary "
    "district survey soil wetland transit parks school fire police water sewer "
    "electric broadband trail county state federal land cover habitat"
).split()
DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
PART_ADJ = ["cold", "small", "large", "red", "blue", "steel", "brass", "light"]
PART_NOUN = ["widget", "bolt", "gear", "panel", "valve", "spring"]

# Continental-US extent, where the layer rectangles and query points lie.
US_BOX = (-125.0, 24.0, -66.0, 49.0)
EARTH_R = 6378137.0

# One independent random stream per generated artefact, so a size change in
# one table never shifts the values of another.
_STREAMS = {"layers": 1, "requests": 2, "documents": 3, "embeddings": 4, "tpch": 5}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream]])


def wkb_rectangle(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    """Little-endian WKB Polygon with one closed 5-point ring."""
    return struct.pack(
        "<BIII10d", 1, 3, 1, 5,
        xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax, xmin, ymin,
    )


def lonlat_to_mercator(lon: float, lat: float) -> tuple[float, float]:
    x = EARTH_R * math.radians(lon)
    y = EARTH_R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return x, y


def mercator_to_lonlat(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / EARTH_R)
    lat = math.degrees(2 * math.atan(math.exp(y / EARTH_R)) - math.pi / 2)
    return lon, lat


@dataclass
class Layers:
    """The unique layers (after the reference's dedup), as arrays the search
    oracle works on. ``bbox`` rows are NaN where the geometry is NULL."""

    ids: list[str]
    names: list[str]
    types: list[str]
    descriptions: list[str]
    urls: list[str]
    metadata: list[str]
    emb: np.ndarray  # (n, dim) float32, unit rows
    bbox: np.ndarray  # (n, 4) float64: xmin, ymin, xmax, ymax


def make_layers(seed: int, n: int, dim: int) -> tuple[Layers, np.ndarray]:
    """Return the unique layers and the row order of the written file
    (indices into the unique layers; ~3% of them appear twice)."""
    rng = rng_for(seed, "layers")
    ids = [f"layer-{seed}-{i:06d}" for i in range(n)]
    names, types, descs, urls, meta = [], [], [], [], []
    for i in range(n):
        name = " ".join(rng.choice(LAYER_WORDS, size=3))
        typ = str(rng.choice(LAYER_TYPES))
        case = rng.random()
        if case < 0.15:
            typ = typ.upper()
        elif case < 0.3:
            typ = typ.lower()
        words = " ".join(rng.choice(LAYER_WORDS, size=12))
        if rng.random() < 0.1:
            desc = f"<p><b>{name}</b> {words}</p><ul><li>{typ}</li></ul>"
        else:
            desc = words
        url = f"https://gis.example.test/arcgis/rest/services/svc{i}/FeatureServer/0"
        names.append(name)
        types.append(typ)
        descs.append(desc)
        urls.append(url)
        meta.append(f"url: {url}\nname: {name}\ntype: {typ}\ndescription: {desc}")
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    x0, y0, x1, y1 = US_BOX
    cx = rng.uniform(x0, x1, n)
    cy = rng.uniform(y0, y1, n)
    w = rng.uniform(1.0, 12.0, n)
    h = rng.uniform(1.0, 8.0, n)
    bbox = np.stack([cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2], axis=1)
    bbox[rng.random(n) < 0.02] = np.nan
    order = np.concatenate([np.arange(n), rng.choice(n, size=max(1, n * 3 // 100), replace=False)])
    rng.shuffle(order)
    return Layers(ids, names, types, descs, urls, meta, emb, bbox), order


GEO_METADATA = {
    "version": "1.0.0",
    "primary_column": "geometry",
    "columns": {"geometry": {"encoding": "WKB", "geometry_types": ["Polygon"]}},
}


def write_layers_geoparquet(layers: Layers, order: np.ndarray, path: Path) -> int:
    """Write the source GeoParquet; returns its size in bytes."""
    geoms = [
        None if np.isnan(b[0]) else wkb_rectangle(*b) for b in layers.bbox
    ]
    dim = layers.emb.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(layers.emb[order].ravel(), pa.float32()), dim
    ).cast(pa.list_(pa.float32()))
    pick = lambda col: [col[i] for i in order]  # noqa: E731
    table = pa.table(
        {
            "id": pick(layers.ids),
            "name": pick(layers.names),
            "type": pick(layers.types),
            "description": pick(layers.descriptions),
            "url": pick(layers.urls),
            "metadata_text": pick(layers.metadata),
            "embeddings": emb,
            "geometry": pa.array(pick(geoms), pa.binary()),
        }
    ).replace_schema_metadata({"geo": json.dumps(GEO_METADATA)})
    pq.write_table(table, path)
    return path.stat().st_size


def make_requests(seed: int, layers: Layers, n_blocks: int) -> list[dict]:
    """The seeded /search stream: ``n_blocks`` stratified blocks of ten."""
    rng = rng_for(seed, "requests")
    pool = [" ".join(rng.choice(LAYER_WORDS, size=int(rng.integers(1, 4)))) for _ in range(48)]
    weights = 1.0 / np.arange(1, len(pool) + 1) ** 1.1
    weights /= weights.sum()
    with_geom = np.flatnonzero(~np.isnan(layers.bbox[:, 0]))
    out = []
    for _ in range(n_blocks):
        kinds = rng.permutation(["plain"] * 4 + ["type"] * 3 + ["point"] * 3)
        via_mcp = set(rng.choice(10, size=2, replace=False).tolist())
        for j, kind in enumerate(kinds):
            req: dict = {
                "request_string": pool[int(rng.choice(len(pool), p=weights))],
                "skip": int(rng.integers(0, 21)),
                "limit": int(rng.integers(1, 11)),
            }
            if kind == "type":
                picked = rng.choice(LAYER_TYPES, size=int(rng.integers(1, 3)), replace=False)
                req["type_filter"] = [
                    str(t).upper() if rng.random() < 0.3 else str(t).lower() if rng.random() < 0.5 else str(t)
                    for t in picked
                ]
            elif kind == "point":
                # a point well inside one rectangle, so every point query hits
                xmin, ymin, xmax, ymax = layers.bbox[int(rng.choice(with_geom))]
                lon = float(xmin + (xmax - xmin) * rng.uniform(0.1, 0.9))
                lat = float(ymin + (ymax - ymin) * rng.uniform(0.1, 0.9))
                if rng.random() < 1 / 3:
                    x, y = lonlat_to_mercator(lon, lat)
                    req["input_point"] = {"longitude": x, "latitude": y, "epsg": 3857}
                else:
                    req["input_point"] = {"longitude": lon, "latitude": lat}
            out.append({"kind": str(kind), "via": "mcp" if j in via_mcp else "search", "payload": req})
    return out


def write_documents(seed: int, n: int, path: Path) -> None:
    rng = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate: an earlier document with one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(DOC_WORDS, size=int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [str(rng.choice(LANGS)) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_embeddings(seed: int, n: int, dim: int, path: Path) -> None:
    rng = rng_for(seed, "embeddings")
    centroids = rng.standard_normal((10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + 0.5 * rng.standard_normal((n, dim)) / math.sqrt(dim)
    near = np.flatnonzero(rng.random(n) < 0.05)
    near = near[near > 0]
    src = (rng.random(len(near)) * near).astype(int)
    vecs[near] = vecs[src] + 0.01 * rng.standard_normal((len(near), dim)) / math.sqrt(dim)
    labels[near] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), pa.float32()), dim)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, path)


def write_tpch(seed: int, n_customer: int, n_supplier: int, n_part: int, out: Path) -> None:
    rng = rng_for(seed, "tpch")
    acct = lambda k: np.round(rng.uniform(-999.99, 9999.99, k), 2)  # noqa: E731
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        out / "nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
                "c_acctbal": acct(n_customer),
                "c_mktsegment": [str(s) for s in rng.choice(SEGMENTS, n_customer)],
            }
        ),
        out / "customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supplier), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supplier)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), pa.int32()),
                "s_acctbal": acct(n_supplier),
            }
        ),
        out / "supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
                "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
                "p_type": [str(t) for t in rng.choice(PART_TYPES, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + rng.uniform(0, 1100, n_part), 2),
            }
        ),
        out / "part.parquet",
    )
