"""Output checks. Every mismatch counts as a failed operation.

* ``SearchOracle`` -- an exact numpy replay of one /search request over the
  generated arrays: dedup, lower-cased type IN-list, point-in-rectangle
  (NULL geometry excluded), float64 cosine distance, order by (dist, id),
  then skip/limit. Ids must match position by position; two ids may trade
  places only when their distances differ by less than ``NEAR_TIE``.
* ``CatalogOracle`` -- each catalog job against its ``catalog.ORACLES`` SQL
  run by DuckDB over the same generated tables, compared with
  ``tools/oracle_check.py``'s order-insensitive multiset.
"""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

import numpy as np

from gen import Layers, mercator_to_lonlat

NEAR_TIE = 1e-9
TEXT_FIELDS = ("name", "type", "description", "url", "metadata_text")
_HTML_TAG = re.compile(r"</?[a-zA-Z][^>]*>")


class SearchOracle:
    def __init__(self, layers: Layers, embedder) -> None:
        self.layers = layers
        self.embedder = embedder
        self.emb64 = layers.emb.astype(np.float64)
        self.types_lower = np.array([t.lower() for t in layers.types])
        self.ids = np.array(layers.ids)
        self.row_of = {lid: i for i, lid in enumerate(layers.ids)}

    def candidates(self, payload: dict) -> tuple[np.ndarray, np.ndarray]:
        """Rows passing the filters and their distances, in result order."""
        mask = np.ones(len(self.ids), dtype=bool)
        if payload.get("type_filter"):
            wanted = [t.lower() for t in payload["type_filter"]]
            mask &= np.isin(self.types_lower, wanted)
        point = payload.get("input_point")
        if point is not None:
            lon, lat = point["longitude"], point["latitude"]
            if point.get("epsg", 4326) == 3857:
                lon, lat = mercator_to_lonlat(lon, lat)
            b = self.layers.bbox
            with np.errstate(invalid="ignore"):
                mask &= (b[:, 0] <= lon) & (lon <= b[:, 2]) & (b[:, 1] <= lat) & (lat <= b[:, 3])
        rows = np.flatnonzero(mask)
        q = np.asarray(self.embedder.embed_query(payload["request_string"]), dtype=np.float64)
        # the store is L2-normalised, so cosine distance is 1 - dot
        dist = 1.0 - self.emb64[rows] @ q
        order = np.lexsort((self.ids[rows], dist))
        return rows[order], dist[order]

    def check(self, payload: dict, via: str, response) -> str | None:
        """None when the response is right, else the reason it is not."""
        if response.error is not None:
            return f"error: {response.error}"
        rows, dist = self.candidates(payload)
        skip, limit = payload.get("skip", 0), payload.get("limit", 5)
        want = dist[skip : skip + limit]
        got = [layer.id for layer in response.layers or []]
        if len(got) != len(want):
            return f"{len(got)} results, expected {len(want)}"
        if len(set(got)) != len(got):
            return "duplicate ids"
        dist_of = dict(zip(self.ids[rows].tolist(), dist.tolist()))
        for pos, lid in enumerate(got):
            if lid not in dist_of:
                return f"{lid} does not pass the filters"
            expected = self.ids[rows[skip + pos]]
            if lid != expected and abs(dist_of[lid] - want[pos]) >= NEAR_TIE:
                return f"position {pos}: {lid}, expected {expected}"
        for layer in response.layers or []:
            i = self.row_of[layer.id]
            for field in TEXT_FIELDS:
                value = getattr(layer, field)
                if via == "mcp":
                    if value and _HTML_TAG.search(value):
                        return f"{layer.id}.{field} still holds HTML"
                elif value != getattr(self.layers, _ATTR[field])[i]:
                    return f"{layer.id}.{field} differs"
        return None


_ATTR = {
    "name": "names",
    "type": "types",
    "description": "descriptions",
    "url": "urls",
    "metadata_text": "metadata",
}


def load_oracle_check(root: Path):
    """The repository's DuckDB comparison helpers (tools/oracle_check.py)."""
    spec = importlib.util.spec_from_file_location("oracle_check", root / "tools" / "oracle_check.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class CatalogOracle:
    def __init__(self, root: Path, tables_dir: Path, jobs: list[str], oracle_sql: dict[str, str]) -> None:
        import duckdb

        self._multiset = load_oracle_check(root).rows_to_multiset
        self.expected: dict[str, tuple[list[str], list]] = {}
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for f in sorted(tables_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
            for job in jobs:
                res = con.execute(oracle_sql[job])
                cols = [d[0] for d in res.description]
                self.expected[job] = (sorted(cols), self._multiset(cols, res.fetchall()))
        finally:
            con.close()

    def check(self, job: str, cols: list[str], rows: list[tuple]) -> str | None:
        got = self._multiset(cols, rows)
        want_cols, want = self.expected[job]
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)}, expected {want_cols}"
        if len(got) != len(want):
            return f"{len(got)} rows, expected {len(want)}"
        return None if got == want else "values differ from the DuckDB oracle"
