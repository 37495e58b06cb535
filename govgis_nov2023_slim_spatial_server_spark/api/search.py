"""Search service: request → plan → collect → hydrate.

The Spark translation of the reference lifecycle (SURVEY.md §3.1): resident
SparkSession instead of per-request asyncpg connections (reference
backend/app.py:19-25), DataFrame plan instead of a SQL string, ``collect()``
(bounded by limit ≤ 10) instead of ``conn.fetch``; exceptions → in-band
error (reference backend/app.py:49-53). The MCP markdownify pass (reference
backend/mcp.py:12-20) lives only in ``api.mcp.gis_layer_search``; this
service returns the stored strings as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fixtures.embedder import Embedder
from ..plans.builder import SearchRequest, build_search_plan
from .models import LayerResult, SearchResponse, SemanticSearchRequest


class SearchService:
    def __init__(self, layers: DataFrame, embedder: Embedder):
        self.layers = layers
        self.embedder = embedder

    def search(self, request: SemanticSearchRequest) -> SearchResponse:
        try:
            qvec = self.embedder.embed_query(request.request_string)
            point = None
            if request.input_point is not None:
                point = (request.input_point.longitude, request.input_point.latitude)
            plan = build_search_plan(
                self.layers,
                SearchRequest(
                    query_vec=qvec,
                    type_filter=request.type_filter,
                    point=point,
                    skip=request.skip,
                    limit=request.limit,
                ),
            )
            rows = plan.collect()
            # LayerResult ignores the plan's extra "dist" column
            layers = [LayerResult.model_validate(r.asDict()) for r in rows]
            return SearchResponse(layers=layers)
        except Exception as e:  # in-band error contract
            return SearchResponse(error=str(e))
