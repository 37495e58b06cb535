import pytest

from govgis_nov2023_slim_spatial_server_spark.api.models import Point, SemanticSearchRequest
from govgis_nov2023_slim_spatial_server_spark.api.search import SearchService
from govgis_nov2023_slim_spatial_server_spark.fixtures.embedder import FakeEmbedder
from govgis_nov2023_slim_spatial_server_spark.fixtures.layers import make_layers_df
from govgis_nov2023_slim_spatial_server_spark.functions.spatial import lonlat_to_mercator
from govgis_nov2023_slim_spatial_server_spark.plans.builder import SearchRequest, build_search_plan
from govgis_nov2023_slim_spatial_server_spark.schemas import TEXT_FIELDS


@pytest.fixture(scope="module")
def layers(spark):
    return make_layers_df(spark, n=120, seed=42).cache()


@pytest.fixture(scope="module")
def embedder():
    return FakeEmbedder(dim=64, seed=42)


def test_flagship_plan_shape(spark, layers, embedder):
    req = SearchRequest(query_vec=embedder.embed_query("parcel"), limit=5)
    out = build_search_plan(layers, req)
    rows = out.collect()
    assert len(rows) == 5
    assert out.columns == [*TEXT_FIELDS, "dist"]
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_type_filter_case_insensitive(spark, layers, embedder):
    req = SearchRequest(
        query_vec=embedder.embed_query("x"), type_filter=["FEATURE LAYER"], limit=10
    )
    rows = build_search_plan(layers, req).collect()
    assert rows and all(r["type"].lower() == "feature layer" for r in rows)


def test_offset_pagination_consistent(spark, layers, embedder):
    qv = embedder.embed_query("pagination probe")
    first10 = build_search_plan(layers, SearchRequest(query_vec=qv, limit=10)).collect()
    page2 = build_search_plan(layers, SearchRequest(query_vec=qv, limit=5, skip=5)).collect()
    assert [r["id"] for r in page2] == [r["id"] for r in first10[5:]]


def test_limit_validation():
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], limit=11)
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], limit=0)
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], skip=-1)
    with pytest.raises(ValueError):
        SearchRequest(query_vec=[1.0], point=(200.0, 0.0))


def test_bbox_prune_before_udf(spark, layers, embedder):
    """The physical plan must evaluate the native bbox filter ahead of the
    Python UDF refine (SURVEY.md §4.3.1) — assert via explain output."""
    req = SearchRequest(query_vec=embedder.embed_query("x"), point=(-100.0, 35.0))
    plan = build_search_plan(layers, req)._jdf.queryExecution().executedPlan().toString()
    # the arrow-eval (pandas UDF) node must appear above a filter that
    # already includes the bbox comparisons
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    udf_pos = plan.find("EvalPython")
    bbox_cond_pos = plan.find("xmin")
    assert bbox_cond_pos != -1
    assert udf_pos < bbox_cond_pos  # executed-plan trees print top-down: later string pos = earlier execution


def test_mercator_point_equals_4326(spark, layers, embedder):
    svc = SearchService(layers, embedder)
    r1 = svc.search(
        SemanticSearchRequest(
            request_string="water", input_point=Point(longitude=-100.0, latitude=35.0)
        )
    )
    x, y = lonlat_to_mercator(-100.0, 35.0)
    r2 = svc.search(
        SemanticSearchRequest(
            request_string="water", input_point=Point(longitude=x, latitude=y, epsg=3857)
        )
    )
    assert r1.error is None and r2.error is None
    assert [l.id for l in r1.layers or []] == [l.id for l in r2.layers or []]


def test_spatial_filter_correct(spark, layers, embedder):
    row = layers.where("bbox is not null").select("id", "bbox").first()
    lon = (row["bbox"]["xmin"] + row["bbox"]["xmax"]) / 2
    lat = (row["bbox"]["ymin"] + row["bbox"]["ymax"]) / 2
    req = SearchRequest(query_vec=embedder.embed_query("x"), point=(lon, lat), limit=10)
    ids = [r["id"] for r in build_search_plan(layers, req).collect()]
    assert row["id"] in ids
    # every hit's bbox must actually contain the point
    hit_rows = layers.where(layers.id.isin(ids)).select("bbox").collect()
    for h in hit_rows:
        assert h["bbox"]["xmin"] <= lon <= h["bbox"]["xmax"]
        assert h["bbox"]["ymin"] <= lat <= h["bbox"]["ymax"]


def test_search_service_error_in_band(spark, embedder):
    """Execution errors surface in-band (reference backend/app.py:49-53)."""
    bad = make_layers_df(spark, n=5).drop("embeddings")
    svc = SearchService(bad, embedder)
    resp = svc.search(SemanticSearchRequest(request_string="x"))
    assert resp.error is not None and resp.layers is None
