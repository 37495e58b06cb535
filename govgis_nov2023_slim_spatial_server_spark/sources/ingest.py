"""Ingest pipeline: GeoParquet → deduped, bbox-augmented layers store.

Distributed re-expression of the reference loader's dataflow
``gpd.read_parquet → drop_duplicates(["id","metadata_text"]) →
rename(geometry→geom) → project[table_columns] → COPY``
(reference backend/load_data.py:173-190), which materializes the whole
dataset in one pandas process — the scalability ceiling this engine removes
(SURVEY.md §3.2). Every step here is a DataFrame transform; nothing touches
the driver.

GeoParquet stores geometry as a WKB binary column, so ``spark.read.parquet``
needs no codec (the reference's shapely asyncpg codec, backend/
load_data.py:152-168, disappears). The GiST index build (backend/
load_data.py:89-99) is replaced by the derived ``bbox`` struct + a spatial
sort at write time that tightens Parquet row-group min/max stats —
the coarse-filter role of the R-tree (SURVEY.md §4.3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.spatial import wkb_bbox_udf
from ..schemas import TABLE_COLUMNS


def ingest_layers(spark: SparkSession, path: str) -> DataFrame:
    """Read + dedup + rename + project + derive bbox (reference O1–O4 +
    O7-equivalent). GeoParquet's ``geometry`` column becomes ``geom_wkb``."""
    df = spark.read.parquet(path)
    if "geometry" in df.columns:
        df = df.withColumnRenamed("geometry", "geom_wkb")
    df = df.dropDuplicates(["id", "metadata_text"])
    cols = [c for c in TABLE_COLUMNS if c in df.columns]
    df = df.select(*cols)
    return derive_bbox(df)


def derive_bbox(df: DataFrame) -> DataFrame:
    """Attach the pruning bbox struct (engine convention — every ingest path
    MUST run this or spatial pruning silently degrades to full scans,
    SURVEY.md §7 hard part (a))."""
    if "bbox" in df.columns:
        return df
    return df.withColumn("bbox", wkb_bbox_udf()(F.col("geom_wkb")))


def write_layers(df: DataFrame, path: str) -> None:
    """Write (overwrite) the layers store.

    A store with a ``bbox`` column is range-partitioned + sorted by a
    Z-order (Morton) key of the bbox centroid, so each output file covers
    a compact 2-D cell and Parquet min/max stats on the four bbox doubles
    prune files tightly.
    The directory-atomic parquet job commit replaces the reference's
    single-transaction COPY (backend/load_data.py:183-190).
    """
    from ..functions.spatial import zorder_key

    out = df
    if "bbox" in df.columns:
        zk = zorder_key(
            (F.col("bbox.xmin") + F.col("bbox.xmax")) / 2,
            (F.col("bbox.ymin") + F.col("bbox.ymax")) / 2,
        )
        out = (
            df.withColumn("__zk", zk)
            .repartitionByRange(
                df.sparkSession.sparkContext.defaultParallelism,
                F.col("__zk").asc_nulls_last(),
            )
            .sortWithinPartitions("__zk")
            .drop("__zk")
        )
    out.write.mode("overwrite").parquet(path)


def load_layers(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
