"""The north-rule throughput pipelines over the interleaved docs table
(doc_id, spans): vectorized entity extraction (JVM expressions only) ->
tile assignment through the Arrow insert-cell kernel -> cell-cover filter
-> exact refinement -> per-cell aggregation.  ``bench.py`` and perfbench's
``tile_join`` workload time them.

The AOI snapshot query over docs — the spark-submit entry
``scripts/run_pipeline.py`` — goes through the public API instead
(``api.SnapshotView`` on ``api.OSHDB.from_docs``), the one AOI query path.

Reference lifecycle being reproduced: MapReducerJdbc cell-range scan ->
CellIterator.iterateByTimestamps -> Kernels fold (SURVEY.md §3 entry A).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oshdb_spark.operators.tiling import cell_rect_filter
from oshdb_spark.sources.entities import extract_entities


def tile_assign_throughput(
    spark: SparkSession,
    docs: DataFrame,
    bbox_deg: tuple[float, float, float, float],
) -> DataFrame:
    """Narrow-only tile-assignment throughput: scan -> extract -> vectorized
    insert-cell UDF over node coordinates -> rect-cover filter -> partial
    aggregation.  No join, no wide shuffle (only the final tiny partial-agg
    exchange) — isolates per-core compute scaling from shuffle-stage
    latency; at production scale this is the shape of the ingest/tiling
    stage itself."""
    bbox_osm = tuple(int(round(v * 1e7)) for v in bbox_deg)
    from oshdb_spark.operators.tiling import xy_insert_cell_udf

    entities = extract_entities(docs)
    nodes = entities.filter(F.col("type") == "node")
    udf = xy_insert_cell_udf()
    tiled = nodes.withColumn("c", udf("lon", "lat", "lon", "lat")).select(
        "id",
        "lon",
        "lat",
        F.col("c.cell_zoom").alias("cell_zoom"),
        F.col("c.cell_id").alias("cell_id"),
    )
    pruned = tiled.filter(cell_rect_filter(bbox_osm)).filter(
        (F.col("lon") >= bbox_osm[0])
        & (F.col("lon") <= bbox_osm[2])
        & (F.col("lat") >= bbox_osm[1])
        & (F.col("lat") <= bbox_osm[3])
    )
    return pruned.groupBy("cell_zoom").agg(F.count(F.lit(1)).alias("n"))


def tile_join_throughput(
    spark: SparkSession,
    docs: DataFrame,
    bbox_deg: tuple[float, float, float, float],
    polygon: dict | None = None,
) -> DataFrame:
    """The north-rule THROUGHPUT pipeline: tile-assignment + spatial join +
    per-tile refinement, end to end, fully vectorized (BASELINE.json metric:
    "spatial-join + tile-assignment throughput (docs/sec)").

    Stages: extract (JVM expressions) -> lifetime-bbox + insert-cell
    assignment (Arrow/numpy UDF, no per-row Python) -> cell cover join
    (constant-size rect predicate == the hash join against the query-cell
    set, in pushdown form) -> exact refinement (JVM bbox compare for
    nodes/bboxes; vectorized numpy PIP when a polygon AOI is given) ->
    per-(zoom, type) aggregation.  No temporal view, no per-row geometry
    assembly — this is the hot path the reference's MapReducerJdbc scan +
    spatial prefilter corresponds to (MapReducerJdbc.java:64-93,
    CellIterator.java:242-278).
    """
    minx, miny, maxx, maxy = bbox_deg
    bbox_osm = (
        int(round(minx * 1e7)),
        int(round(miny * 1e7)),
        int(round(maxx * 1e7)),
        int(round(maxy * 1e7)),
    )
    from oshdb_spark.operators.tiling import lifetime_bboxes, xy_insert_cell_udf

    entities = extract_entities(docs)
    boxes = lifetime_bboxes(entities)
    udf = xy_insert_cell_udf()
    tiled = (
        boxes.withColumn("c", udf("minlon", "minlat", "maxlon", "maxlat"))
        .select(
            "type", "id", "minlon", "minlat", "maxlon", "maxlat",
            F.col("c.cell_zoom").alias("cell_zoom"),
            F.col("c.cell_id").alias("cell_id"),
        )
    )
    pruned = tiled.filter(cell_rect_filter(bbox_osm))
    # exact refinement: entity lifetime bbox intersects the query bbox
    refined = pruned.filter(
        (F.col("maxlon") >= bbox_osm[0])
        & (F.col("minlon") <= bbox_osm[2])
        & (F.col("maxlat") >= bbox_osm[1])
        & (F.col("minlat") <= bbox_osm[3])
    )
    if polygon is not None:
        from oshdb_spark.geometry.pip import points_in_polygon
        from oshdb_spark.session import ensure_package_on_workers

        ensure_package_on_workers(spark)

        @F.pandas_udf("boolean")
        def _pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
            x = lon.to_numpy("int64") / 1e7
            y = lat.to_numpy("int64") / 1e7
            return pd.Series(
                points_in_polygon(x, y, polygon, include_boundary=True)
            )

        refined = refined.filter(
            _pip((F.col("minlon") + F.col("maxlon")) / 2,
                 (F.col("minlat") + F.col("maxlat")) / 2)
        )
    return refined.groupBy("cell_zoom", "type").agg(
        F.count(F.lit(1)).alias("n_entities")
    )
