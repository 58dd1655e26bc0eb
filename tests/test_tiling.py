"""Tile assignment: Arrow kernel vs Column reference vs scalar port parity,
plus query-side cell-range pruning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oshdb_spark.grid import XYGridTree, to_osm
from oshdb_spark.operators.tiling import (
    assign_cells,
    cell_range_filter,
    lifetime_bboxes,
    query_cell_ranges,
    query_cells_df,
    xy_cell_id_col,
    xy_insert_cell_col,
)
from oshdb_spark.sources.entities import extract_entities


@pytest.fixture(scope="module")
def entities(spark, docs_parquet):
    path, _, _ = docs_parquet
    return extract_entities(spark.read.parquet(path)).cache()


def test_xy_cell_id_col_matches_scalar(spark):
    # corner cases from XYGridTest + random points, via a DataFrame
    cases = [
        (to_osm(0.0), to_osm(0.0)),
        (to_osm(-180.0), to_osm(-90.0)),
        (to_osm(180.0), to_osm(90.0)),
        (to_osm(-181.0), to_osm(-91.0)),
        (to_osm(179.9999999), to_osm(89.9999999)),
    ]
    rs = np.random.RandomState(3)
    cases += [
        (int(rs.uniform(-1.8e9, 1.8e9)), int(rs.uniform(-9e8, 9e8)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(cases, "lon long, lat long")
    for zoom in (0, 2, 14):
        got = df.select(
            "lon", "lat", xy_cell_id_col(zoom, F.col("lon"), F.col("lat")).alias("c")
        ).collect()
        from oshdb_spark.grid import XYGrid

        g = XYGrid(zoom)
        for row in got:
            assert row["c"] == g.get_id(row["lon"], row["lat"]), (zoom, row)


def test_assign_cells_matches_column_reference(spark, entities):
    """The Arrow insert-cell kernel in assign_cells equals the Column
    reference over the same lifetime bboxes, packed level id included."""
    cols = ["type", "id", "version", "cell_zoom", "cell_id", "level_id"]
    got = assign_cells(entities).select(*cols)
    ref_cells = lifetime_bboxes(entities).select(
        "type",
        "id",
        xy_insert_cell_col(
            F.col("minlon"), F.col("minlat"), F.col("maxlon"), F.col("maxlat")
        ).alias("c"),
    )
    ref = entities.join(ref_cells, ["type", "id"], "left").select(
        "type",
        "id",
        "version",
        F.col("c.cell_zoom").alias("cell_zoom"),
        F.col("c.cell_id").alias("cell_id"),
        F.col("c.level_id").alias("level_id"),
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    tiled = got.filter("level_id IS NOT NULL").select("type").distinct()
    types = {r["type"] for r in tiled.collect()}
    assert types == {"node", "way", "relation"}


def test_assign_cells_matches_scalar_insert_rule(spark, entities, docs_parquet):
    _, _, world = docs_parquet
    tree = XYGridTree()
    assigned = (
        assign_cells(entities)
        .filter("type = 'node'")
        .select("id", "cell_zoom", "cell_id")
        .distinct()
        .toPandas()
        .set_index("id")
    )
    nodes = world.nodes
    for nid, grp in nodes.groupby("id"):
        bbox = (
            int(grp["lon"].min()),
            int(grp["lat"].min()),
            int(grp["lon"].max()),
            int(grp["lat"].max()),
        )
        exp = tree.get_insert_id(bbox)
        got = assigned.loc[nid]
        assert (int(got["cell_zoom"]), int(got["cell_id"])) == exp, nid


def test_way_lifetime_bbox_includes_member_history(spark, entities, docs_parquet):
    """A way whose member node moved must be tiled by the union bbox."""
    _, _, world = docs_parquet
    tree = XYGridTree()
    node_box = world.nodes.groupby("id").agg(
        minlon=("lon", "min"), minlat=("lat", "min"),
        maxlon=("lon", "max"), maxlat=("lat", "max"),
    )
    assigned = (
        assign_cells(entities)
        .filter("type = 'way'")
        .select("id", "cell_zoom", "cell_id")
        .distinct()
        .toPandas()
        .set_index("id")
    )
    ways = world.ways.drop_duplicates("id")
    checked = 0
    for row in ways.itertuples(index=False):
        refs = [r for r in row.refs if r in node_box.index]
        if not refs:
            continue
        sub = node_box.loc[refs]
        bbox = (
            int(sub["minlon"].min()),
            int(sub["minlat"].min()),
            int(sub["maxlon"].max()),
            int(sub["maxlat"].max()),
        )
        exp = tree.get_insert_id(bbox)
        got = assigned.loc[row.id]
        assert (int(got["cell_zoom"]), int(got["cell_id"])) == exp, row.id
        checked += 1
    assert checked > 10


def test_query_pruning_finds_all_features_in_bbox(spark, entities):
    """Every node inside the query bbox must survive the cell-range filter
    (enlarge rule guarantees no false negatives at the storage level)."""
    bbox_deg = (8.0, 49.0, 9.2, 49.8)  # around the hot city cluster
    bbox = tuple(to_osm(v) for v in bbox_deg)
    ranges = query_cell_ranges(bbox, enlarge=True)
    assigned = assign_cells(entities).cache()
    pruned = assigned.filter(cell_range_filter(ranges))

    nodes_in_bbox = assigned.filter(
        (F.col("type") == "node")
        & (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
    )
    # pruning is a superset filter: everything in the bbox must be retained
    missed = nodes_in_bbox.select("id").exceptAll(
        pruned.filter("type = 'node'").select("id")
    )
    assert missed.count() == 0
    # and it actually prunes (strictly fewer rows than the full table)
    assert pruned.count() < assigned.count()


def test_query_cells_df_matches_filter(spark):
    bbox = tuple(to_osm(v) for v in (8.0, 49.0, 8.4, 49.4))
    ranges = query_cell_ranges(bbox, maxzoom=8, enlarge=True)
    cells = query_cells_df(spark, ranges)
    rows = cells.collect()
    allowed = set()
    for zoom, rngs in ranges:
        for s, e in rngs:
            if s >= 0:
                allowed.update((zoom, c) for c in range(s, e + 1))
    assert {(r["cell_zoom"], r["cell_id"]) for r in rows} == allowed
