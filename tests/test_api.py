"""Fluent API tests (oshdb_spark/api.py) — the reference's canonical query
shapes (README.md:20-28, HelpersOSMEntitySnapshotViewTest) over the
deterministic docs world."""

import pytest
from pyspark.sql import functions as F

from oshdb_spark.api import OSHDB, ContributionView, SnapshotView
from oshdb_spark.filters.dsl import TagTranslator
from oshdb_spark.operators.snapshot import snapshot_view
from oshdb_spark.timestamps import MONTHLY, YEARLY, parse_iso, timestamps

TS = [1262304000 + k * 2 * 365 * 86400 for k in range(6)]
T0, T1 = TS[0], TS[-1]

TR = TagTranslator(
    keys={"building": 2, "highway": 3, "name": 7, "amenity": 8, "area": 1},
    values={("building", "1"): 1, ("building", "2"): 2},
)


@pytest.fixture(scope="module")
def db(spark, docs_parquet):
    path, _, _ = docs_parquet
    return OSHDB.from_docs(spark, spark.read.parquet(path), translator=TR)


# ---------------------------------------------------------------------------
# timestamps generator
# ---------------------------------------------------------------------------


def test_timestamps_yearly():
    ts = timestamps("2014-01-01", "2017-01-01", YEARLY)
    assert [t // 1_000_000 for t in ts] == [
        1388534400, 1420070400, 1451606400, 1483228800
    ]


def test_timestamps_month_clamp():
    ts = timestamps("2014-01-31", "2014-04-30", MONTHLY)
    # OSHDBTimestamps computes start.plus(period.multipliedBy(i)) from the
    # ORIGINAL start each step, so the day-of-month clamp never sticks:
    # Jan 31 -> Feb 28 -> Mar 31 -> Apr 30 (not Mar/Apr 28)
    assert [t // 1_000_000 for t in ts] == [
        parse_iso("2014-01-31") // 1_000_000,
        parse_iso("2014-02-28") // 1_000_000,
        parse_iso("2014-03-31") // 1_000_000,
        parse_iso("2014-04-30") // 1_000_000,
    ]


def test_timestamps_two_point():
    assert timestamps("2014-01-01", "2015-01-01") == [
        parse_iso("2014-01-01"), parse_iso("2015-01-01")
    ]


# ---------------------------------------------------------------------------
# snapshot view chains
# ---------------------------------------------------------------------------


def test_global_count_matches_direct(db):
    v = SnapshotView.on(db).timestamps(TS).filter("type:way and building=*")
    direct = (
        snapshot_view(db.entities, TS)
        .filter("type = 'way'")
        .filter(F.element_at("tags", F.lit(2)).isNotNull())
        .count()
    )
    assert v.count() == direct
    assert direct > 0


def test_aggregate_by_timestamp_zerofill(db):
    res = (
        SnapshotView.on(db)
        .timestamps(TS)
        .filter("type:way and building=*")
        .aggregate_by_timestamp()
        .count()
    )
    rows = res.collect()
    assert [r["snap_ts"] for r in rows] == sorted(TS)  # zerofilled + sorted
    assert sum(r["cnt"] for r in rows) > 0


def test_type_narrowing_prunes(db):
    v = SnapshotView.on(db).timestamps(TS).filter("type:node")
    types = {r["type"] for r in v.dataframe().select("type").distinct().collect()}
    assert types == {"node"}


def test_aggregate_by_chained(db):
    res = (
        SnapshotView.on(db)
        .timestamps([TS[2]])
        .aggregate_by_timestamp()
        .aggregate_by("type", keys=["node", "way", "relation"])
        .count()
    )
    rows = res.collect()
    # zerofilled cartesian: 1 ts x 3 types
    assert len(rows) == 3
    assert {r["type"] for r in rows} == {"node", "way", "relation"}


def test_bbox_equals_direct(db):
    bbox = (-90.0, -45.0, 90.0, 45.0)
    v = SnapshotView.on(db).timestamps([TS[3]]).area_of_interest(bbox=bbox)
    direct = snapshot_view(db.entities, [TS[3]], bbox_deg=bbox).count()
    assert v.count() == direct


def test_count_uniq_and_average(db):
    v = SnapshotView.on(db).timestamps([TS[3]]).filter("type:node")
    df = v.dataframe()
    assert v.count_uniq("id") == df.select("id").distinct().count()
    got = v.average(F.col("id").cast("double"))
    exp = df.agg(F.avg(F.col("id").cast("double"))).collect()[0][0]
    assert got == pytest.approx(exp)


def test_count_uniq_approx(db):
    # HLL scale path: estimate within 5x the target rsd of the exact
    # count, scalar and grouped, and grouped zerofill keeps absent keys
    v = SnapshotView.on(db).timestamps([TS[3]]).filter("type:node")
    exact = v.count_uniq("id")
    approx = v.count_uniq_approx("id", rsd=0.01)
    assert abs(approx - exact) <= max(1, 0.05 * exact)
    res = (
        SnapshotView.on(db)
        .timestamps([TS[3]])
        .aggregate_by("type", keys=["node", "way", "relation"])
        .count_uniq_approx("id", rsd=0.01)
    )
    rows = {r["type"]: r["approx_uniq_id"] for r in res.collect()}
    assert set(rows) == {"node", "way", "relation"}
    exact_rows = {
        r["type"]: r["count_uniq_id"]
        for r in (
            SnapshotView.on(db)
            .timestamps([TS[3]])
            .aggregate_by("type", keys=["node", "way", "relation"])
            .count_uniq("id")
            .collect()
        )
    }
    for t, e in exact_rows.items():
        assert abs(rows[t] - e) <= max(1, 0.05 * e)


def test_group_by_entity_sorted(db):
    g = (
        SnapshotView.on(db)
        .timestamps(TS)
        .filter("type:way and building=*")
        .group_by_entity()
    )
    row = g.orderBy("id").first()
    ts_list = [x["__ts"] for x in row["rows"]]
    assert ts_list == sorted(ts_list)


def test_aggregate_by_geometry(db):
    left = {
        "type": "Polygon",
        "coordinates": [[[-180, -90], [0, -90], [0, 90], [-180, 90], [-180, -90]]],
    }
    right = {
        "type": "Polygon",
        "coordinates": [[[0, -90], [180, -90], [180, 90], [0, 90], [0, -90]]],
    }
    view = SnapshotView.on(db).timestamps([TS[3]]).filter("type:node")
    res = view.aggregate_by_geometry({"left": left, "right": right}).count()
    rows = {r["zone_key"]: r["cnt"] for r in res.collect()}
    total = view.count()
    # aggregateByGeometry invariant (MapAggregateByGeometryTest.java:62-94):
    # every zone row corresponds to an intersecting feature; border features
    # may count in both zones
    assert set(rows) == {"left", "right"}
    assert total <= rows["left"] + rows["right"] <= total + total


# ---------------------------------------------------------------------------
# contribution view chains
# ---------------------------------------------------------------------------

ENT_SCHEMA = (
    "doc_id string, id long, type string, version int, visible boolean, "
    "ts long, changeset long, uid int, tags map<int,int>, lon long, lat long, "
    "refs array<long>, members array<struct<type:string,ref:long,role:string>>"
)


@pytest.fixture(scope="module")
def tag_flip_db(spark):
    """node 1: v1 no tag, v2 building=1, v3 tag removed, v4 deleted."""
    rows = [
        ("d1", 1, "node", 1, True, 100, 10, 1, {}, 10, 10, None, None),
        ("d1", 1, "node", 2, True, 200, 11, 1, {2: 1}, 10, 10, None, None),
        ("d1", 1, "node", 3, True, 300, 12, 2, {}, 10, 10, None, None),
        ("d1", 1, "node", 4, False, 400, 13, 2, {}, 10, 10, None, None),
    ]
    return OSHDB(spark, spark.createDataFrame(rows, ENT_SCHEMA), translator=TR)


def test_filtered_contribution_semantics(tag_flip_db):
    """Gaining the filtered tag = CREATION, losing it = DELETION
    (CellIterator.java:642-659, views.md 'Contribution View')."""
    df = (
        ContributionView.on(tag_flip_db)
        .timestamps([0, 1000])
        .filter("building=*")
        .dataframe()
    )
    rows = {r["ts"]: list(r["contrib_types"]) for r in df.collect()}
    assert rows == {200: ["CREATION"], 300: ["DELETION"]}


def test_unfiltered_contribution_lifecycle(tag_flip_db):
    df = ContributionView.on(tag_flip_db).timestamps([0, 1000]).dataframe()
    rows = {r["ts"]: sorted(r["contrib_types"]) for r in df.collect()}
    assert rows[100] == ["CREATION"]
    assert rows[200] == ["TAG_CHANGE"]
    assert rows[300] == ["TAG_CHANGE"]
    assert rows[400] == ["DELETION"]


def test_contributor_post_filter(tag_flip_db):
    df = (
        ContributionView.on(tag_flip_db)
        .timestamps([0, 1000])
        .filter("contributor:2")
        .dataframe()
    )
    assert {r["ts"] for r in df.collect()} == {300, 400}


def test_contribution_aggregate_by_timestamp(tag_flip_db):
    res = (
        ContributionView.on(tag_flip_db)
        .timestamps([0, 250, 1000])
        .aggregate_by_timestamp()
        .count()
    )
    rows = {r["interval_ts"]: r["cnt"] for r in res.collect()}
    # intervals [0,250) and [250,1000): 2 contributions in each
    assert rows == {0: 2, 250: 2}


def test_aggregate_by_geometry_clipped_partition(db):
    """GeometrySplitter clip semantics: splitting the world at lon=0 must
    conserve total clipped area (left + right == unclipped) for polygonal
    features — MapAggregateByGeometryTest's consistency invariant."""
    left = {
        "type": "Polygon",
        "coordinates": [[[-180, -90], [0, -90], [0, 90], [-180, 90], [-180, -90]]],
    }
    right = {
        "type": "Polygon",
        "coordinates": [[[0, -90], [180, -90], [180, 90], [0, 90], [0, -90]]],
    }
    view = (
        SnapshotView.on(db)
        .timestamps([TS[3]])
        .filter("geometry:polygon")
    )
    agg = view.aggregate_by_geometry({"left": left, "right": right}, clip=True)
    res = agg.sum("zone_clipped_area", name="area")
    zones = {r["zone_key"]: r["area"] for r in res.collect()}
    total = (
        view.dataframe()
        .agg(F.sum("area").alias("a"))
        .collect()[0]["a"]
    )
    assert zones["left"] + zones["right"] == pytest.approx(total, rel=1e-6)


def test_aggregate_by_geometry_nonconvex_clipped_partition(db):
    """Round-2: GeometrySplitter clip with a NON-CONVEX zone.  Partition
    the world into an L-shaped zone (reflex corner at the origin) and its
    rectangular complement; clipped areas must conserve the unclipped
    total — same invariant as the convex split, now through the
    triangle-decomposed general clipper (geometry/polyclip)."""
    l_zone = {
        "type": "Polygon",
        "coordinates": [[[-180, -90], [180, -90], [180, 0], [0, 0],
                         [0, 90], [-180, 90], [-180, -90]]],
    }
    rest = {
        "type": "Polygon",
        "coordinates": [[[0, 0], [180, 0], [180, 90], [0, 90], [0, 0]]],
    }
    view = SnapshotView.on(db).timestamps([TS[3]]).filter("geometry:polygon")
    agg = view.aggregate_by_geometry({"l": l_zone, "rest": rest}, clip=True)
    res = agg.sum("zone_clipped_area", name="area")
    zones = {r["zone_key"]: r["area"] for r in res.collect()}
    total = view.dataframe().agg(F.sum("area").alias("a")).collect()[0]["a"]
    assert zones["l"] > 0 and zones["rest"] > 0
    assert zones["l"] + zones["rest"] == pytest.approx(total, rel=1e-6)


def test_polygon_aoi_nonconvex_clip(db):
    """Polygon area-of-interest with a non-convex AOI now produces exact
    clipped geometries (round 1 degraded to intersects-only)."""
    l_zone = {
        "type": "Polygon",
        "coordinates": [[[-180, -90], [180, -90], [180, 0], [0, 0],
                         [0, 90], [-180, 90], [-180, -90]]],
    }
    view = (
        SnapshotView.on(db)
        .timestamps([TS[3]])
        .filter("geometry:polygon")
        .area_of_interest(polygon=l_zone)
    )
    df = view.dataframe()
    assert "clipped_area" in df.columns
    row = df.agg(
        F.sum("clipped_area").alias("ca"), F.sum("area").alias("a")
    ).collect()[0]
    # clipping can only shrink, and the AOI holds at least one feature
    assert 0 < row["ca"] <= row["a"] * (1 + 1e-9)


def test_generic_reduce(db):
    """Arbitrary-monoid reduce (MapReducer.java:834-935): a custom
    (count, sum, max) monoid over snapshot ids matches the column aggs."""
    view = SnapshotView.on(db).timestamps([TS[3]]).filter("type:node")

    def identity():
        return (0, 0, None)

    def acc(state, pdf):
        c, s, m = state
        ids = pdf["id"]
        mx = int(ids.max()) if len(ids) else None
        return (
            c + len(ids),
            s + int(ids.sum()),
            mx if m is None else (m if mx is None else max(m, mx)),
        )

    def comb(a, b):
        m = a[2] if b[2] is None else (b[2] if a[2] is None else max(a[2], b[2]))
        return (a[0] + b[0], a[1] + b[1], m)

    got = view.reduce(identity, acc, comb)
    df = view.dataframe()
    row = df.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("id").alias("s"),
        F.max("id").alias("m"),
    ).collect()[0]
    assert got == (row["c"], row["s"], row["m"])


@pytest.fixture()
def moving_node_db(spark):
    """node 1 moves out of [0,20]^2 at t=200 and back in at t=300."""
    rows = [
        ("d1", 1, "node", 1, True, 100, 10, 1, {}, 10_0000000, 10_0000000,
         None, None),
        ("d1", 1, "node", 2, True, 200, 11, 1, {}, 30_0000000, 30_0000000,
         None, None),
        ("d1", 1, "node", 3, True, 300, 12, 2, {}, 15_0000000, 15_0000000,
         None, None),
    ]
    return OSHDB(spark, spark.createDataFrame(rows, ENT_SCHEMA), translator=TR)


def test_bbox_aoi_contribution_aliveness(moving_node_db):
    """AOI participates in aliveness (CellIterator.java:665-679): moving
    out of the bbox is a DELETION, back in a CREATION — via the JVM-side
    inside/outside/border classification (Python clip only on border)."""
    df = (
        ContributionView.on(moving_node_db)
        .timestamps([0, 1000])
        .area_of_interest(bbox=(0.0, 0.0, 20.0, 20.0))
        .dataframe()
    )
    rows = {r["ts"]: list(r["contrib_types"]) for r in df.collect()}
    assert rows == {
        100: ["CREATION"], 200: ["DELETION"], 300: ["CREATION"]
    }


def test_polygon_aoi_contribution_aliveness(moving_node_db):
    """Same lifecycle through the polygon-AOI path (bbox-overlap gate +
    exact intersects UDF on candidates only)."""
    tri = {
        "type": "Polygon",
        "coordinates": [[[0, 0], [40, 0], [0, 40], [0, 0]]],
    }
    df = (
        ContributionView.on(moving_node_db)
        .timestamps([0, 1000])
        .area_of_interest(polygon=tri)
        .dataframe()
    )
    rows = {r["ts"]: list(r["contrib_types"]) for r in df.collect()}
    # (30,30) is outside the triangle x+y<=40? 30+30=60 > 40 -> outside
    assert rows == {
        100: ["CREATION"], 200: ["DELETION"], 300: ["CREATION"]
    }


# ---------------------------------------------------------------------------
# AOI clip: both views clip through one stage (geometry_ops.aoi_clip)
# ---------------------------------------------------------------------------

TRI = {
    "type": "Polygon",
    "coordinates": [[[8.52, 49.24], [8.82, 49.24], [8.52, 49.54], [8.52, 49.24]]],
}
# non-convex: an L around the hot cell, so the general polygon clipper runs
L_HOT = {
    "type": "Polygon",
    "coordinates": [[[8.55, 49.3], [8.8, 49.3], [8.8, 49.4], [8.67, 49.4],
                     [8.67, 49.5], [8.55, 49.5], [8.55, 49.3]]],
}
HOT_BOX = (8.6, 49.33, 8.7, 49.42)


@pytest.mark.parametrize("aoi", [{"bbox": HOT_BOX}, {"polygon": TRI}],
                         ids=["bbox", "polygon"])
def test_snapshot_clipped_geom_matches_clipped_wkt(db, aoi):
    """clipped_geom and clipped_wkt hold the same clip; node rows carry a
    null clipped_geom (their clip is the WKT)."""
    from oshdb_spark.geometry.model import to_wkt, unpack_geometry

    rows = (
        SnapshotView.on(db).timestamps([TS[3]]).area_of_interest(**aoi)
        .dataframe().select("type", "clipped_geom", "clipped_wkt").collect()
    )
    packed = [r for r in rows if r["type"] != "node"]
    assert packed and len(packed) < len(rows)
    assert all(r["clipped_geom"] is None for r in rows if r["type"] == "node")
    for r in packed:
        assert to_wkt(unpack_geometry(r["clipped_geom"])) == r["clipped_wkt"]


def test_bbox_and_polygon_aoi_clip_stays_in_bbox(db):
    """area_of_interest(bbox) + area_of_interest(polygon) combine by
    intersection (CHANGELOG 1.2.0 "#512"): both views clip to bbox ∩
    polygon, so no clipped geometry reaches past the bbox."""
    from oshdb_spark.geometry.model import bounds, from_wkt

    box = (8.52, 49.24, 8.69, 49.54)
    views = [
        SnapshotView.on(db).timestamps([TS[3]]),
        ContributionView.on(db).timestamps(T0, T1),
    ]
    for view in views:
        rows = (
            view.filter("type:way").area_of_interest(bbox=box)
            .area_of_interest(polygon=TRI).dataframe()
            .select("clipped_wkt").collect()
        )
        assert rows
        for r in rows:
            b = bounds(from_wkt(r["clipped_wkt"]))
            assert b is None or (
                b[0] >= box[0] and b[1] >= box[1]
                and b[2] <= box[2] and b[3] <= box[3]
            ), r["clipped_wkt"]


def _reference_clip(g, bbox=None, polygon=None):
    """constructClippedGeometry (CellIterator.java:417-446) on one
    geometry: inside -> as is, outside -> typed empty, border -> clip."""
    from oshdb_spark.geometry.clip import clip_to_bbox
    from oshdb_spark.geometry.model import bounds
    from oshdb_spark.geometry.polyclip import PreparedPolygon, clip_to_polygon

    if polygon is not None:
        return clip_to_polygon(g, PreparedPolygon(polygon))
    b = bounds(g)
    if b is None or (b[0] >= bbox[0] and b[1] >= bbox[1]
                     and b[2] <= bbox[2] and b[3] <= bbox[3]):
        return g
    if b[2] < bbox[0] or b[0] > bbox[2] or b[3] < bbox[1] or b[1] > bbox[3]:
        return {"type": g["type"], "coordinates": []}
    return clip_to_bbox(g, bbox)


@pytest.mark.parametrize("aoi", [{"bbox": HOT_BOX}, {"polygon": L_HOT}],
                         ids=["bbox", "polygon"])
def test_contribution_clipped_wkt_is_the_rows_own_clip(db, aoi):
    """Each contribution row's clipped_wkt is its OWN wkt clipped to the
    AOI — not, say, the lagged previous state's clip."""
    from oshdb_spark.geometry.model import from_wkt, to_wkt

    rows = (
        ContributionView.on(db).timestamps(T0, T1).area_of_interest(**aoi)
        .dataframe().select("type", "wkt", "clipped_wkt").collect()
    )
    # the AOI cuts through some geometries
    assert any(r["clipped_wkt"] != r["wkt"] and not r["clipped_wkt"].endswith(
        " EMPTY") for r in rows)
    for r in rows:
        want = to_wkt(_reference_clip(from_wkt(r["wkt"]), aoi.get("bbox"),
                                      aoi.get("polygon")))
        # node WKT is built in the JVM: compare it in one formatting
        assert to_wkt(from_wkt(r["clipped_wkt"])) == want, (r["type"], r["wkt"])
