"""Plan-shape regression tests for the round-5 operators: assert the
100-TB posture claims made in SURVEY.md §2 directly against the physical
plan — JVM-only paths must stay free of Python eval nodes, candidate
generation must be `sequence`/explode (not a cross join), and the
applyInPandas operators must shuffle exactly once (one FlatMapGroupsInPandas,
no extra Exchange beyond its group-by)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from oshdb_spark.operators.aggregations import (
    cell_dwell_time,
    interval_overlap_join,
    radius_of_gyration,
    simplify_track_dp,
    track_convex_hull,
)
from oshdb_spark.operators.knn import cross_dwithin_join, spacetime_k_counts
from oshdb_spark.operators.snapshot import relation_node_closure
from oshdb_spark.operators.tiling import (
    cell_user_simpson,
    join_count_stats,
    segment_cell_cover,
)
from oshdb_spark.operators.zonal import raster_focal_sum
from oshdb_spark.session import local_frame


def _plan(df) -> str:
    """The physical plan ``df`` runs, without the plans of the cached
    frames it reads.  The plan string prints each ``InMemoryRelation``'s
    cached plan under it, but a query over a cached frame only scans it
    (``InMemoryTableScan``); and which cached plan is printed depends on
    which frames other handles happen to have cached."""
    live, cached_depth = [], None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        depth = len(line) - len(line.lstrip(" :"))
        if cached_depth is not None and depth > cached_depth:
            continue  # inside a cached plan
        cached_depth = depth if "InMemoryRelation" in line else None
        if cached_depth is None:
            live.append(line)
    return "\n".join(live)


def _points(spark, n=50):
    return spark.range(n).selectExpr(
        "id AS event_id",
        "id % 5 AS user_id",
        "(id % 100) * 10000000 - 500000000 AS lon_fp",
        "((id * 7) % 80) * 10000000 - 400000000 AS lat_fp",
        "id * 1000 AS ts_us",
    )


def _no_python(plan: str) -> bool:
    # a `Scan ExistingRDD` over a list-backed frame runs Python worker
    # tasks too (they unpickle its rows)
    return (
        "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan
        and "MapInPandas" not in plan
        and "ExistingRDD" not in plan
    )


def test_jvm_only_operators_have_no_python_nodes(spark):
    pts = _points(spark)
    jvm_only = [
        join_count_stats(pts, 7, threshold=2),
        cell_user_simpson(pts, 7),
        cell_dwell_time(pts, 7),
        radius_of_gyration(pts),
        interval_overlap_join(
            pts.selectExpr(
                "event_id", "user_id", "ts_us AS start_us",
                "ts_us + 5000 AS end_us",
            ),
            10_000,
            key_col="user_id",
        ),
        cross_dwithin_join(
            pts.filter("event_id % 2 = 0"),
            pts.filter("event_id % 2 = 1"),
            20_000_000,
            zoom=7,
        ),
        spacetime_k_counts(pts, [10_000_000], [100_000], zoom=7),
        raster_focal_sum(
            pts.groupBy(F.col("event_id").alias("cell_id")).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            7,
        ),
        relation_node_closure(
            local_frame(
                spark,
                [
                    ("way", 1, [10, 11], None),
                    (
                        "relation",
                        100,
                        None,
                        [("way", 1, ""), ("node", 5, "")],
                    ),
                ],
                "type string, id long, refs array<bigint>, "
                "members array<struct<type:string,ref:bigint,role:string>>",
            )
        ),
        segment_cell_cover(
            pts.selectExpr(
                "event_id AS seg_id", "lon_fp AS x1", "lat_fp AS y1",
                "lon_fp + 50000000 AS x2", "lat_fp + 30000000 AS y2",
            ),
            9,
        ),
    ]
    for df in jvm_only:
        plan = _plan(df)
        assert _no_python(plan), f"Python eval node leaked into:\n{plan[:2000]}"


def test_pandas_operators_shuffle_exactly_once(spark):
    pts = _points(spark)
    for df in (
        simplify_track_dp(pts, 10_000),
        track_convex_hull(pts),
    ):
        plan = _plan(df)
        assert plan.count("FlatMapGroupsInPandas") == 1
        # exactly the one hash-partitioning exchange feeding the groupBy
        assert plan.count("Exchange") == 1, plan[:2000]


def test_segment_cover_uses_sequence_not_join(spark):
    segs = _points(spark).selectExpr(
        "event_id AS seg_id", "lon_fp AS x1", "lat_fp AS y1",
        "lon_fp + 50000000 AS x2", "lat_fp + 30000000 AS y2",
    )
    plan = _plan(segment_cell_cover(segs, 9))
    # candidate cells come from generate/explode over sequence()
    assert "Generate" in plan and "sequence" in plan
    assert "Join" not in plan  # no join at all: per-row candidate explode
    assert "Exchange" not in plan  # zero shuffles in the operator itself


def test_spacetime_k_single_aggregate_no_extra_shuffle(spark):
    pts = _points(spark)
    plan = _plan(spacetime_k_counts(pts, [1, 2], [3, 4], zoom=7))
    # the 2-D ladder must NOT multiply shuffles: one pair-join pipeline
    # (two sides of one SortMergeJoin/ShuffledHashJoin) + one 1-row agg
    assert plan.count("FlatMapGroupsInPandas") == 0
    assert _no_python(plan)


# ---------------------------------------------------------------------------
# type-narrowed snapshot plans: a SnapshotView plans only the entity
# branches its filter's type set reaches, and starts no job while built
# ---------------------------------------------------------------------------

SNAP_TS = [1262304000 + k * 2 * 365 * 86400 for k in range(6)]
SNAP_BOX = (-20.0, -20.0, 40.0, 40.0)


@pytest.fixture(scope="module")
def docs_db(spark, docs_parquet):
    from oshdb_spark.api import OSHDB
    from oshdb_spark.filters.dsl import TagTranslator

    tr = TagTranslator(keys={"building": 2}, values={})
    return OSHDB.from_docs(spark, spark.read.parquet(docs_parquet[0]), translator=tr)


def _snapshot(db, filt: str, bbox=SNAP_BOX):
    from oshdb_spark.api import SnapshotView

    v = SnapshotView.on(db).timestamps(SNAP_TS).filter(filt)
    return v.area_of_interest(bbox=bbox) if bbox is not None else v


def test_node_snapshot_bbox_plan_is_jvm_only(docs_db):
    view = _snapshot(docs_db, "type:node")
    for df, exchanges in (
        # the (type, id) validity window
        (view.dataframe(), 1),
        # + the aggregation, the zerofill join and the ordering
        (view.aggregate_by_timestamp().count(), 4),
    ):
        plan = _plan(df)
        assert _no_python(plan), plan[:3000]
        assert plan.count("Exchange") == exchanges, plan[:3000]
        # `type:node` only restates the type set: no OSH-prefilter window
        assert "Window [max(" not in plan, plan[:3000]


def test_way_snapshot_plan_has_no_relation_geometry(docs_db):
    plan = _plan(
        _snapshot(docs_db, "type:way and building=*")
        .aggregate_by_timestamp()
        .count()
    )
    python_nodes = [l for l in plan.splitlines() if "EvalPython" in l]
    # the way geometry UDF (refs + resolved line) is planned ...
    assert any("refs#" in l for l in python_nodes), plan[:3000]
    # ... the relation geometry UDF (members) is not
    assert not any("members#" in l for l in python_nodes), plan[:3000]


@pytest.mark.parametrize("filt", ["type:node", "type:way and building=*"])
def test_snapshot_build_starts_no_job(spark, docs_db, filt):
    sc = spark.sparkContext
    group = f"plan-shape-build-{filt}"
    sc.setJobGroup(group, "snapshot DataFrame build")
    try:
        _snapshot(docs_db, filt).aggregate_by_timestamp().count()
        _snapshot(docs_db, filt, bbox=None).aggregate_by_timestamp().count()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


def test_node_contribution_bbox_plan_is_jvm_only(docs_db):
    from oshdb_spark.api import ContributionView

    view = (
        ContributionView.on(docs_db).timestamps(SNAP_TS[0], SNAP_TS[-1])
        .filter("type:node").area_of_interest(bbox=SNAP_BOX)
    )
    for df in (view.dataframe(), view.aggregate_by_timestamp().count()):
        plan = _plan(df)
        # nodes are never border rows: the clip and every WKT render are
        # Column expressions
        assert _no_python(plan), plan[:3000]


def test_node_contribution_bbox_equals_all_types_path(docs_db):
    from oshdb_spark.operators.contribution import contribution_view

    def rows(types):
        df = contribution_view(
            docs_db.entities, SNAP_TS[0], SNAP_TS[-1], types=types,
            bbox_deg=SNAP_BOX,
        ).filter("type = 'node'")
        return sorted(tuple(map(str, r)) for r in df.collect())

    narrowed = rows({"node"})
    assert narrowed and narrowed == rows(None)


# the contribution plan: one owner-keyed exchange per kind serves its
# windows and groups, and relation members resolve in one probe pass


def _contribution(db, filt: str | None = None):
    from oshdb_spark.api import ContributionView

    v = (ContributionView.on(db).timestamps(SNAP_TS[0], SNAP_TS[-1])
         .area_of_interest(bbox=SNAP_BOX))
    return v.filter(filt) if filt else v


def _uncached(spark, df):
    """``df`` planned with no contribution states cached: the handle's
    whole event/squash/as-of/geometry cascade.  Spark's cache manager
    puts any handle's cached states into every plan over the same
    entities, and a DataFrame looks its cached frames up when it is
    first planned, so the cache is emptied after ``df`` is built and
    before it is planned."""
    spark.catalog.clearCache()
    return df


@pytest.mark.parametrize(
    "filt, exchanges, max_lines",
    [
        # 50 Exchanges and 460 plan lines before the one-pass rewrite
        (None, 15, 230),
        # 38 and 351
        ("type:relation", 9, 135),
    ],
    ids=["all-types", "relation"],
)
def test_contribution_plan_size(spark, docs_db, filt, exchanges, max_lines):
    plan = _plan(_uncached(spark, _contribution(docs_db, filt).dataframe()))
    assert plan.count("Exchange") == exchanges, plan[:6000]
    assert len(plan.splitlines()) <= max_lines, plan[:6000]


def test_contribution_plan_has_no_all_null_python_call(spark, docs_db):
    plan = _plan(_uncached(spark, _contribution(docs_db).dataframe()))
    # the node branch's null geometry never reaches a Python UDF
    assert not re.search(r"_udf\((null(, )?)+\)", plan), plan[:6000]


def test_unfiltered_contribution_job_count(spark, docs_db):
    docs_db.nested_relations  # the handle's one probe, outside the count
    sc = spark.sparkContext
    group = "plan-shape-contribution-jobs"
    df = _uncached(spark, _contribution(docs_db).dataframe())
    sc.setJobGroup(group, "unfiltered contribution count")
    try:
        df.count()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # 31 before the one-pass rewrite
    assert len(jobs) <= 20


def test_warm_contribution_reads_cached_states(spark, docs_db):
    """A handle persists its contribution states: once a query has
    filled them, a bbox count on the handle scans them and plans only
    the AOI clip, the lag classification and the interval filter."""
    _contribution(docs_db).count()  # fills the handle's states
    view = _contribution(docs_db)
    plan = _plan(view.dataframe().agg(F.count(F.lit(1))))
    # 15 Exchanges and 16 jobs when every query rebuilt its states
    assert plan.count("InMemoryTableScan") == 3, plan[:4000]
    assert plan.count("Exchange") <= 2, plan[:4000]
    assert plan.count("ArrowEvalPython") <= 2, plan[:4000]
    sc = spark.sparkContext
    group = "plan-shape-warm-contribution-jobs"
    sc.setJobGroup(group, "warm contribution count")
    try:
        view.count()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 4, jobs


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_repeated_contribution_reuses_codegen(spark, docs_db):
    """A repeated query compiles (almost) no codegen class again: the
    session's codegen cache holds a whole contribution plan, and a
    stage's class is found whatever number adaptive execution gave the
    stage.  With Spark's default 100 entries the 235 classes this plan
    compiled cold evicted each other, and the repeat recompiled 229."""
    counts = []
    for _ in range(2):
        before = _codegen_compiles(spark)
        _contribution(docs_db).count()
        counts.append(_codegen_compiles(spark) - before)
    first, second = counts
    assert second <= first // 10, counts
    # a plan outgrowing the cache would thrash it again
    assert first < int(spark.conf.get("spark.sql.codegen.cache.maxEntries")), counts


def test_zonal_and_knn_constant_frames_are_local(spark, docs_db):
    from oshdb_spark.operators.knn import knn_join

    zones = {
        "west": {"type": "Polygon", "coordinates": [
            [[-180, -90], [0, -90], [0, 90], [-180, 90], [-180, -90]]]},
        "east": {"type": "Polygon", "coordinates": [
            [[0, -90], [180, -90], [180, 90], [0, 90], [0, -90]]]},
    }
    zonal = _plan(
        _snapshot(docs_db, "type:node", bbox=None)
        .aggregate_by_geometry(zones).count()
    )
    # the zone match is a Python UDF; the zone key frame is not
    assert "ExistingRDD" not in zonal and "LocalTableScan" in zonal, zonal[:3000]
    knn = _plan(knn_join(spark, _points(spark), [(1, 0, 0), (2, 10, 10)], k=3))
    assert _no_python(knn) and "LocalTableScan" in knn, knn[:3000]


@pytest.mark.parametrize("view", ["snapshot", "contribution"])
def test_nested_relation_probe_runs_once_per_handle(spark, docs_parquet, view):
    from oshdb_spark.api import OSHDB, ContributionView, SnapshotView

    db = OSHDB.from_docs(spark, spark.read.parquet(docs_parquet[0]))
    sc = spark.sparkContext

    def build_jobs(k: int) -> list:
        group = f"plan-shape-nested-{view}-{k}"
        sc.setJobGroup(group, "view DataFrame build")
        try:
            if view == "snapshot":
                SnapshotView.on(db).timestamps(SNAP_TS).dataframe()
            else:
                (ContributionView.on(db).timestamps(SNAP_TS[0], SNAP_TS[-1])
                 .dataframe())
            return list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    assert build_jobs(1) != []  # the handle's one probe
    assert build_jobs(2) == []


# ---------------------------------------------------------------------------
# tile assignment: one Arrow kernel evaluates both cells, so the insert
# cell adds no Python boundary next to the quadcell UDF
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("cached", [False, True], ids=["plain", "cached"])
def test_assign_cells_plan_has_one_python_node_per_branch(
    spark, docs_parquet, cached
):
    from oshdb_spark.operators.tiling import assign_cells
    from oshdb_spark.sources.entities import extract_entities

    ents = extract_entities(spark.read.parquet(docs_parquet[0]))
    if cached:  # the store ETL caches its input before tiling
        ents = ents.cache()
    try:
        plan = _plan(assign_cells(ents))
    finally:
        ents.unpersist()
    python_nodes = [l for l in plan.splitlines() if "EvalPython" in l]
    # one ArrowEvalPython per union branch of the lifetime bboxes (nodes,
    # owners), each evaluating the insert-cell and the quadcell UDF
    assert len(python_nodes) == 2, plan[:3000]
    for line in python_nodes:
        assert "ArrowEvalPython" in line, line
        assert line.count("_udf(") == 2, line
    # at this input size: 5 shuffles (the node aggregation, whose subtree
    # appears twice, the owner aggregation and both sides of the join back
    # onto the entity versions) and 2 broadcasts (the way-expansion and
    # edge joins)
    assert plan.count("Exchange") == 7, plan[:3000]


# ---------------------------------------------------------------------------
# AOI plans: both views clip each row once, through geometry_ops.aoi_clip
# ---------------------------------------------------------------------------

AOI_BOX = (-180.0, -90.0, 0.0, 0.0)
L_ZONE = {
    "type": "Polygon",
    "coordinates": [[[-180, -90], [180, -90], [180, 0], [0, 0],
                     [0, 90], [-180, 90], [-180, -90]]],
}


def _python_and_exchanges(df) -> tuple[int, int]:
    plan = _plan(df)
    return plan.count("ArrowEvalPython"), plan.count("Exchange")


@pytest.mark.parametrize(
    "view, aoi, count, want",
    [
        # the way geometry, bbox clip and WKT rendering
        ("snapshot", {"bbox": AOI_BOX}, False, (5, 3)),
        # + the exact intersects test and the polygon clip
        ("snapshot", {"polygon": L_ZONE}, False, (5, 3)),
        # one clip serves aliveness, change detection and clipped_wkt;
        # one (type, id) exchange serves the way branch's windows and
        # groups (11 Exchanges before)
        ("contribution", {"bbox": AOI_BOX}, False, (3, 6)),
        ("contribution", {"polygon": L_ZONE}, False, (3, 6)),
        # count() prunes the WKT rendering, not the clip (12 Exchanges
        # before)
        ("contribution", {"polygon": L_ZONE}, True, (2, 7)),
    ],
    ids=["snapshot-bbox", "snapshot-polygon", "contribution-bbox",
         "contribution-polygon", "contribution-polygon-count"],
)
def test_aoi_plan_shapes(spark, docs_db, view, aoi, count, want):
    from oshdb_spark.api import ContributionView, SnapshotView

    if view == "snapshot":
        v = SnapshotView.on(docs_db).timestamps(SNAP_TS)
    else:
        v = ContributionView.on(docs_db).timestamps(SNAP_TS[0], SNAP_TS[-1])
    df = v.filter("type:way").area_of_interest(**aoi).dataframe()
    if count:
        df = df.agg(F.count(F.lit(1)))
    if view == "contribution":
        df = _uncached(spark, df)  # the whole cascade, clip included
    assert _python_and_exchanges(df) == want, _plan(df)[:4000]
