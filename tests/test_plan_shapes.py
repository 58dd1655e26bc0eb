"""Plan-shape regression tests for the round-5 operators: assert the
100-TB posture claims made in SURVEY.md §2 directly against the physical
plan — JVM-only paths must stay free of Python eval nodes, candidate
generation must be `sequence`/explode (not a cross join), and the
applyInPandas operators must shuffle exactly once (one FlatMapGroupsInPandas,
no extra Exchange beyond its group-by)."""

from __future__ import annotations

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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _points(spark, n=50):
    return spark.range(n).selectExpr(
        "id AS event_id",
        "id % 5 AS user_id",
        "(id % 100) * 10000000 - 500000000 AS lon_fp",
        "((id * 7) % 80) * 10000000 - 400000000 AS lat_fp",
        "id * 1000 AS ts_us",
    )


def _no_python(plan: str) -> bool:
    return (
        "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan
        and "MapInPandas" not in plan
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
            spark.createDataFrame(
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
