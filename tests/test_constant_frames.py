"""Driver-side constant frames (``session.local_frame``): the one builder
of list-backed DataFrames in the engine, planned as a JVM LocalTableScan
instead of a Python-RDD scan — and the zerofill and kNN paths that use it."""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest

from oshdb_spark.api import OSHDB, SnapshotView
from oshdb_spark.filters.dsl import TagTranslator
from oshdb_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "oshdb_spark")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# the helper
# ---------------------------------------------------------------------------

CASES = {
    "empty": ([], "a int, b string"),
    "nulls": ([(1, None, None), (None, "x", None)], "a int, b string, c double"),
    "int32-bounds": ([(-(2**31), 2**31 - 1)], "lo int, hi int"),
    "int64-bounds": ([(-(2**63), 2**63 - 1)], "lo long, hi long"),
    "doubles": ([(0.1, -0.0), (1e308, 5e-324), (float("inf"), -1.5)], "a double, b double"),
    "unicode": ([("Zürich",), ("東京",), ("☃\u0000x",), ("",)], "name string"),
    "nested": (
        [("way", 1, [10, 11], None),
         ("relation", 100, None, [("way", 1, ""), ("node", 5, "outer")])],
        "type string, id long, refs array<bigint>, "
        "members array<struct<type:string,ref:bigint,role:string>>",
    ),
    "legacy-ddl": ([(True,), (None,)], "k: boolean"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, ddl = CASES[case]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_rejects_out_of_range_ints(spark):
    with pytest.raises(Exception):
        local_frame(spark, [(2**31,)], "a int")


def test_local_frame_is_local_without_arrow_conf(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a"), (2, None)], "a int, b string")
        plan = _plan(df)
        rows = df.collect()
    finally:
        spark.conf.set(key, old)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in rows] == [(1, "a"), (2, None)]


def test_no_list_backed_create_dataframe_outside_helper():
    """Every constant frame in the package goes through local_frame."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path, encoding="utf-8").read())
            allowed = set()
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame" \
                        and f == "session.py":
                    allowed |= {id(n) for n in ast.walk(fn)}
            for n in ast.walk(tree):
                if isinstance(n, ast.Attribute) and n.attr == "createDataFrame" \
                        and id(n) not in allowed:
                    offenders.append(f"{os.path.relpath(path, PKG)}:{n.lineno}")
    assert offenders == []


# ---------------------------------------------------------------------------
# zerofill: the key frame takes the aggregated column's own type
# ---------------------------------------------------------------------------

TS = [1262304000 + k * 2 * 365 * 86400 for k in range(6)]


@pytest.fixture(scope="module")
def db(spark, docs_parquet):
    tr = TagTranslator(keys={"building": 2}, values={})
    return OSHDB.from_docs(spark, spark.read.parquet(docs_parquet[0]), translator=tr)


def _by_version(db, keys):
    v = SnapshotView.on(db).timestamps([TS[3]]).filter("type:node")
    return v.aggregate_by("version", keys=keys).count()


def test_zerofill_empty_key_list_fills_nothing(db):
    plain = _by_version(db, None)
    filled = _by_version(db, [])
    assert filled.schema == plain.schema
    assert filled.collect() == plain.collect()


def test_zerofill_keeps_the_key_column_type(db):
    plain = _by_version(db, None)
    filled = _by_version(db, [1, 2, 99])
    assert dict(filled.dtypes)["version"] == dict(plain.dtypes)["version"] == "int"
    got = {r["version"]: r["cnt"] for r in filled.collect()}
    want = {r["version"]: r["cnt"] for r in plain.collect()}
    assert got == {**want, 99: 0, **{k: want.get(k, 0) for k in (1, 2)}}


def test_zerofill_plans_no_python_scan(db):
    plan = _plan(SnapshotView.on(db).timestamps(TS).filter("type:node")
                 .aggregate_by_timestamp().count())
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan


# ---------------------------------------------------------------------------
# kNN: the capped histogram collect
# ---------------------------------------------------------------------------


def _knn_points(spark):
    rs = np.random.RandomState(5)
    return local_frame(
        spark,
        [(i, int(rs.randint(-17e8, 17e8)), int(rs.randint(-8e8, 8e8)))
         for i in range(3000)],
        "event_id long, lon_fp long, lat_fp long",
    )


def test_knn_capped_histogram_gives_the_same_neighbours(spark, monkeypatch):
    from oshdb_spark.operators import knn

    pts = _knn_points(spark)
    queries = [(1, 0, 0), (2, 1_500_000_000, 700_000_000),
               (3, -1_799_000_000, -850_000_000)]
    full_zoom, full = knn._cell_histogram(pts, 6, knn.HISTOGRAM_CAP)
    want = sorted(knn.knn_join(spark, pts, queries, k=7).collect())

    cap = 100  # zoom 6 fills most of its 2048 cells
    monkeypatch.setattr(knn, "HISTOGRAM_CAP", cap)
    zoom, hist = knn._cell_histogram(pts, 6, cap)
    assert full_zoom == 6 and zoom < 6 and len(hist) <= cap
    assert sum(n for *_, n in hist) == sum(n for *_, n in full) == 3000
    got = sorted(knn.knn_join(spark, pts, queries, k=7).collect())
    assert got == want
