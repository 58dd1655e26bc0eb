"""Differential test of the type-narrowed snapshot path.

``snapshot_view(..., types=T)`` builds only the entity branches T reaches.
Its rows must equal the all-types ``snapshot_view(...)`` filtered to
``type in T`` afterwards: on the generated docs world with and without a
bbox (with ``keep_empty``), on a hand-made relation world with nested,
dangling and old-style multipolygon relations, and through the
fluent API with a polygon AOI, where the type set comes from the filter.
Each case runs the narrowed frames of all type sets as one job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oshdb_spark.api import OSHDB, SnapshotView
from oshdb_spark.filters.dsl import TagTranslator
from oshdb_spark.operators.snapshot import snapshot_view
from oshdb_spark.sources.entities import extract_entities

TS = [1262304000 + k * 4 * 365 * 86400 for k in (1, 2)]
BOX = (-20.0, -20.0, 40.0, 40.0)

TYPE_SETS = [
    frozenset({"node"}),
    frozenset({"way"}),
    frozenset({"relation"}),
    frozenset({"node", "way"}),
    frozenset(),
]


def _norm(v):
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _assert_narrowed_equal(full, build, type_sets=TYPE_SETS):
    """``build(T)`` (the narrowed frame for type set T) equals ``full``
    filtered to ``type in T``, for every T.  All narrowed frames run as
    one union job, tagged by type set."""
    cols = full.columns
    union = None
    for i, types in enumerate(type_sets):
        df = build(types)
        assert sorted(df.columns) == sorted(cols)
        df = df.select(*cols, F.lit(i).alias("__set"))
        union = df if union is None else union.unionByName(df)
    got = {i: [] for i in range(len(type_sets))}
    for r in union.collect():
        got[r["__set"]].append(tuple(_norm(r[c]) for c in cols))
    full_rows = [
        (r["type"], tuple(_norm(r[c]) for c in cols)) for r in full.collect()
    ]
    for i, types in enumerate(type_sets):
        want = sorted((row for t, row in full_rows if t in types), key=repr)
        assert sorted(got[i], key=repr) == want, f"type set {sorted(types)}"
    return [dict(zip(cols, row)) for _, row in full_rows]


# ---------------------------------------------------------------------------
# operator level: the generated docs world
# ---------------------------------------------------------------------------

DOCS_CASES = {
    "no_aoi": dict(),
    "bbox_keep_empty": dict(bbox_deg=BOX, keep_empty=True),
}


@pytest.fixture(scope="module")
def docs_entities(spark, docs_parquet):
    return extract_entities(spark.read.parquet(docs_parquet[0])).cache()


@pytest.mark.parametrize("case", list(DOCS_CASES))
def test_docs_world_narrowed_equals_full(docs_entities, case):
    kw = DOCS_CASES[case]
    full = _assert_narrowed_equal(
        snapshot_view(docs_entities, TS, **kw),
        lambda types: snapshot_view(docs_entities, TS, types=types, **kw),
    )
    assert {r["type"] for r in full} == {"node", "way", "relation"}


# ---------------------------------------------------------------------------
# operator level: nested, dangling and old-style relations
# ---------------------------------------------------------------------------

REL_SCHEMA = (
    "doc_id string, id long, type string, version int, visible boolean, "
    "ts long, changeset long, uid int, tags map<int,int>, lon long, lat long, "
    "refs array<long>, members array<struct<type:string,ref:long,role:string>>"
)
T0 = 100


def _node(id_, x, y):
    return ("d", id_, "node", 1, True, T0, 0, 0, {}, x * 10_000_000,
            y * 10_000_000, None, None)


def _way(id_, refs, tags=None):
    return ("d", id_, "way", 1, True, T0, 0, 0, tags or {}, None, None,
            refs, None)


def _rel(id_, members, tags=None):
    return ("d", id_, "relation", 1, True, T0, 0, 0, tags or {}, None, None,
            None, members)


@pytest.fixture(scope="module")
def relation_world(spark):
    sq = [(1, 0, 0), (2, 10, 0), (3, 10, 10), (4, 0, 10)]
    hole = [(5, 4, 4), (6, 6, 4), (7, 6, 6), (8, 4, 6)]
    rows = [_node(i, x, y) for i, x, y in sq + hole]
    rows += [_node(9, 30, 30), _node(10, 40, 30)]
    rows += [
        _way(20, [1, 2, 3, 4, 1], {2: 1}),
        _way(21, [5, 6, 7, 8, 5]),
        # old-style multipolygon (tags on the outer way) and a new-style one
        _rel(30, [("way", 20, "outer"), ("way", 21, "inner")], {4: 1}),
        _rel(31, [("way", 20, "outer"), ("way", 21, "inner")], {4: 1, 2: 7}),
        # a nested relation and a dangling relation member
        _rel(50, [("node", 9, ""), ("node", 10, "")]),
        _rel(60, [("relation", 50, ""), ("way", 21, "")]),
        _rel(82, [("relation", 999, ""), ("node", 2, "")]),
    ]
    return spark.createDataFrame(rows, REL_SCHEMA).cache()


def test_relation_world_narrowed_equals_full(relation_world):
    kw = dict(
        bbox_deg=(2.0, 2.0, 35.0, 35.0),
        keep_empty=True,
        include_old_style_multipolygons=True,
    )
    full = _assert_narrowed_equal(
        snapshot_view(relation_world, [T0 + 1], **kw),
        lambda types: snapshot_view(relation_world, [T0 + 1], types=types, **kw),
    )
    rels = {r["id"] for r in full if r["type"] == "relation"}
    assert rels == {30, 31, 50, 60, 82}


# ---------------------------------------------------------------------------
# API level: the type set comes from the filter
# ---------------------------------------------------------------------------

API_FILTERS = {
    "type:node": {"node"},
    "type:way": {"way"},
    "type:relation": {"relation"},
    "type:node or type:way": {"node", "way"},
    "type:node and type:way": set(),
}
POLYGON = {
    "type": "Polygon",
    "coordinates": [[[-20.0, -20.0], [40.0, -20.0], [10.0, 40.0], [-20.0, -20.0]]],
}


@pytest.fixture(scope="module")
def api_db(spark, docs_parquet):
    tr = TagTranslator(keys={"building": 2}, values={})
    return OSHDB.from_docs(spark, spark.read.parquet(docs_parquet[0]), translator=tr)


def test_api_polygon_narrowed_equals_full(api_db):
    def view(filt=None):
        v = SnapshotView.on(api_db).timestamps(TS)
        v = v.filter(filt) if filt else v
        return v.area_of_interest(polygon=POLYGON)

    by_types = {}
    for filt, types in API_FILTERS.items():
        assert view(filt)._type_set() == frozenset(types)
        by_types[frozenset(types)] = filt
    _assert_narrowed_equal(
        view().dataframe(),
        lambda types: view(by_types[types]).dataframe(),
        list(by_types),
    )


def test_contradictory_filter_returns_zero_rows(api_db):
    view = SnapshotView.on(api_db).timestamps(TS).filter("type:node and type:way")
    assert view.count() == 0
    rows = view.aggregate_by_timestamp().count().collect()
    assert [(r["snap_ts"], r["cnt"]) for r in rows] == [(t, 0) for t in TS]
