"""An ``OSHDB`` handle builds the contribution view's event states once per
key, persists them and reuses them: a view on a warm handle must give
exactly the rows the same view gives with no states cached, building it
must not rebuild the states, and the handle must release what it cached."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

T0 = 1262304000
YEAR = 365 * 86400
TAG_KEYS = {"building": 2, "highway": 3, "name": 7, "amenity": 8, "area": 1}
WARM_BOX = (-20.0, -20.0, 40.0, 40.0)
BOX = (8.45, 49.15, 8.70, 49.60)
POLYGON = {
    "type": "Polygon",
    "coordinates": [[[8.40, 49.00], [8.95, 49.00], [8.40, 49.80],
                     [8.40, 49.00]]],
}
FILTERS = [None, "building=*", "type:way"]


def _db(spark, docs_parquet):
    from oshdb_spark.api import OSHDB
    from oshdb_spark.filters.dsl import TagTranslator

    docs = spark.read.parquet(docs_parquet[0])
    return OSHDB.from_docs(spark, docs, translator=TagTranslator(keys=TAG_KEYS))


def _view(db, filt=None, bbox=WARM_BOX, polygon=None, ts=(T0, T0 + 11 * YEAR)):
    from oshdb_spark.api import ContributionView

    v = ContributionView.on(db).timestamps(*ts)
    v = v.area_of_interest(bbox=bbox) if polygon is None else v.area_of_interest(
        polygon=polygon)
    return v.filter(filt) if filt else v


@pytest.fixture(scope="module")
def warm_db(spark, docs_parquet):
    """A handle that has run the contribution query of every filter below."""
    db = _db(spark, docs_parquet)
    for filt in FILTERS:
        _view(db, filt).count()
    return db


def _norm(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(df) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)


def _reference(spark, docs_parquet, **kw) -> list:
    """The view's rows planned with no contribution states cached.  Spark's
    cache manager puts any handle's cached states into every plan over
    the same entities, so a fresh handle's view would read the warm
    handle's cache; the cache is emptied after the view is built and
    before it is planned (the handles that were emptied persist their
    states again on their next query)."""
    db = _db(spark, docs_parquet)
    df = _view(db, **kw).dataframe()
    spark.catalog.clearCache()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan
    rows = _rows(df)
    del db, df
    gc.collect()  # the handle's release must not run later, on a warm cache
    return rows


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize(
    "kw",
    [
        {"bbox": BOX},
        {"polygon": POLYGON},
        {"bbox": BOX, "ts": (T0 + 3 * YEAR, T0 + 7 * YEAR)},
        {"filt": "building=*", "bbox": BOX},
        {"filt": "type:way", "bbox": BOX},
    ],
    ids=["new-bbox", "polygon", "new-interval", "tag-filter", "type-way"],
)
def test_warm_handle_view_equals_fresh_handle(spark, docs_parquet, warm_db, kw):
    want = _reference(spark, docs_parquet, **kw)
    # the memo keeps the newest key: warm this view's key first
    _view(warm_db, kw.get("filt")).count()
    warm = _view(warm_db, **kw).dataframe()
    assert "InMemoryTableScan" in warm._jdf.queryExecution().executedPlan().toString()
    got = _rows(warm)
    assert want and got == want


def test_key_change_releases_states_and_going_back_rebuilds_them(
    spark, docs_parquet
):
    want = _reference(spark, docs_parquet, bbox=BOX)
    db = _db(spark, docs_parquet)
    assert _rows(_view(db, bbox=BOX).dataframe()) == want
    first = list(db._memo[1].values())
    assert all(df.storageLevel != StorageLevel.NONE for df in first)
    _view(db, "building=*").count()  # a new key releases the old states
    assert all(df.storageLevel == StorageLevel.NONE for df in first)
    assert all(df.storageLevel != StorageLevel.NONE
               for df in db._memo[1].values())
    assert _rows(_view(db, bbox=BOX).dataframe()) == want


def test_released_handle_leaves_no_persisted_rdd(spark, tmp_path):
    from oshdb_spark.api import OSHDB
    from oshdb_spark.sources.docs import write_docs_parquet

    # a world of its own, so no other handle shares its cache entries
    path = str(tmp_path / "docs.parquet")
    write_docs_parquet(path, n_features=30, seed=7)
    gc.collect()
    base = _persisted_rdds(spark)
    db = OSHDB.from_docs(spark, spark.read.parquet(path))
    _view(db).count()
    assert _persisted_rdds(spark) == base + len(db._memo[1]) > base
    _view(db, "type:way").count()  # a new key: only the way states stay
    assert len(db._memo[1]) == 1
    assert _persisted_rdds(spark) == base + 1
    del db
    gc.collect()
    assert _persisted_rdds(spark) == base


def test_timeout_while_states_materialize_leaves_handle_usable(
    spark, docs_parquet, monkeypatch
):
    import oshdb_spark.api as api
    from oshdb_spark.api import OSHDBTimeoutError

    want = _reference(spark, docs_parquet, bbox=BOX)
    real = api.contribution_states

    def slow_states(*a, **kw):
        # the states take seconds to compute, so the timeout fires while
        # the first query fills the handle's cache; they keep every row
        @F.pandas_udf("boolean")
        def slow(v):
            time.sleep(3)
            return v == v

        return {k: df.filter(slow(F.col("id")))
                for k, df in real(*a, **kw).items()}

    monkeypatch.setattr(api, "contribution_states", slow_states)
    db = _db(spark, docs_parquet)
    db.nested_relations  # the handle's probe job runs before the timeout
    db.timeout(1.0)
    with pytest.raises(OSHDBTimeoutError):
        _view(db, bbox=BOX).count()
    db.timeout(None)
    assert all(df.storageLevel != StorageLevel.NONE
               for df in db._memo[1].values())
    assert _rows(_view(db, bbox=BOX).dataframe()) == want


def test_second_view_builds_no_states(spark, docs_parquet, monkeypatch):
    import oshdb_spark.operators.contribution as contribution

    db = _db(spark, docs_parquet)
    _view(db).dataframe()
    calls = []
    for name in ("modification_events", "_way_states", "_relation_states"):
        real = getattr(contribution, name)

        def counted(*a, _name=name, _real=real, **kw):
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(contribution, name, counted)
    _view(db, bbox=BOX, ts=(T0 + YEAR, T0 + 5 * YEAR)).dataframe()
    _view(db, polygon=POLYGON).dataframe()
    assert calls == []
    # a new key (the OSH prefilter of a tag filter) builds its own states
    _view(db, "building=*").dataframe()
    assert set(calls) == {"modification_events", "_way_states", "_relation_states"}
