"""An ``OSHDB`` handle builds the contribution view's event states once per
key and reuses them: a view on a warm handle must give exactly the rows
the same view gives on a fresh handle, and building it must not rebuild
the states."""

from __future__ import annotations

import pytest

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
    # the memo keeps the newest key: warm this view's key first
    _view(warm_db, kw.get("filt")).count()
    warm = _view(warm_db, **kw).dataframe()
    fresh = _view(_db(spark, docs_parquet), **kw).dataframe()
    assert warm.columns == fresh.columns
    got, want = _rows(warm), _rows(fresh)
    assert want and got == want


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
