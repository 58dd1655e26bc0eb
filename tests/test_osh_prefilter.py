"""applyOSH-style full-history prefilter (api._osh_prefilter +
filters.dsl.osh_prefilter).

Mirrors the reference's coarse OSH prefilter semantics (oshdb-filter
FilterInternal.applyOSH, ApplyOSHTest.java): an entity NONE of whose
versions can satisfy the filter is pruned before member resolution and
geometry build; an entity with at least one matching version keeps ALL
its versions, so filtered-contribution DELETIONS (a version that STOPS
matching) still appear.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oshdb_spark.api import OSHDB, ContributionView, SnapshotView
from oshdb_spark.filters.dsl import TagTranslator, osh_prefilter, parse_filter
from oshdb_spark.timestamps import parse_iso

K = {"shop": 1, "highway": 2}
V = {("shop", "supermarket"): 1, ("shop", "bakery"): 2,
     ("highway", "primary"): 1}
TR = TagTranslator(keys=K, values=V)

ENT_SCHEMA = (
    "doc_id string, id long, type string, version int, visible boolean, "
    "ts long, changeset long, uid int, tags map<int,int>, lon long, lat long, "
    "refs array<long>, members array<struct<type:string,ref:long,role:string>>"
)


def _t(iso):
    return parse_iso(iso) // 1_000_000


def _node(nid, version, ts, tags):
    return (f"n{nid}v{version}", nid, "node", version, True, _t(ts),
            version, 1, tags, 14_200_000, 12_200_000, None, None)


ROWS = [
    # node 1: matches shop=supermarket in v1, stops matching in v2
    _node(1, 1, "2008-01-01", {1: 1}),
    _node(1, 2, "2010-01-01", {1: 2}),
    # node 2: never matches (highway=primary throughout)
    _node(2, 1, "2008-01-01", {2: 1}),
    _node(2, 2, "2010-01-01", {2: 1}),
    # node 3: tagless
    _node(3, 1, "2009-01-01", {}),
]


@pytest.fixture(scope="module")
def db(spark):
    return OSHDB(spark, spark.createDataFrame(ROWS, ENT_SCHEMA), translator=TR)


def test_bounds(spark):
    # exact leaves produce a column; geometry/metric leaves don't
    assert osh_prefilter(parse_filter("shop=supermarket", TR)) is not None
    assert osh_prefilter(parse_filter("area:(1..2)", TR)) is None
    assert osh_prefilter(parse_filter("geometry:point", TR)) is None
    # a conjunction with one evaluable side still prunes
    assert osh_prefilter(
        parse_filter("shop=supermarket and area:(1..2)", TR)) is not None
    # a disjunction with a non-evaluable side cannot prune
    assert osh_prefilter(
        parse_filter("shop=supermarket or area:(1..2)", TR)) is None
    # negation of an exact leaf stays exact
    assert osh_prefilter(parse_filter("shop!=supermarket", TR)) is not None


def test_prune_drops_never_matching_entities(db):
    from oshdb_spark.filters.dsl import parse_filter

    v = (SnapshotView.on(db)
         .timestamps([_t("2011-01-01")])
         .osm_type("node")
         .filter("shop=supermarket"))
    pruned = v._osh_prefilter(v._entities(), v.state.filters)
    kept_ids = sorted(r.id for r in pruned.select("id").distinct().collect())
    # node 1 kept (v1 matched once) WITH both versions; nodes 2, 3 pruned
    assert kept_ids == [1]
    assert pruned.count() == 2
    # without type narrowing, nodes are potential member dependencies of
    # way/relation targets -> the prune must stay OFF for them
    v2 = (SnapshotView.on(db)
          .timestamps([_t("2011-01-01")])
          .filter("shop=supermarket"))
    unpruned = v2._osh_prefilter(v2._entities(), v2.state.filters)
    assert unpruned.count() == len(ROWS)


def test_type_only_conjuncts_add_no_prefilter(db):
    # `type:node` only restates the narrowed type set: no window at all
    v = SnapshotView.on(db).timestamps([_t("2011-01-01")]).filter("type:node")
    ents = v._entities()
    assert v._osh_prefilter(ents, v.state.filters) is ents
    # a tag conjunct beside it still prunes, as with osm_type() + filter()
    v2 = (SnapshotView.on(db)
          .timestamps([_t("2011-01-01")])
          .filter("type:node and shop=supermarket"))
    pruned = v2._osh_prefilter(v2._entities(), v2.state.filters)
    assert sorted(r.id for r in pruned.select("id").distinct().collect()) == [1]


def test_filtered_contribution_deletion_survives_prune(db):
    rows = (
        ContributionView.on(db)
        .timestamps([_t("2000-01-01"), _t("2018-01-01")])
        .osm_type("node")
        .filter("shop=supermarket")
        .dataframe()
        .orderBy("ts")
        .collect()
    )
    # v1 starts matching -> CREATION; v2 stops matching -> DELETION
    assert [(r.id, sorted(r.contrib_types)) for r in rows] == [
        (1, ["CREATION"]), (1, ["DELETION"])]


def test_snapshot_results_unchanged_by_prune(db):
    rows = (
        SnapshotView.on(db)
        .timestamps([_t("2009-01-01")])
        .osm_type("node")
        .filter("shop=supermarket")
        .dataframe()
        .collect()
    )
    assert [r.id for r in rows] == [1]
