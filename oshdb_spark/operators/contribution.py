"""Contribution view: one row per modification of each entity.

Reproduces CellIterator.iterateByContribution
(/root/reference/oshdb-util/.../celliterator/CellIterator.java:502-740) and
OSHEntityTimeUtils (osh/OSHEntityTimeUtils.java:46-192):

  * modification events = the entity's own version timestamps UNION the
    modification timestamps of its referenced members (node edits inside a
    way version's validity window; way+node edits inside a relation's) —
    collectMembershipTimeIntervals / fillMembersModificationTimestamps;
  * changeset squashing: consecutive modifications carrying the same
    changeset collapse to the changeset's LAST timestamp
    (OSHEntityTimeUtils.java:144-160 — reverse scan keeps a timestamp iff
    its changeset differs from the next event's changeset);
  * per-event classification with the previous state as lag
    (CellIterator.java:586-726):
      - version invisible, prev visible          -> DELETION
      - prev null or prev deleted                -> CREATION
      - geometry became empty in the AOI         -> DELETION
      - else TAG_CHANGE if tags differ and/or GEOMETRY_CHANGE if the
        geometry differs; a contribution may have NO type (issue #87);
  * contributorUserId: the entity version's user if the entity itself
    changed at that exact timestamp, else the user of the member-child
    modification (OSMContributionImpl.java:126-160).

All heavy steps are DataFrame ops, keyed so that one ``(type, id)``
exchange per kind serves every per-owner step: the event dedup and the
changeset squash, the owner's as-of version, the per-state groups and
the classification window.  Member geometry is resolved in one probe
pass per kind, the way an ``OSHEntity`` carries its members' histories
(PAPER.md §1.1-1.2): each state's node refs — for a relation, its member
ways' refs as of the event, or the member node itself — meet the node
history in one as-of join (:func:`_asof_nodes`) and are grouped back per
member and per state.  Classification is lag() + when/otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oshdb_spark.geometry.taginterpreter import TagInterpreter
from oshdb_spark.operators.geometry_ops import (
    aoi_clip,
    clip_is_empty,
    clipped_wkt_col,
    holes_only_udf,
    is_empty_geom_cols,
    node_geometry_cols,
    old_style_flag_udf,
    relation_geometry_udf,
    to_wkt_udf,
    way_geometry_udf,
)
from oshdb_spark.operators.snapshot import has_nested_relations, with_validity

CONTRIB_TYPES = ["CREATION", "DELETION", "TAG_CHANGE", "GEOMETRY_CHANGE"]

OWNER = ["type", "id"]
EVENT_COLS = [*OWNER, "event_ts", "event_changeset", "event_uid", "own_change"]
# one row per (type, id, event_ts): the owner's state at each event
STATE_COLS = [*EVENT_COLS, "doc_id", "version", "visible"]
GEOM_COLS = ["geom", "area", "length", "minx", "miny", "maxx", "maxy"]


# ---------------------------------------------------------------------------
# as-of resolution
# ---------------------------------------------------------------------------


def _newest(df: DataFrame, key: list[str], ts_col: str, version_col: str):
    """One row per ``key``: the one with the newest (ts, version); a left
    join's unmatched row (null ts) survives as the only row."""
    w = Window.partitionBy(*key).orderBy(
        F.col(ts_col).desc_nulls_last(), F.col(version_col).desc_nulls_last()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_resolve(targets: DataFrame, versions: DataFrame, ts_col: str):
    """For each ``targets`` row (an owner ``(type, id)`` and a timestamp
    ``ts_col``) the newest version with version.ts <= ts
    (OSHEntities.getByTimestamp, osh/OSHEntities.java:60-75), or nulls.

    A left join on ``(type, id)`` with the as-of bound in its condition,
    then a window dedup partitioned by the target's columns: a target
    already partitioned by owner is not shuffled again.  Version columns
    are prefixed with ``v_``.
    """
    v = versions.select(
        F.col("type").alias("__v_type"),
        F.col("id").alias("__v_id"),
        *[F.col(c).alias(f"v_{c}") for c in versions.columns if c not in OWNER],
    )
    joined = targets.join(
        v,
        (F.col("type") == F.col("__v_type"))
        & (F.col("id") == F.col("__v_id"))
        & (F.col("v_ts") <= F.col(ts_col)),
        "left",
    ).drop("__v_type", "__v_id")
    return _newest(joined, targets.columns, "v_ts", "v_version")


def _asof_nodes(probes: DataFrame, nodes: DataFrame, key: list[str]):
    """Each probe row (unique per ``key``, with ``event_ts`` and a node id
    ``pref``) + that node's version as of ``event_ts``: ``n_visible``,
    ``n_lon``, ``n_lat`` in degrees, null when the node has no version
    yet.  The one node as-of join of both the way and the relation
    branch; its dedup window leads with ``pref``, so it reuses the join's
    partitioning whichever side was shuffled."""
    node_v = nodes.select(
        F.col("id").alias("__n_id"),
        F.col("ts").alias("__n_ts"),
        F.col("version").alias("__n_version"),
        F.col("visible").alias("n_visible"),
        (F.col("lon").cast("double") / 1e7).alias("n_lon"),
        (F.col("lat").cast("double") / 1e7).alias("n_lat"),
    )
    j = probes.join(
        node_v,
        (F.col("pref") == F.col("__n_id")) & (F.col("__n_ts") <= F.col("event_ts")),
        "left",
    )
    return _newest(j, ["pref", *key], "__n_ts", "__n_version").drop(
        "__n_id", "__n_ts", "__n_version"
    )


def _probe_list():
    """The resolved probes of one group, in ref order."""
    return F.array_sort(
        F.collect_list(
            F.struct("ppos", F.col("pref").alias("nid"), "n_visible", "n_lon", "n_lat")
        )
    ).alias("pline")


def _node_line(pline):
    """array<struct<nid, lon, lat>>: the visible nodes of a probe list."""
    return F.transform(
        F.filter(pline, lambda p: p["n_visible"].isNotNull() & p["n_visible"]),
        lambda p: F.struct(
            p["nid"].alias("nid"), p["n_lon"].alias("lon"), p["n_lat"].alias("lat")
        ),
    )


# ---------------------------------------------------------------------------
# modification events
# ---------------------------------------------------------------------------


def _own_events(versions: DataFrame) -> DataFrame:
    return versions.select(
        "type",
        "id",
        F.col("ts").alias("event_ts"),
        F.col("changeset").alias("event_changeset"),
        F.col("uid").alias("event_uid"),
        F.lit(True).alias("own_change"),
        F.array().cast("array<bigint>").alias("event_src"),
    )


def _member_events(owners, members, child_events, kind: str) -> DataFrame:
    """Child modification events mapped into the validity window of each
    owner version that references the child (collectMembershipTimeIntervals).
    ``members``: the (mtype, ref) pairs of an owner version; a member
    listed twice yields duplicate events, which the event dedup drops.
    ``event_src`` is the chain of member ids the event came through."""
    intervals = with_validity(owners).select(
        "id", F.col("ts").alias("o_start"), "next_ts",
        F.explode(F.array_distinct(members)).alias("m"),
    ).select(
        "id", "o_start", "next_ts",
        F.col("m.mtype").alias("mtype"), F.col("m.ref").alias("ref"),
    )
    ev = intervals.join(child_events, ["mtype", "ref"], "inner").filter(
        (F.col("event_ts") > F.col("o_start"))
        & (F.col("next_ts").isNull() | (F.col("event_ts") < F.col("next_ts")))
    )
    return ev.select(
        F.lit(kind).alias("type"),
        "id",
        "event_ts",
        "event_changeset",
        "event_uid",
        F.lit(False).alias("own_change"),
        F.concat(F.array("ref"), "event_src").alias("event_src"),
    )


def _as_child(events: DataFrame) -> DataFrame:
    return events.select(
        F.col("type").alias("mtype"), F.col("id").alias("ref"),
        "event_ts", "event_changeset", "event_uid", "event_src",
    )


def modification_events(entities: DataFrame) -> DataFrame:
    """All (type, id, event_ts) modification events with changeset/uid
    attribution and the own-vs-member flag; deduped so an own change at the
    same timestamp as a member change counts as the own change."""
    nodes = entities.filter(F.col("type") == "node")
    ways = entities.filter(F.col("type") == "way")
    rels = entities.filter(F.col("type") == "relation")

    node_ev = _own_events(nodes)
    way_refs = F.transform(
        "refs", lambda r: F.struct(F.lit("node").alias("mtype"), r.alias("ref"))
    )
    way_ev = _own_events(ways).unionByName(
        _member_events(ways, way_refs, _as_child(node_ev), "way")
    )
    rel_members = F.transform(
        "members", lambda m: F.struct(m["type"].alias("mtype"), m["ref"].alias("ref"))
    )
    rel_ev = _own_events(rels).unionByName(
        _member_events(
            rels, rel_members,
            _as_child(way_ev).unionByName(_as_child(node_ev)), "relation",
        )
    )
    all_ev = node_ev.unionByName(way_ev).unionByName(rel_ev)
    # dedup (type, id, ts): own changes win (contributorUserId semantics),
    # then the newest changeset, then the member with the largest id
    # chain (so simultaneous member edits attribute deterministically);
    # the first row of each timestamp in this (type, id) order, so the
    # squash window after it reuses the same exchange
    w = Window.partitionBy(*OWNER).orderBy(
        "event_ts", F.col("own_change").desc(), F.col("event_changeset").desc(),
        F.col("event_src").desc(),
    )
    return _first_per_ts(all_ev, w, "event_ts").drop("event_src")


def _first_per_ts(df: DataFrame, w, ts_col: str) -> DataFrame:
    """The first row of each ``ts_col`` value in window order ``w``."""
    prev = F.lag(ts_col).over(w)
    return (
        df.withColumn("__prev_ts", prev)
        .filter(F.col("__prev_ts").isNull() | (F.col("__prev_ts") != F.col(ts_col)))
        .drop("__prev_ts")
    )


def squash_changesets(events: DataFrame) -> DataFrame:
    """Collapse consecutive same-changeset events to the run's last event
    (OSHEntityTimeUtils.java:144-160)."""
    w = Window.partitionBy(*OWNER).orderBy("event_ts")
    nxt = F.lead("event_changeset").over(w)
    return events.withColumn("__next_cs", nxt).filter(
        F.col("__next_cs").isNull() | (F.col("event_changeset") != F.col("__next_cs"))
    ).drop("__next_cs")


# ---------------------------------------------------------------------------
# state resolution at event timestamps
# ---------------------------------------------------------------------------


def _node_states_direct(nodes: DataFrame, squash: bool = True) -> DataFrame:
    """Node states WITHOUT the as-of self-join.

    A node's modification events are exactly its own version rows
    (nodes have no members — OSHEntityTimeUtils.getModificationTimestamps
    recursion bottoms out at nodes), so resolving "the version valid at
    each event timestamp" is the identity.  We only need the same-timestamp
    dedup (attribution keeps the max-changeset event, the state keeps the
    max-version row — mirroring modification_events + asof_resolve tie
    breaks) and the changeset squash: windows over one ``(type, id)``
    exchange.
    """
    peers = Window.partitionBy(*OWNER).orderBy("ts").rangeBetween(0, 0)
    d = _first_per_ts(
        nodes.withColumn("event_changeset", F.max("changeset").over(peers))
        .withColumn("event_uid", F.max_by("uid", "changeset").over(peers)),
        Window.partitionBy(*OWNER).orderBy("ts", F.col("version").desc()),
        "ts",
    )
    ev = d.select(
        "type",
        "id",
        F.col("ts").alias("event_ts"),
        "event_changeset",
        "event_uid",
        F.lit(True).alias("own_change"),
        "doc_id",
        "version",
        "visible",
        "tags",
        "lon",
        "lat",
    )
    if squash:
        ev = squash_changesets(ev)
    lon_deg = F.col("lon").cast("double") / 1e7
    lat_deg = F.col("lat").cast("double") / 1e7
    return ev.select(
        *STATE_COLS, "tags",
        node_geometry_cols(F.col("lon"), F.col("lat"), F.col("visible")).alias(
            "wkt"
        ),
        F.lit(None).cast("binary").alias("geom"),
        F.lit(0.0).alias("area"),
        F.lit(0.0).alias("length"),
        F.when(F.col("visible"), lon_deg).alias("minx"),
        F.when(F.col("visible"), lat_deg).alias("miny"),
        F.when(F.col("visible"), lon_deg).alias("maxx"),
        F.when(F.col("visible"), lat_deg).alias("maxy"),
    )


def _states(df: DataFrame, tags) -> DataFrame:
    """The common state columns around a geometry struct ``g``."""
    return df.select(
        *STATE_COLS, tags.alias("tags"),
        F.lit(None).cast("string").alias("wkt"),
        *[F.col(f"g.{c}").alias(c) for c in GEOM_COLS],
    )


def _way_states(
    events: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    interpreter: TagInterpreter | None,
) -> DataFrame:
    st = asof_resolve(
        events.filter(F.col("type") == "way"),
        ways.select(*OWNER, "doc_id", "version", "visible", "ts", "tags", "refs"),
        "event_ts",
    )
    probes = st.select(
        *EVENT_COLS,
        F.col("v_doc_id").alias("doc_id"),
        F.col("v_version").alias("version"),
        F.col("v_visible").alias("visible"),
        F.col("v_tags").alias("tags"),
        F.col("v_refs").alias("refs"),
        F.posexplode_outer("v_refs").alias("ppos", "pref"),
    )
    grouped = _asof_nodes(probes, nodes, [*OWNER, "event_ts", "ppos"]).groupBy(
        *STATE_COLS
    ).agg(
        F.first("tags").alias("tags"), F.first("refs").alias("refs"), _probe_list()
    )
    wudf = way_geometry_udf(interpreter)
    out = grouped.withColumn(
        "g", wudf("visible", "tags", "refs", _node_line(F.col("pline")))
    )
    return _states(out, F.col("tags"))


def _relation_states(
    events: DataFrame,
    rels: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    interpreter: TagInterpreter | None,
    resolve_nested: bool = False,
    include_old_style: bool = False,
) -> DataFrame:
    """Relation state (geometry) as-of each modification event, in one
    probe pass.

    Each event's relation version is exploded into its members; a member
    way left-joins its version as of the event (null when it has none
    yet); one ``posexplode_outer`` emits the probe refs — the way
    version's refs, or the member node itself; one node as-of join
    (:func:`_asof_nodes`) resolves them; one group per member builds its
    line, one group per event its member list.  A member way or node
    missing or deleted at the event has a null line.

    ``resolve_nested``: additionally resolve RELATION members one level
    deep — the child relation's geometry is built (by this function) as
    of the parent's event timestamps and included in the member set
    (OSHDBGeometryBuilderInternal.java:305-358 recursion).  Like the
    reference, child-relation MODIFICATIONS do not generate parent
    events (member histories recurse into nodes/ways only,
    OSHEntityTimeUtils.java:106-192).

    ``include_old_style``: apply the old-style-multipolygon fix-up
    (holes-only geometry + outer-way tag substitution) to each event
    state, per the semantics documented for the flag
    (CellIterator.java:92-97,330-380); the outer way's tags are those of
    its version as of the event, taken from the same member-way join.
    NOTE a deliberate divergence: the reference's iterateByContribution
    THROWS UnsupportedOperationException for this flag ("not yet properly
    implemented", CellIterator.java:523-526); we complete the documented
    intent instead — the same per-state substitution its snapshot
    iterator applies, so before/after states classify consistently.
    """
    st = asof_resolve(
        events.filter(F.col("type") == "relation"),
        rels.select(*OWNER, "doc_id", "version", "visible", "ts", "tags", "members"),
        "event_ts",
    )
    mem = st.select(
        *EVENT_COLS,
        F.col("v_doc_id").alias("doc_id"),
        F.col("v_version").alias("version"),
        F.col("v_visible").alias("visible"),
        F.col("v_tags").alias("tags"),
        F.posexplode_outer("v_members").alias("pos", "m"),
    ).select(
        *STATE_COLS, "tags", "pos",
        F.col("m.type").alias("mtype"), F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
    )
    way_v = ways.select(
        F.col("id").alias("__w_id"), F.col("ts").alias("__w_ts"),
        F.col("version").alias("__w_version"),
        F.col("visible").alias("w_visible"), F.col("refs").alias("w_refs"),
        F.col("tags").alias("w_tags"),
    )
    mw = _newest(
        mem.join(
            way_v,
            (F.col("mtype") == "way") & (F.col("ref") == F.col("__w_id"))
            & (F.col("__w_ts") <= F.col("event_ts")),
            "left",
        ),
        ["ref", *OWNER, "event_ts", "pos"], "__w_ts", "__w_version",
    )
    is_way = (F.col("mtype") == "way") & F.coalesce(F.col("w_visible"), F.lit(False))
    probe_refs = F.when(is_way, F.col("w_refs")).when(
        F.col("mtype") == "node", F.array("ref")
    )
    probes = mw.select(
        *STATE_COLS, "tags", "pos", "mtype", "ref", "role", "w_visible",
        "w_tags", F.posexplode_outer(probe_refs).alias("ppos", "pref"),
    )
    member = _asof_nodes(
        probes, nodes, [*OWNER, "event_ts", "pos", "ppos"]
    ).groupBy(*STATE_COLS, "pos", "mtype", "ref", "role", "w_visible").agg(
        F.first("tags").alias("tags"), F.first("w_tags").alias("w_tags"),
        _probe_list(),
    )
    line = _node_line(F.col("pline"))
    member = member.withColumn(
        "line",
        F.when(is_way, line).when(
            (F.col("mtype") == "node") & (F.size(line) > 0), line
        ),
    )
    if resolve_nested:
        child_events = (
            mem.filter(F.col("mtype") == "relation")
            .select(F.lit("relation").alias("type"), F.col("ref").alias("id"),
                    "event_ts")
            .distinct()
            .select(
                *OWNER, "event_ts",
                F.lit(0).cast("long").alias("event_changeset"),
                F.lit(0).cast("int").alias("event_uid"),
                F.lit(False).alias("own_change"),
            )
        )
        child = _relation_states(child_events, rels, ways, nodes, interpreter)
        member = member.join(
            child.select(
                F.col("id").alias("__c_id"), F.col("event_ts").alias("__c_ts"),
                F.col("visible").alias("__c_visible"),
                F.col("geom").alias("__c_geom"),
            ),
            (F.col("mtype") == "relation") & (F.col("ref") == F.col("__c_id"))
            & (F.col("event_ts") == F.col("__c_ts")),
            "left",
        ).withColumn(
            "m_geom",
            F.when(F.coalesce(F.col("__c_visible"), F.lit(False)), F.col("__c_geom")),
        )
    else:
        member = member.withColumn("m_geom", F.lit(None).cast("binary"))
    outer_way = (F.col("mtype") == "way") & (F.col("role") == "outer")
    grouped = member.groupBy(*STATE_COLS).agg(
        F.first("tags").alias("tags"),
        F.array_sort(
            F.collect_list(F.struct("pos", "role", "mtype", "line", "m_geom"))
        ).alias("pmembers"),
        # the first outer way and its tags as of the event (old-style fix-up)
        F.min_by("ref", F.when(outer_way, F.col("pos"))).alias("__outer_ref"),
        F.min_by("w_tags", F.when(outer_way, F.col("pos"))).alias("__outer_tags"),
    )
    members = F.transform(
        F.col("pmembers"),
        lambda p: F.struct(
            p["role"].alias("role"),
            p["mtype"].alias("mtype"),
            p["line"].alias("line"),
            p["m_geom"].alias("m_geom"),
        ),
    )
    out = grouped.withColumn(
        "g", relation_geometry_udf(interpreter)("visible", "tags", members)
    )
    # bbox columns ride along for JVM-side AOI classification downstream;
    # for old-style fix-ups the PRE-substitution bbox is kept — holes are a
    # subset of the original extent, so inside/outside classification stays
    # conservative and border rows still get the exact Python check
    if not include_old_style:
        return _states(out, F.col("tags"))
    mm = F.transform(
        F.filter(F.col("pmembers"), lambda p: p["pos"].isNotNull()),
        lambda p: F.struct(p["mtype"].alias("mtype"), p["role"].alias("role")),
    )
    # no fix-up while the outer way exists only after the event (an outer
    # way with no version at all still gets it)
    born = ways.groupBy(F.col("id").alias("__outer_ref")).agg(
        F.min("ts").alias("__outer_born")
    )
    is_old = F.col("__old")
    out = out.join(born, "__outer_ref", "left").withColumn(
        "__old",
        old_style_flag_udf(interpreter)("tags", mm)
        & ~F.coalesce(F.col("__outer_born") > F.col("event_ts"), F.lit(False)),
    ).withColumn("__h", holes_only_udf()(F.when(is_old, F.col("g.geom"))))
    g = F.struct(*[
        (F.when(is_old, F.col(f"__h.{c}")).otherwise(F.col(f"g.{c}"))
         if c in ("geom", "area", "length") else F.col(f"g.{c}")).alias(c)
        for c in GEOM_COLS
    ])
    tags = F.when(is_old, F.coalesce(F.col("__outer_tags"), F.col("tags"))).otherwise(
        F.col("tags")
    )
    return _states(out.withColumn("g", g), tags)


# ---------------------------------------------------------------------------
# classification
# ---------------------------------------------------------------------------


def classify_contributions(
    branches: dict[str, DataFrame],
    match_col: F.Column | None = None,
    bbox_deg: tuple[float, float, float, float] | None = None,
    polygon: dict | None = None,
) -> DataFrame:
    """lag() window + when/otherwise classification (CellIterator.java:586-726).

    ``match_col`` implements FILTERED contributions (CellIterator.java:642-659):
    the OSM filter participates in aliveness, so an entity version that stops
    matching yields a DELETION and one that starts matching yields a CREATION —
    keeping sum(creations) - sum(deletions) consistent with the snapshot view
    (views.md "Contribution View").

    ``bbox_deg``/``polygon``: the area of interest, as in
    ``snapshot_view``.  Each state is clipped once (``geometry_ops.aoi_clip``) and
    that one clip serves three uses: the AOI participates in aliveness
    (the clip is non-empty — a geometry moving out of the AOI is a
    DELETION, moving in a CREATION, CellIterator.java:665-679);
    GEOMETRY_CHANGE compares the CLIPPED geometries, as the reference's
    activity lambda tests ``!prevGeometry.equals(geom)`` on
    constructClippedGeometry's output (CellIterator.java:685-697), so a
    member moving entirely outside the AOI yields a contribution row with
    EMPTY activities; and the row's ``clipped_wkt`` output column.

    ``branches``: each entity kind's event states, keyed by kind; their
    union is classified.  The clip is planned per branch, before the
    union: node rows carry no packed geometry, so with no ``polygon`` the
    node branch's clip is Column expressions only (nodes are never border
    rows), and a view without ``way`` and ``relation`` plans no Python
    UDF, as in ``snapshot_view``.
    """
    packed = bool(set(branches) & {"way", "relation"})
    aoi = bbox_deg is not None or polygon is not None
    states = None
    for kind, df in branches.items():
        if aoi:
            df = df.withColumn(
                "__clip", aoi_clip(bbox_deg, polygon, packed=kind != "node")
            )
        states = df if states is None else states.unionByName(df)
    w = Window.partitionBy(*OWNER).orderBy("event_ts")
    effective = F.col("visible") & ~is_empty_geom_cols(
        F.col("geom"), F.col("wkt")
    )
    if match_col is not None:
        effective = effective & F.coalesce(match_col, F.lit(False))
    # gbin unifies the dual geometry representation for change detection:
    # packed bytes for ways/relations, the node WKT string cast to binary —
    # both JVM-side byte compares, no decode
    gbin = F.coalesce(F.col("geom"), F.col("wkt").cast("binary"))
    if aoi:
        clip = F.col("__clip")
        effective = effective & ~clip_is_empty(clip)
        gbin = F.coalesce(
            clip["clipped_geom"], clip["clipped_wkt"].cast("binary")
        )
    st = (
        states.withColumn("alive", effective)
        .withColumn("gbin", gbin)
        .withColumn("prev_alive", F.lag("alive").over(w))
        .withColumn("prev_gbin", F.lag("gbin").over(w))
        .withColumn("prev_geom", F.lag("geom").over(w))
        .withColumn("prev_wkt", F.lag("wkt").over(w))
        .withColumn("prev_tags", F.lag("tags").over(w))
        .withColumn("prev_version", F.lag("version").over(w))
        .withColumn("prev_changeset", F.lag("event_changeset").over(w))
        .withColumn("prev_uid", F.lag("event_uid").over(w))
    )
    prev_alive = F.coalesce(F.col("prev_alive"), F.lit(False))
    tag_change = ~_maps_equal(F.col("tags"), F.col("prev_tags"))
    geom_change = F.col("gbin") != F.col("prev_gbin")
    types = (
        F.when(~F.col("alive") & prev_alive, F.array(F.lit("DELETION")))
        .when(F.col("alive") & ~prev_alive, F.array(F.lit("CREATION")))
        .when(
            F.col("alive") & prev_alive,
            F.filter(
                F.array(
                    F.when(tag_change, F.lit("TAG_CHANGE")),
                    F.when(geom_change, F.lit("GEOMETRY_CHANGE")),
                ),
                lambda x: x.isNotNull(),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    out = st.withColumn("contrib_types", types)
    # dead->dead "events" are not contributions (CellIterator: prev==null &&
    # invisible -> skip)
    out = out.filter(F.col("alive") | prev_alive)
    # output boundary: packed -> WKT exactly once, only for rows that
    # survived classification (nodes keep their JVM-built strings; a node
    # the polygon clipper saw comes back packed)
    wudf_wkt = to_wkt_udf() if packed or polygon is not None else None

    def wkt_of(wkt_col: str, geom_col: str):
        if not packed:
            return F.col(wkt_col)
        return F.coalesce(F.col(wkt_col), wudf_wkt(F.col(geom_col)))

    out = out.select(
        "doc_id", "type", "id", "version", "visible", "tags",
        F.col("event_ts").alias("ts"),
        F.col("event_changeset").alias("changeset"),
        F.col("event_uid").alias("contrib_uid"),
        "own_change", "contrib_types",
        wkt_of("wkt", "geom").alias("wkt"),
        # packed geometry rides along (null for nodes) so downstream AOI
        # clip stages decode bytes instead of re-parsing WKT
        "geom",
        "area", "length",
        wkt_of("prev_wkt", "prev_geom").alias("prev_wkt"),
        "prev_tags", "prev_version",
        # geometry bbox (null for empty): lets consumers classify against
        # an AOI JVM-side and invoke Python clip UDFs on border rows only
        "minx", "miny", "maxx", "maxy",
        *(["__clip"] if aoi else []),
    )
    if not aoi:
        return out
    # the row's own clip, rendered against the output wkt
    return out.withColumn(
        "clipped_wkt", clipped_wkt_col(F.col("__clip"), wudf_wkt)
    ).drop("__clip")


def _maps_equal(a, b):
    """Order-insensitive map<int,int> equality (maps aren't comparable in
    Spark; canonicalize to sorted entry lists)."""
    return _canon_map(a) == _canon_map(b)


def _canon_map(m):
    entries = F.map_entries(F.coalesce(m, F.create_map().cast("map<int,int>")))
    sorted_entries = F.array_sort(entries)
    return F.to_json(sorted_entries)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def contribution_states(
    entities: DataFrame,
    interpreter: TagInterpreter | None = None,
    squash: bool = True,
    types: set[str] | None = None,
    include_old_style_multipolygons: bool = False,
    nested_relations: bool | None = None,
) -> dict[str, DataFrame]:
    """Each entity kind's event states, keyed by kind: the AOI- and
    interval-independent half of :func:`contribution_view` (events,
    squash, as-of states and geometry), which :func:`contributions_of`
    turns into contributions.  An ``OSHDB`` handle builds these frames
    once per key, ``persist()``s them and reuses them on every later
    query, which then scans them (``InMemoryTableScan``) instead of
    re-running this cascade; the frames returned here are not persisted,
    so :func:`contribution_view` recomputes them on each call (unless a
    handle over the same entities holds them cached: Spark's cache
    manager then reads its copy).

    ``types`` restricts the entity kinds to build (the reference's DNF
    type-narrowing, MapReducer.java:1910-1935); when None all three kinds
    are assumed — pass the narrowed set explicitly to skip the way/relation
    member-resolution machinery (an extra full-table type-discovery scan
    here would cost more than it saves at scale).

    ``nested_relations``: whether any relation in ``entities`` (or in a
    superset of it) has a relation member; None probes the relation
    subset (one eager job, only when ``relation`` is in ``types``).
    ``OSHDB`` handles probe their full table once and pass the answer.
    """
    if types is None:
        types = {"node", "way", "relation"}
    nodes = entities.filter(F.col("type") == "node")

    branches: dict[str, DataFrame] = {}
    if "node" in types:
        branches["node"] = _node_states_direct(nodes, squash=squash)
    if "way" in types or "relation" in types:
        ways = entities.filter(F.col("type") == "way")
        rels = entities.filter(F.col("type") == "relation")
        events = modification_events(entities).filter(F.col("type") != "node")
        if squash:
            events = squash_changesets(events)
        if "way" in types:
            branches["way"] = _way_states(events, ways, nodes, interpreter)
        if "relation" in types:
            # super-relations trigger one level of nested member resolution
            branches["relation"] = _relation_states(
                events, rels, ways, nodes, interpreter,
                resolve_nested=(
                    has_nested_relations(rels)
                    if nested_relations is None else nested_relations
                ),
                include_old_style=include_old_style_multipolygons,
            )
    return branches


def contributions_of(
    branches: dict[str, DataFrame],
    t_start: int,
    t_end: int,
    osm_filter: F.Column | None = None,
    attach_metrics: bool = False,
    bbox_deg: tuple[float, float, float, float] | None = None,
    polygon: dict | None = None,
) -> DataFrame:
    """The per-query half of :func:`contribution_view`: the contributions
    in [t_start, t_end) classified from ``contribution_states`` branches,
    under ``osm_filter`` and the area of interest."""
    if attach_metrics:
        # derived geometry metric columns on EVERY event state, so an
        # osm_filter referencing vertices/outers/inners/roundness/
        # squareness participates in aliveness uniformly on before/after
        # states (FilterExpression.java:98-113 applyOSMGeometry on both
        # sides of a contribution) — one Arrow pass, only when a compiled
        # filter actually references a metric
        from oshdb_spark.operators.geometry_ops import geometry_metrics_udf

        m = geometry_metrics_udf()(F.col("geom"), F.col("wkt"))
        for c in ("g_vertices", "g_outers", "g_inners", "g_roundness",
                  "g_squareness"):
            branches = {k: df.withColumn(c, m[c]) for k, df in branches.items()}
    classified = classify_contributions(
        branches, match_col=osm_filter, bbox_deg=bbox_deg, polygon=polygon,
    )
    # half-open [t_start, t_end): OSHDBTimestampInterval.includes is
    # from <= t < to, so a contribution at exactly t_end is excluded
    return classified.filter(
        (F.col("ts") >= F.lit(int(t_start))) & (F.col("ts") < F.lit(int(t_end)))
    )


def contribution_view(
    entities: DataFrame,
    t_start: int,
    t_end: int,
    interpreter: TagInterpreter | None = None,
    squash: bool = True,
    types: set[str] | None = None,
    osm_filter: F.Column | None = None,
    include_old_style_multipolygons: bool = False,
    attach_metrics: bool = False,
    bbox_deg: tuple[float, float, float, float] | None = None,
    polygon: dict | None = None,
    nested_relations: bool | None = None,
) -> DataFrame:
    """The full contribution view over [t_start, t_end]:
    :func:`contribution_states` then :func:`contributions_of`.

    Events outside the interval still feed the lag state (an entity created
    before the interval and deleted inside it yields a DELETION) but are not
    emitted (CellIterator.java:602-618).

    ``include_old_style_multipolygons``: the reference's contribution
    iterator throws UnsupportedOperationException for this flag
    (CellIterator.java:523-526); we implement the documented snapshot-side
    semantics (:92-97, :330-380) uniformly — see _relation_states.

    ``types`` and ``nested_relations``: see :func:`contribution_states`.

    ``bbox_deg``/``polygon``: the area of interest, the same pair
    ``snapshot_view`` takes.  It participates in aliveness and change
    detection (see ``classify_contributions``) and adds ``clipped_wkt``,
    each row's geometry clipped to the AOI.
    """
    branches = contribution_states(
        entities, interpreter, squash=squash, types=types,
        include_old_style_multipolygons=include_old_style_multipolygons,
        nested_relations=nested_relations,
    )
    return contributions_of(
        branches, t_start, t_end, osm_filter=osm_filter,
        attach_metrics=attach_metrics, bbox_deg=bbox_deg, polygon=polygon,
    )
