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

All heavy steps are DataFrame ops: as-of resolution is an equi-join +
window dedup; classification is lag() + when/otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oshdb_spark.geometry.taginterpreter import TagInterpreter
from oshdb_spark.operators.geometry_ops import (
    aoi_clip,
    clip_is_empty,
    clipped_wkt_col,
    is_empty_geom_cols,
    node_geometry_cols,
    relation_geometry_udf,
    to_wkt_udf,
    way_geometry_udf,
)
from oshdb_spark.operators.snapshot import has_nested_relations, with_validity

CONTRIB_TYPES = ["CREATION", "DELETION", "TAG_CHANGE", "GEOMETRY_CHANGE"]


# ---------------------------------------------------------------------------
# as-of resolution helper
# ---------------------------------------------------------------------------


def asof_resolve(
    targets: DataFrame,
    versions: DataFrame,
    key: str,
    ts_col: str,
    version_key: str = "id",
) -> DataFrame:
    """For each (targets.key, targets.ts) pick the newest version row with
    version.ts <= ts (OSHEntities.getByTimestamp, osh/OSHEntities.java:60-75).

    Equi-join on the key + window row_number dedup — the standard Spark
    as-of join shape (one shuffle on the key each side).
    Version columns are prefixed with `v_`.
    """
    v = versions.select(
        F.col(version_key).alias(key),
        *[
            F.col(c).alias(f"v_{c}")
            for c in versions.columns
            if c != version_key
        ],
    )
    joined = targets.join(v, key, "left").filter(
        F.col("v_ts").isNull() | (F.col("v_ts") <= F.col(ts_col))
    )
    w = Window.partitionBy(*targets.columns).orderBy(
        F.col("v_ts").desc_nulls_last(), F.col("v_version").desc_nulls_last()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
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
    )


def _member_events_for_ways(ways: DataFrame, node_events: DataFrame) -> DataFrame:
    """Node modification events mapped into the validity window of each way
    version that references the node (collectMembershipTimeIntervals)."""
    intervals = (
        with_validity(ways)
        .select(
            "id", F.col("ts").alias("w_start"), "next_ts",
            F.explode("refs").alias("ref"),
        )
        .distinct()
    )
    ne = node_events.select(
        F.col("id").alias("ref"),
        F.col("event_ts"),
        F.col("event_changeset"),
        F.col("event_uid"),
    )
    ev = intervals.join(ne, "ref", "inner").filter(
        (F.col("event_ts") > F.col("w_start"))
        & (F.col("next_ts").isNull() | (F.col("event_ts") < F.col("next_ts")))
    )
    return ev.select(
        F.lit("way").alias("type"),
        "id",
        "event_ts",
        "event_changeset",
        "event_uid",
        F.lit(False).alias("own_change"),
    )


def _member_events_for_relations(
    rels: DataFrame, way_events: DataFrame, node_events: DataFrame
) -> DataFrame:
    intervals = (
        with_validity(rels)
        .select(
            "id", F.col("ts").alias("r_start"), "next_ts",
            F.explode("members").alias("m"),
        )
        .select(
            "id", "r_start", "next_ts",
            F.col("m.type").alias("mtype"), F.col("m.ref").alias("ref"),
        )
        .distinct()
    )
    child = way_events.select(
        F.lit("way").alias("mtype"), F.col("id").alias("ref"),
        "event_ts", "event_changeset", "event_uid",
    ).unionByName(
        node_events.select(
            F.lit("node").alias("mtype"), F.col("id").alias("ref"),
            "event_ts", "event_changeset", "event_uid",
        )
    )
    ev = intervals.join(child, ["mtype", "ref"], "inner").filter(
        (F.col("event_ts") > F.col("r_start"))
        & (F.col("next_ts").isNull() | (F.col("event_ts") < F.col("next_ts")))
    )
    return ev.select(
        F.lit("relation").alias("type"),
        "id",
        "event_ts",
        "event_changeset",
        "event_uid",
        F.lit(False).alias("own_change"),
    )


def modification_events(entities: DataFrame) -> DataFrame:
    """All (type, id, event_ts) modification events with changeset/uid
    attribution and the own-vs-member flag; deduped so an own change at the
    same timestamp as a member change counts as the own change."""
    nodes = entities.filter(F.col("type") == "node")
    ways = entities.filter(F.col("type") == "way")
    rels = entities.filter(F.col("type") == "relation")

    node_ev = _own_events(nodes)
    way_ev = _own_events(ways).unionByName(_member_events_for_ways(ways, node_ev))
    rel_ev = _own_events(rels).unionByName(
        _member_events_for_relations(rels, way_ev, node_ev)
    )
    all_ev = node_ev.unionByName(way_ev).unionByName(rel_ev)
    # dedup (type,id,ts): own changes win (contributorUserId semantics)
    w = Window.partitionBy("type", "id", "event_ts").orderBy(
        F.col("own_change").desc(), F.col("event_changeset").desc()
    )
    return (
        all_ev.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def squash_changesets(events: DataFrame) -> DataFrame:
    """Collapse consecutive same-changeset events to the run's last event
    (OSHEntityTimeUtils.java:144-160)."""
    w = Window.partitionBy("type", "id").orderBy("event_ts")
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
    breaks) and the changeset squash, both single-window passes.
    """
    w_ts = Window.partitionBy("id", "ts")
    d = (
        nodes.withColumn(
            "__rn",
            F.row_number().over(w_ts.orderBy(F.col("version").desc())),
        )
        .withColumn("event_changeset", F.max("changeset").over(w_ts))
        .withColumn(
            "event_uid", F.max_by(F.col("uid"), F.col("changeset")).over(w_ts)
        )
        .filter("__rn = 1")
        .drop("__rn")
    )
    ev = d.select(
        F.lit("node").alias("type"),
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
        "type", "id", "event_ts", "event_changeset", "event_uid", "own_change",
        "doc_id", "version", "visible", "tags",
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


def _way_states(
    events: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    interpreter: TagInterpreter | None,
) -> DataFrame:
    ev = events.filter(F.col("type") == "way").drop("type")
    st = asof_resolve(
        ev,
        ways.select("id", "doc_id", "version", "visible", "ts", "tags", "refs"),
        "id",
        "event_ts",
    )
    refs = st.select(
        "id", "event_ts", "event_changeset", "event_uid", "own_change",
        F.col("v_doc_id").alias("doc_id"),
        F.col("v_version").alias("version"),
        F.col("v_visible").alias("visible"),
        F.col("v_tags").alias("tags"),
        F.col("v_refs").alias("refs"),
        F.posexplode_outer("v_refs").alias("pos", "ref"),
    )
    node_v = nodes.select(
        F.col("id").alias("ref"), F.col("ts").alias("n_ts"),
        F.col("version").alias("n_version"), F.col("visible").alias("n_visible"),
        (F.col("lon").cast("double") / 1e7).alias("n_lon"),
        (F.col("lat").cast("double") / 1e7).alias("n_lat"),
    )
    j = refs.join(node_v, "ref", "left").filter(
        F.col("n_ts").isNull() | (F.col("n_ts") <= F.col("event_ts"))
    )
    wdedup = Window.partitionBy("id", "event_ts", "pos").orderBy(
        F.col("n_ts").desc_nulls_last(), F.col("n_version").desc_nulls_last()
    )
    j = j.withColumn("__rn", F.row_number().over(wdedup)).filter("__rn = 1")
    grouped = j.groupBy(
        "id", "event_ts", "event_changeset", "event_uid", "own_change",
        "doc_id", "version", "visible",
    ).agg(
        F.first("tags").alias("tags"),
        F.first("refs").alias("refs"),
        F.array_sort(
            F.collect_list(
                F.struct("pos", F.col("ref").alias("nid"), "n_visible", "n_lon", "n_lat")
            )
        ).alias("pline"),
    )
    line = F.transform(
        F.filter(
            F.col("pline"),
            lambda p: p["n_visible"].isNotNull() & p["n_visible"],
        ),
        lambda p: F.struct(
            p["nid"].alias("nid"), p["n_lon"].alias("lon"), p["n_lat"].alias("lat")
        ),
    )
    wudf = way_geometry_udf(interpreter)
    out = grouped.withColumn("line", line).withColumn(
        "g", wudf("visible", "tags", "refs", "line")
    )
    return out.select(
        F.lit("way").alias("type"), "id", "event_ts", "event_changeset",
        "event_uid", "own_change", "doc_id", "version", "visible", "tags",
        F.lit(None).cast("string").alias("wkt"),
        F.col("g.geom").alias("geom"),
        F.col("g.area").alias("area"),
        F.col("g.length").alias("length"),
        F.col("g.minx").alias("minx"),
        F.col("g.miny").alias("miny"),
        F.col("g.maxx").alias("maxx"),
        F.col("g.maxy").alias("maxy"),
    )


def _relation_states(
    events: DataFrame,
    rels: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    interpreter: TagInterpreter | None,
    resolve_nested: bool = False,
    include_old_style: bool = False,
) -> DataFrame:
    """Relation state (geometry) as-of each modification event.

    ``resolve_nested``: additionally resolve RELATION members one level
    deep — the child relation's geometry is built as-of the parent's
    event timestamps and included in the member set
    (OSHDBGeometryBuilderInternal.java:305-358 recursion).  Like the
    reference, child-relation MODIFICATIONS do not generate parent
    events (member histories recurse into nodes/ways only,
    OSHEntityTimeUtils.java:106-192).

    ``include_old_style``: apply the old-style-multipolygon fix-up
    (holes-only geometry + outer-way tag substitution) to each event
    state, per the semantics documented for the flag
    (CellIterator.java:92-97,330-380).  NOTE a deliberate divergence:
    the reference's iterateByContribution THROWS
    UnsupportedOperationException for this flag ("not yet properly
    implemented", CellIterator.java:523-526); we complete the documented
    intent instead — the same per-state substitution its snapshot
    iterator applies, so before/after states classify consistently.
    """
    ev = events.filter(F.col("type") == "relation").drop("type")
    st = asof_resolve(
        ev,
        rels.select("id", "doc_id", "version", "visible", "ts", "tags", "members"),
        "id",
        "event_ts",
    )
    mem = st.select(
        "id", "event_ts", "event_changeset", "event_uid", "own_change",
        F.col("v_doc_id").alias("doc_id"),
        F.col("v_version").alias("version"),
        F.col("v_visible").alias("visible"),
        F.col("v_tags").alias("tags"),
        F.posexplode_outer("v_members").alias("pos", "m"),
    ).select(
        "id", "event_ts", "event_changeset", "event_uid", "own_change",
        "doc_id", "version", "visible", "tags", "pos",
        F.col("m.type").alias("mtype"), F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
    )
    # resolve member WAY state as-of event_ts: way version + its node line
    way_targets = mem.filter(F.col("mtype") == "way").select(
        F.col("ref").alias("w_id"), F.col("event_ts")
    ).distinct()
    way_v = ways.select(
        F.col("id").alias("w_id"), F.col("ts").alias("w_ts"),
        F.col("version").alias("w_version"), F.col("visible").alias("w_visible"),
        F.col("refs").alias("w_refs"),
    )
    wj = way_targets.join(way_v, "w_id", "left").filter(
        F.col("w_ts").isNull() | (F.col("w_ts") <= F.col("event_ts"))
    )
    wd = Window.partitionBy("w_id", "event_ts").orderBy(
        F.col("w_ts").desc_nulls_last(), F.col("w_version").desc_nulls_last()
    )
    wj = wj.withColumn("__rn", F.row_number().over(wd)).filter("__rn = 1").drop("__rn")
    wrefs = wj.select(
        "w_id", "event_ts", "w_visible",
        F.posexplode_outer("w_refs").alias("pos", "ref"),
    )
    node_v = nodes.select(
        F.col("id").alias("ref"), F.col("ts").alias("n_ts"),
        F.col("version").alias("n_version"), F.col("visible").alias("n_visible"),
        (F.col("lon").cast("double") / 1e7).alias("n_lon"),
        (F.col("lat").cast("double") / 1e7).alias("n_lat"),
    )
    nj = wrefs.join(node_v, "ref", "left").filter(
        F.col("n_ts").isNull() | (F.col("n_ts") <= F.col("event_ts"))
    )
    nd = Window.partitionBy("w_id", "event_ts", "pos").orderBy(
        F.col("n_ts").desc_nulls_last(), F.col("n_version").desc_nulls_last()
    )
    nj = nj.withColumn("__rn", F.row_number().over(nd)).filter("__rn = 1")
    way_lines_at = nj.groupBy("w_id", "event_ts", "w_visible").agg(
        F.array_sort(
            F.collect_list(
                F.struct("pos", F.col("ref").alias("nid"), "n_visible", "n_lon", "n_lat")
            )
        ).alias("pline")
    ).withColumn(
        "w_line",
        F.transform(
            F.filter(
                F.col("pline"),
                lambda p: p["n_visible"].isNotNull() & p["n_visible"],
            ),
            lambda p: F.struct(
                p["nid"].alias("nid"), p["n_lon"].alias("lon"), p["n_lat"].alias("lat")
            ),
        ),
    ).drop("pline")

    # resolve member NODE state as-of event_ts
    node_targets = mem.filter(F.col("mtype") == "node").select(
        F.col("ref").alias("ref"), F.col("event_ts")
    ).distinct()
    nmj = node_targets.join(node_v, "ref", "left").filter(
        F.col("n_ts").isNull() | (F.col("n_ts") <= F.col("event_ts"))
    )
    nmd = Window.partitionBy("ref", "event_ts").orderBy(
        F.col("n_ts").desc_nulls_last(), F.col("n_version").desc_nulls_last()
    )
    nmj = (
        nmj.withColumn("__rn", F.row_number().over(nmd))
        .filter("__rn = 1")
        .select(
            "ref", "event_ts",
            F.col("n_visible").alias("nm_visible"),
            F.struct(
                F.col("ref").alias("nid"),
                F.col("n_lon").alias("lon"),
                F.col("n_lat").alias("lat"),
            ).alias("nm_point"),
        )
    )

    joined = (
        mem.join(
            way_lines_at.withColumnRenamed("w_id", "ref"),
            ["ref", "event_ts"],
            "left",
        )
        .join(nmj, ["ref", "event_ts"], "left")
        .withColumn(
            "line",
            F.when(
                (F.col("mtype") == "way")
                & F.col("w_visible").isNotNull()
                & F.col("w_visible"),
                F.col("w_line"),
            ).when(
                (F.col("mtype") == "node")
                & F.col("nm_visible").isNotNull()
                & F.col("nm_visible"),
                F.array(F.col("nm_point")),
            ),
        )
    )
    if resolve_nested:
        rel_targets = mem.filter(F.col("mtype") == "relation").select(
            F.col("ref").alias("id"), "event_ts"
        ).distinct()
        child_events = rel_targets.select(
            F.lit("relation").alias("type"),
            "id",
            "event_ts",
            F.lit(0).cast("long").alias("event_changeset"),
            F.lit(0).cast("int").alias("event_uid"),
            F.lit(False).alias("own_change"),
        )
        child = _relation_states(
            child_events, rels, ways, nodes, interpreter, resolve_nested=False
        )
        child_side = child.select(
            F.col("id").alias("ref"),
            "event_ts",
            F.col("visible").alias("r_visible"),
            F.col("geom").alias("r_geom"),
        )
        joined = joined.join(child_side, ["ref", "event_ts"], "left").withColumn(
            "m_geom",
            F.when(
                (F.col("mtype") == "relation")
                & F.col("r_visible").isNotNull()
                & F.col("r_visible"),
                F.col("r_geom"),
            ),
        )
    else:
        joined = joined.withColumn("m_geom", F.lit(None).cast("binary"))
    grouped = joined.groupBy(
        "id", "event_ts", "event_changeset", "event_uid", "own_change",
        "doc_id", "version", "visible",
    ).agg(
        F.first("tags").alias("tags"),
        F.array_sort(
            F.collect_list(F.struct("pos", "role", "mtype", "line", "m_geom"))
        ).alias("pmembers"),
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
    rudf = relation_geometry_udf(interpreter)
    out = grouped.withColumn("members", members).withColumn(
        "g", rudf("visible", "tags", "members")
    )
    # bbox columns ride along for JVM-side AOI classification downstream;
    # for old-style fix-ups the PRE-substitution bbox is kept — holes are a
    # subset of the original extent, so inside/outside classification stays
    # conservative and border rows still get the exact Python check
    result = out.select(
        F.lit("relation").alias("type"), "id", "event_ts", "event_changeset",
        "event_uid", "own_change", "doc_id", "version", "visible", "tags",
        F.lit(None).cast("string").alias("wkt"),
        F.col("g.geom").alias("geom"),
        F.col("g.area").alias("area"),
        F.col("g.length").alias("length"),
        F.col("g.minx").alias("minx"),
        F.col("g.miny").alias("miny"),
        F.col("g.maxx").alias("maxx"),
        F.col("g.maxy").alias("maxy"),
    )
    if not include_old_style:
        return result

    # old-style multipolygon fix-up per event state (see docstring): flag
    # computed on the as-of relation version, outer way's tags resolved
    # as-of the same event — both restricted to the (tiny) flagged subset
    from oshdb_spark.operators.geometry_ops import (
        holes_only_udf,
        old_style_flag_udf,
    )

    flag = old_style_flag_udf(interpreter)
    mm = F.transform(
        F.col("v_members"),
        lambda m: F.struct(m["type"].alias("mtype"), m["role"].alias("role")),
    )
    outer_ref = F.filter(
        F.col("v_members"),
        lambda m: (m["type"] == F.lit("way")) & (m["role"] == F.lit("outer")),
    )[0]["ref"]
    flagged = (
        st.withColumn("__old", flag("v_tags", mm))
        .filter("__old")
        .select("id", "event_ts", outer_ref.alias("__outer_ref"))
    )
    way_tags = ways.select(
        F.col("id").alias("__outer_ref"),
        F.col("ts").alias("__w_ts"),
        F.col("version").alias("__w_version"),
        F.col("tags").alias("__way_tags"),
    )
    fj = flagged.join(way_tags, "__outer_ref", "left").filter(
        F.col("__w_ts").isNull() | (F.col("__w_ts") <= F.col("event_ts"))
    )
    wdw = Window.partitionBy("id", "event_ts").orderBy(
        F.col("__w_ts").desc_nulls_last(), F.col("__w_version").desc_nulls_last()
    )
    fj = (
        fj.withColumn("__rn", F.row_number().over(wdw))
        .filter("__rn = 1")
        .select("id", "event_ts", F.lit(True).alias("__old"), "__way_tags")
    )
    hu = holes_only_udf()
    is_old = F.col("__old").isNotNull()
    return (
        result.join(fj, ["id", "event_ts"], "left")
        .withColumn("__h", F.when(is_old, hu(F.col("geom"))))
        .withColumn(
            "geom", F.when(is_old, F.col("__h.geom")).otherwise(F.col("geom"))
        )
        .withColumn(
            "area", F.when(is_old, F.col("__h.area")).otherwise(F.col("area"))
        )
        .withColumn(
            "length",
            F.when(is_old, F.col("__h.length")).otherwise(F.col("length")),
        )
        .withColumn(
            "tags",
            F.when(is_old, F.coalesce(F.col("__way_tags"), F.col("tags")))
            .otherwise(F.col("tags")),
        )
        .drop("__h", "__old", "__way_tags")
    )


# ---------------------------------------------------------------------------
# classification
# ---------------------------------------------------------------------------


def classify_contributions(
    states: DataFrame,
    match_col: F.Column | None = None,
    bbox_deg: tuple[float, float, float, float] | None = None,
    polygon: dict | None = None,
    types: set[str] | frozenset[str] | None = None,
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

    ``types``: the entity kinds ``states`` holds (None: all three).
    Without ``way`` and ``relation`` no row carries packed geometry, so
    with no ``polygon`` the bbox clip and the WKT renders are Column
    expressions only (nodes are never border rows) and no Python UDF is
    planned, as in ``snapshot_view``.
    """
    packed = types is None or bool(set(types) & {"way", "relation"})
    w = Window.partitionBy("type", "id").orderBy("event_ts")
    effective = F.col("visible") & ~is_empty_geom_cols(
        F.col("geom"), F.col("wkt")
    )
    if match_col is not None:
        effective = effective & F.coalesce(match_col, F.lit(False))
    # gbin unifies the dual geometry representation for change detection:
    # packed bytes for ways/relations, the node WKT string cast to binary —
    # both JVM-side byte compares, no decode
    gbin = F.coalesce(F.col("geom"), F.col("wkt").cast("binary"))
    aoi = bbox_deg is not None or polygon is not None
    if aoi:
        states = states.withColumn(
            "__clip", aoi_clip(bbox_deg, polygon, packed=packed)
        )
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
    """The full contribution view over [t_start, t_end].

    Events outside the interval still feed the lag state (an entity created
    before the interval and deleted inside it yields a DELETION) but are not
    emitted (CellIterator.java:602-618).

    ``include_old_style_multipolygons``: the reference's contribution
    iterator throws UnsupportedOperationException for this flag
    (CellIterator.java:523-526); we implement the documented snapshot-side
    semantics (:92-97, :330-380) uniformly — see _relation_states.

    ``types`` restricts the entity kinds to build (the reference's DNF
    type-narrowing, MapReducer.java:1910-1935); when None all three kinds
    are assumed — pass the narrowed set explicitly to skip the way/relation
    member-resolution machinery (an extra full-table type-discovery scan
    here would cost more than it saves at scale).

    ``bbox_deg``/``polygon``: the area of interest, the same pair
    ``snapshot_view`` takes.  It participates in aliveness and change
    detection (see ``classify_contributions``) and adds ``clipped_wkt``,
    each row's geometry clipped to the AOI.

    ``nested_relations``: whether any relation in ``entities`` (or in a
    superset of it) has a relation member; None probes the relation
    subset (one eager job, only when ``relation`` is in ``types``).
    ``OSHDB`` handles probe their full table once and pass the answer.
    """
    if types is None:
        types = {"node", "way", "relation"}
    nodes = entities.filter(F.col("type") == "node")

    states: DataFrame | None = None
    if "node" in types:
        states = _node_states_direct(nodes, squash=squash)
    if "way" in types or "relation" in types:
        ways = entities.filter(F.col("type") == "way")
        rels = entities.filter(F.col("type") == "relation")
        events = modification_events(entities).filter(F.col("type") != "node")
        if squash:
            events = squash_changesets(events)
        if "way" in types:
            ws = _way_states(events, ways, nodes, interpreter)
            states = ws if states is None else states.unionByName(ws)
        if "relation" in types:
            # super-relations trigger one level of nested member resolution
            rs = _relation_states(
                events, rels, ways, nodes, interpreter,
                resolve_nested=(
                    has_nested_relations(rels)
                    if nested_relations is None else nested_relations
                ),
                include_old_style=include_old_style_multipolygons,
            )
            states = rs if states is None else states.unionByName(rs)
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
            states = states.withColumn(c, m[c])
    classified = classify_contributions(
        states, match_col=osm_filter, bbox_deg=bbox_deg, polygon=polygon,
        types=types,
    )
    # half-open [t_start, t_end): OSHDBTimestampInterval.includes is
    # from <= t < to, so a contribution at exactly t_end is excluded
    return classified.filter(
        (F.col("ts") >= F.lit(int(t_start))) & (F.col("ts") < F.lit(int(t_end)))
    )
