"""Snapshot view: entity state "as of" each query timestamp.

Reproduces CellIterator.iterateByTimestamps
(/root/reference/oshdb-util/src/main/java/org/heigit/ohsome/oshdb/util/celliterator/CellIterator.java:240-415)
as a DataFrame pipeline:

  reference step                              Spark equivalent
  ------------------------------------------  -------------------------------
  resolve version valid at each timestamp     validity intervals via
  (getVersionsByTimestamps, :755-769)         lead(ts) window + explode of the
                                              (small, literal) timestamp list
                                              filtered to [ts, next_ts) —
                                              ONE shuffle, no join
  member resolution at timestamp t            equi-join node/way snapshots on
  (OSMWay.getMemberEntities)                  (ref, snap_ts)
  geometry built once per modification,       geometry built per (entity,
  re-emitted for unchanged timestamps         snap_ts) where the join already
  (:280-303, :388-399)                        fans versions out; unchanged
                                              states share identical inputs
  skip invisible versions (:319-322)          filter(visible)
  skip zero-member ways/relations (:323-328)  empty geometry filter
  lastModificationTimestamp (:288-302)        greatest(own ts, member ts)
  clipped geometry (:417-459)                 geometry_ops.aoi_clip
  emit iff fullyInside or !geom.isEmpty()     filter on clipped emptiness

The timestamp list is driver-side and small (like the reference's
OSHDBTimestamps); everything else is distributed.

Type narrowing: ``snapshot_view(..., types=T)`` takes the entity-kind set
a query's filter can reach (the reference narrows each query to the grid
tables of its DNF type set, MapReducer.java:1910-1935) and plans only
those branches.  Way lines and the way geometry UDF are built when T holds
``way`` or ``relation`` (relations resolve way members); the relation
lines, the eager nested-relation probe, the nesting levels and the
old-style fix-up only when T holds ``relation``; a node-only view plans
no Python UDF at all.  So building a node or way snapshot starts no Spark
job.  The default (all kinds) keeps the full plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oshdb_spark.geometry.model import bounds
from oshdb_spark.geometry.taginterpreter import TagInterpreter
from oshdb_spark.operators.geometry_ops import (
    aoi_clip,
    bbox_overlaps,
    clip_is_empty,
    clipped_wkt_col,
    intersects_polygon_udf,
    is_empty_geom_cols,
    node_geometry_cols,
    relation_geometry_udf,
    to_wkt_udf,
    way_geometry_udf,
)
from oshdb_spark.session import local_frame

ENTITY_KEY = ["type", "id"]


def with_validity(entities: DataFrame) -> DataFrame:
    """+ next_ts: the timestamp when this version stops being current."""
    w = Window.partitionBy(*ENTITY_KEY).orderBy("ts", "version")
    return entities.withColumn("next_ts", F.lead("ts").over(w))


def explode_snapshots(entities: DataFrame, timestamps: list[int]) -> DataFrame:
    """One row per (entity version, snapshot timestamp it is valid at).

    Versions valid at none of the timestamps are dropped here — the engine
    does work only where the data changes, the columnar equivalent of the
    reference's modification-timestamp work-skipping.
    """
    ts_arr = F.array(*[F.lit(int(t)).cast("long") for t in sorted(timestamps)])
    valid = with_validity(entities).withColumn(
        "snap_ts",
        F.explode(
            F.filter(
                ts_arr,
                lambda t: (t >= F.col("ts"))
                & (F.col("next_ts").isNull() | (t < F.col("next_ts"))),
            )
        ),
    )
    return valid.drop("next_ts")


def node_snapshots(entities: DataFrame, timestamps: list[int]) -> DataFrame:
    nodes = entities.filter(F.col("type") == "node")
    snaps = explode_snapshots(nodes, timestamps)
    return snaps.select(
        "doc_id",
        "type",
        "id",
        "version",
        "visible",
        "tags",
        "changeset",
        "uid",
        "snap_ts",
        "lon",
        "lat",
        F.col("ts").alias("last_mod_ts"),
        node_geometry_cols(F.col("lon"), F.col("lat"), F.col("visible")).alias("wkt"),
    )


def _node_lookup(node_snaps: DataFrame) -> DataFrame:
    """Minimal projection for member-resolution joins."""
    return node_snaps.select(
        F.col("id").alias("ref"),
        "snap_ts",
        F.col("visible").alias("n_visible"),
        (F.col("lon").cast("double") / 1e7).alias("n_lon"),
        (F.col("lat").cast("double") / 1e7).alias("n_lat"),
        F.col("last_mod_ts").alias("n_ts"),
    )


def way_lines(
    entities: DataFrame, node_snaps: DataFrame, timestamps: list[int]
) -> DataFrame:
    """Way snapshots with the resolved node line at each snapshot timestamp.

    Output: way columns + line array<struct<nid,lon,lat>> (visible resolved
    nodes in ref order) + last_mod_ts (max of own and member node ts).
    """
    ways = entities.filter(F.col("type") == "way")
    snaps = explode_snapshots(ways, timestamps)
    refs = snaps.select(
        "doc_id", "type", "id", "version", "visible", "tags", "changeset",
        "uid", "snap_ts", "refs", F.col("ts").alias("own_ts"),
        F.posexplode("refs").alias("pos", "ref"),
    )
    joined = refs.join(_node_lookup(node_snaps), ["ref", "snap_ts"], "left")
    # map-typed `tags` cannot be a grouping key; it is functionally dependent
    # on (type, id, version), so carry it with first()
    grouped = joined.groupBy(
        "doc_id", "type", "id", "version", "visible", "changeset",
        "uid", "snap_ts", "own_ts",
    ).agg(
        F.first("tags").alias("tags"),
        F.first("refs").alias("refs"),
        F.array_sort(
            F.collect_list(
                F.struct("pos", F.col("ref").alias("nid"), "n_visible", "n_lon", "n_lat")
            )
        ).alias("pline"),
        F.max("n_ts").alias("member_ts"),
    )
    # keep only resolved + visible nodes, in ref order (BuilderInternal:203-208)
    line = F.transform(
        F.filter(
            F.col("pline"),
            lambda p: p["n_visible"].isNotNull() & p["n_visible"],
        ),
        lambda p: F.struct(
            p["nid"].alias("nid"), p["n_lon"].alias("lon"), p["n_lat"].alias("lat")
        ),
    )
    return grouped.withColumn("line", line).withColumn(
        "last_mod_ts", F.greatest(F.col("own_ts"), F.col("member_ts"))
    ).drop("pline", "own_ts", "member_ts")


def has_nested_relations(rels: DataFrame) -> bool:
    """Whether any relation has a relation member: one eager probe job on
    the (small) relation subset."""
    return (
        rels.filter(
            F.exists("members", lambda m: m["type"] == F.lit("relation"))
        ).limit(1).count()
        > 0
    )


def _relation_nesting_levels(rels: DataFrame):
    """(levels_df, max_lvl): relation nesting level per id, levels >= 1 only.

    level(r) = 1 + max(level of r's relation-member children); relations
    without relation members are level 0 and omitted from the map.  The
    relation->relation edge set is tiny at any scale (~1e5 edges on planet
    OSM against 1e7 relations), so it is collected (capped) and layered
    driver-side with Kahn-style relaxation.  Members of a CYCLE — data the
    reference's unbounded recursion
    (OSHDBGeometryBuilderInternal.java:305-358) would never return from —
    all land on one final guard level: they build last, their in-cycle
    members resolving to whatever earlier levels produced (partial
    geometry instead of a crash).
    """
    edges = (
        rels.select(F.col("id").alias("pid"), F.explode("members").alias("m"))
        .filter(F.col("m.type") == "relation")
        .select("pid", F.col("m.ref").alias("cid"))
        .distinct()
    )
    cap = 2_000_000
    rows = edges.limit(cap + 1).collect()
    kids: dict[int, list[int]] = {}
    level: dict[int, int] = {}
    if len(rows) > cap:
        # degenerate corpus (more super-relation edges than planet OSM by
        # 20x): degrade to the safe single-pass behavior — every parent
        # builds after all leaf relations, one nesting level resolved
        for r in rows:
            level[int(r["pid"])] = 1
        max_lvl = 1
    else:
        for r in rows:
            kids.setdefault(int(r["pid"]), []).append(int(r["cid"]))
        pending = set(kids)
        for _ in range(64):  # depth guard (OSM practice: <= ~5)
            newly = []
            for pid in pending:
                lvls = [0]
                ok = True
                for c in kids[pid]:
                    if c in pending:  # child's own level not known yet
                        ok = False
                        break
                    lvls.append(level.get(c, 0))
                if ok:
                    level[pid] = 1 + max(lvls)
                    newly.append(pid)
            if not newly:
                break
            pending.difference_update(newly)
        max_lvl = max(level.values(), default=0)
        if pending:  # cycle members -> shared guard level
            max_lvl += 1
            for pid in pending:
                level[pid] = max_lvl
    spark = rels.sparkSession
    levels_df = local_frame(
        spark, [(int(i), int(lv)) for i, lv in level.items()], "id long, __lvl int"
    )
    return levels_df, max_lvl


def relation_lines(
    entities: DataFrame,
    way_lines_df: DataFrame,
    node_snaps: DataFrame,
    timestamps: list[int],
    rel_side: DataFrame | None = None,
) -> DataFrame:
    """Relation snapshots with each member way's resolved line.

    ``rel_side`` (optional): previously built relation snapshot geometries
    (id, snap_ts, visible, wkt, last_mod_ts) to resolve RELATION members
    against — one nesting level per pass, mirroring the reference's
    recursion into member entities
    (OSHDBGeometryBuilderInternal.java:305-358 calls getGeometry on each
    member, relations included).  Without it, relation members stay
    unresolved (skipped like missing members).
    """
    rels = entities.filter(F.col("type") == "relation")
    snaps = explode_snapshots(rels, timestamps)
    mem = snaps.select(
        "doc_id", "type", "id", "version", "visible", "tags", "changeset",
        "uid", "snap_ts", F.col("ts").alias("own_ts"),
        F.posexplode("members").alias("pos", "m"),
    ).select(
        "doc_id", "type", "id", "version", "visible", "tags", "changeset",
        "uid", "snap_ts", "own_ts", "pos",
        F.col("m.type").alias("mtype"),
        F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
    )
    way_side = way_lines_df.select(
        F.col("id").alias("ref"),
        "snap_ts",
        F.col("visible").alias("w_visible"),
        F.col("line").alias("w_line"),
        F.col("last_mod_ts").alias("w_ts"),
    )
    node_side = _node_lookup(node_snaps).select(
        "ref",
        "snap_ts",
        F.col("n_visible").alias("nm_visible"),
        F.struct(
            F.col("ref").alias("nid"),
            F.col("n_lon").alias("lon"),
            F.col("n_lat").alias("lat"),
        ).alias("nm_point"),
        F.col("n_ts").alias("nm_ts"),
    )
    joined = (
        mem.join(way_side, ["ref", "snap_ts"], "left")
        .join(node_side, ["ref", "snap_ts"], "left")
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
        .withColumn("m_ts", F.coalesce("w_ts", "nm_ts"))
    )
    if rel_side is not None:
        r_side = rel_side.select(
            F.col("id").alias("ref"),
            "snap_ts",
            F.col("geom").alias("r_geom"),
        )
        # r_geom resolves the member GEOMETRY only (packed bytes); the
        # child relation's timestamp is deliberately NOT folded into
        # member_ts — the reference's modification-timestamp recursion
        # covers only node/way members (OSHEntityTimeUtils), matching the
        # contribution-side rule.
        joined = joined.join(r_side, ["ref", "snap_ts"], "left").withColumn(
            "m_geom",
            F.when(F.col("mtype") == "relation", F.col("r_geom")),
        ).drop("r_geom")
    else:
        joined = joined.withColumn("m_geom", F.lit(None).cast("binary"))
    grouped = joined.groupBy(
        "doc_id", "type", "id", "version", "visible", "changeset",
        "uid", "snap_ts", "own_ts",
    ).agg(
        F.first("tags").alias("tags"),
        F.array_sort(
            F.collect_list(F.struct("pos", "role", "mtype", "ref", "line", "m_geom"))
        ).alias("pmembers"),
        F.max("m_ts").alias("member_ts"),
    )
    members = F.transform(
        F.col("pmembers"),
        lambda p: F.struct(
            p["role"].alias("role"),
            p["mtype"].alias("mtype"),
            p["ref"].alias("ref"),
            p["line"].alias("line"),
            p["m_geom"].alias("m_geom"),
        ),
    )
    return grouped.withColumn("members", members).withColumn(
        "last_mod_ts", F.greatest(F.col("own_ts"), F.col("member_ts"))
    ).drop("pmembers", "own_ts", "member_ts")


SNAPSHOT_COLUMNS = [
    "doc_id", "type", "id", "version", "snap_ts", "visible", "tags",
    "changeset", "uid", "last_mod_ts", "lon", "lat", "wkt", "area", "length",
]


def _packed_out(df: DataFrame) -> DataFrame:
    """Way/relation rows in the SNAPSHOT_COLUMNS layout from the geometry
    UDF's struct column ``g`` (packed geometry, null lon/lat/wkt)."""
    return df.select(
        "doc_id", "type", "id", "version", "snap_ts", "visible", "tags",
        "changeset", "uid", "last_mod_ts",
        F.lit(None).cast("long").alias("lon"),
        F.lit(None).cast("long").alias("lat"),
        F.lit(None).cast("string").alias("wkt"),
        F.col("g.geom").alias("geom"),
        F.col("g.area").alias("area"),
        F.col("g.length").alias("length"),
        F.col("g.minx").alias("minx"),
        F.col("g.miny").alias("miny"),
        F.col("g.maxx").alias("maxx"),
        F.col("g.maxy").alias("maxy"),
    )


def _relation_snapshots(
    entities: DataFrame,
    wl: DataFrame,
    node_snaps: DataFrame,
    timestamps: list[int],
    interpreter: TagInterpreter | None,
    include_old_style_multipolygons: bool,
    nested_relations: bool | None,
) -> DataFrame:
    """Relation output rows (packed geometry) of :func:`snapshot_view`."""
    rudf = relation_geometry_udf(interpreter)

    def _build_rels(rl_df: DataFrame) -> DataFrame:
        return _packed_out(
            rl_df.filter("visible").withColumn(
                "g", rudf("visible", "tags", "members")
            )
        )

    rl = relation_lines(entities, wl, node_snaps, timestamps)

    # nested relation members (relation -> relation,
    # OSHDBGeometryBuilderInternal.java:305-358 recursion): one cheap probe
    # on the (small) relation subset; if super-relations exist, relations
    # are layered by NESTING LEVEL and built bottom-up — each level's
    # relation members resolve against ALL previously built geometries, so
    # arbitrarily deep nests (route masters of route masters of ...) build
    # their full geometry, matching the reference's unbounded recursion.
    # Cycles (which would stack-overflow the reference) get a guard level:
    # built last, their in-cycle members resolve to whatever exists —
    # partial geometry instead of a crash.
    rels = entities.filter(F.col("type") == "relation")
    if nested_relations is None:
        nested_relations = has_nested_relations(rels)
    if not nested_relations:
        rels_out = _build_rels(rl)
    else:
        levels_df, max_lvl = _relation_nesting_levels(rels)
        lvl_pos = F.broadcast(levels_df)
        # level 0 (the overwhelming majority: no relation members) builds
        # without a rel_side; every relation NOT in the level map is 0
        rl0 = rl.join(lvl_pos, "id", "left_anti")
        rels_out = _build_rels(rl0)
        acc = rels_out
        for k in range(1, max_lvl + 1):
            ids_k = levels_df.filter(F.col("__lvl") == k).select("id")
            ents_k = rels.join(F.broadcast(ids_k), "id", "left_semi")
            rl_k = relation_lines(
                ents_k, wl, node_snaps, timestamps, rel_side=acc
            )
            built_k = _build_rels(rl_k)
            rels_out = rels_out.unionByName(built_k)
            # truncate the per-level union lineage on deep nests (the
            # same stage-boundary discipline as plans/lineage)
            acc = rels_out.localCheckpoint() if k >= 2 else rels_out

    if not include_old_style_multipolygons:
        return rels_out
    from oshdb_spark.operators.geometry_ops import (
        holes_only_udf,
        old_style_flag_udf,
    )

    flag = old_style_flag_udf(interpreter)
    outer_ref = F.filter(
        F.col("members"),
        lambda m: (m["mtype"] == F.lit("way")) & (m["role"] == F.lit("outer")),
    )[0]["ref"]
    flagged = (
        rl.filter("visible")
        .withColumn("__old", flag("tags", "members"))
        .filter("__old")
        .select("type", "id", "version", "snap_ts",
                outer_ref.alias("__outer_ref"))
    )
    way_tags = wl.select(
        F.col("id").alias("__outer_ref"),
        "snap_ts",
        F.col("tags").alias("__way_tags"),
    )
    flagged = flagged.join(way_tags, ["__outer_ref", "snap_ts"], "left")
    rels_out = rels_out.join(
        flagged, ["type", "id", "version", "snap_ts"], "left"
    )
    hu = holes_only_udf()
    is_old = F.col("__outer_ref").isNotNull()
    return (
        rels_out.withColumn(
            "__h", F.when(is_old, hu(F.col("geom")))
        )
        .withColumn("geom", F.when(is_old, F.col("__h.geom")).otherwise(F.col("geom")))
        .withColumn("area", F.when(is_old, F.col("__h.area")).otherwise(F.col("area")))
        .withColumn(
            "length", F.when(is_old, F.col("__h.length")).otherwise(F.col("length"))
        )
        .withColumn(
            "tags",
            F.when(is_old, F.coalesce(F.col("__way_tags"), F.col("tags")))
            .otherwise(F.col("tags")),
        )
        .drop("__h", "__outer_ref", "__way_tags", "__old")
    )


def snapshot_view(
    entities: DataFrame,
    timestamps: list[int],
    bbox_deg: tuple[float, float, float, float] | None = None,
    interpreter: TagInterpreter | None = None,
    keep_empty: bool = False,
    include_old_style_multipolygons: bool = False,
    types: set[str] | frozenset[str] | None = None,
    polygon: dict | None = None,
    nested_relations: bool | None = None,
) -> DataFrame:
    """The snapshot view over the entity kinds in ``types``.

    Returns one row per (entity, snapshot timestamp) where the entity exists,
    is visible, and (if bbox_deg given) its clipped geometry is non-empty;
    adds clipped_geom/clipped_wkt/clipped_area/clipped_length when clipping
    (``clipped_geom`` is null on node rows, whose clip is the WKT).

    ``polygon`` (a GeoJSON-like (Multi)Polygon dict) is a polygon area of
    interest; ``bbox_deg`` is then the effective AOI bbox (default: the
    polygon's envelope; a narrower user bbox intersects it).  A row must
    pass the bbox stage above and intersect the polygon — touching
    geometries stay, as in the reference — and the ``clipped_*`` columns
    hold the geometry clipped to bbox ∩ polygon.  Both views clip through
    ``geometry_ops.aoi_clip``.

    ``include_old_style_multipolygons`` (CellIterator.java:102-205
    constructor flag, :330-380 handling): relations with exactly one
    outer way and no interesting relation tags emit only their INNER
    HOLES as geometry (the fix-up applied against the outer way's own
    result), and their tags are substituted with the outer way's tags so
    downstream filters test the way, as the reference does.

    ``types`` is the narrowed entity-kind set (the reference's DNF type
    narrowing, MapReducer.java:1910-1935); None means all three kinds.
    Only rows of these kinds are emitted, and the plan holds only the
    branches they reach:

    - the way lines and the way geometry UDF are built only when ``way``
      or ``relation`` is in the set (relations resolve way members);
    - the relation lines, the nested-relation probe (the one eager job of
      this function), the nesting levels and the old-style fix-up only
      when ``relation`` is in the set;
    - with neither ``way`` nor ``relation`` and no ``polygon``, the clip
      and WKT stages are Column expressions only: nodes are never border
      rows of a bbox and their WKT is built in the JVM, so no Python UDF
      is planned;
    - the empty set gives an empty frame with the full schema.

    The result equals the all-types result filtered to ``type in types``.

    ``nested_relations``: whether any relation in ``entities`` (or in a
    superset of it) has a relation member; None runs the probe above.
    ``OSHDB`` handles probe their full table once and pass the answer.
    """
    types = frozenset({"node", "way", "relation"} if types is None else types)
    packed_kinds = bool(types & {"way", "relation"})
    node_snaps = node_snapshots(entities, timestamps)
    lon_deg = F.col("lon").cast("double") / 1e7
    lat_deg = F.col("lat").cast("double") / 1e7
    nodes_out = node_snaps.filter("visible").select(
        "doc_id", "type", "id", "version", "snap_ts", "visible", "tags",
        "changeset", "uid", "last_mod_ts", "lon", "lat", "wkt",
        F.lit(None).cast("binary").alias("geom"),
        F.lit(0.0).alias("area"), F.lit(0.0).alias("length"),
        lon_deg.alias("minx"), lat_deg.alias("miny"),
        lon_deg.alias("maxx"), lat_deg.alias("maxy"),
    )

    parts = [nodes_out] if "node" in types else []
    if packed_kinds:
        wl = way_lines(entities, node_snaps, timestamps)
        if "way" in types:
            wudf = way_geometry_udf(interpreter)
            parts.append(
                _packed_out(
                    wl.filter("visible").withColumn(
                        "g", wudf("visible", "tags", "refs", "line")
                    )
                )
            )
        if "relation" in types:
            parts.append(
                _relation_snapshots(
                    entities, wl, node_snaps, timestamps, interpreter,
                    include_old_style_multipolygons, nested_relations,
                )
            )
    if not parts:
        # contradictory filter: optimized to an empty local relation
        parts = [nodes_out.filter(F.lit(False))]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if not keep_empty:
        out = out.filter(~is_empty_geom_cols(F.col("geom"), F.col("wkt")))
    if polygon is not None and bbox_deg is None:
        bbox_deg = bounds(polygon)
    if bbox_deg is not None:
        # bbox stage: the row stays iff its geometry clipped to the bbox is
        # non-empty (CellIterator.java:417-459).  SINGLE PASS: the clip
        # column is built once, after the geometry-build UDFs, so no
        # filter/union branch re-executes the build subtree.
        out = out.withColumn("__aoi", aoi_clip(bbox_deg, packed=packed_kinds))
        if not keep_empty:
            out = out.filter(~clip_is_empty(F.col("__aoi")))
        if polygon is not None:
            # a polygon keeps the rows that INTERSECT it (touching ones
            # included, GeometrySplitter.java:120-137); the bbox-overlap
            # gate keeps the exact test off rows that cannot
            if not keep_empty:
                cand = bbox_overlaps(bbox_deg)
                hit = intersects_polygon_udf(polygon)(
                    F.when(cand, F.col("geom")), F.when(cand, F.col("wkt"))
                )
                out = out.filter(cand & F.coalesce(hit, F.lit(False)))
            out = out.withColumn("__aoi", aoi_clip(bbox_deg, polygon))
    # output boundary: packed -> WKT exactly once, for surviving rows only.
    # Node rows already carry their WKT.
    to_wkt = to_wkt_udf() if packed_kinds or polygon is not None else None
    if packed_kinds:
        out = out.withColumn(
            "wkt", F.coalesce(F.col("wkt"), to_wkt(F.col("geom")))
        )
    if bbox_deg is not None:
        clip = F.col("__aoi")
        out = out.select(
            *[c for c in out.columns if c != "__aoi"],
            # node rows keep a null clipped_geom (their clip is the WKT)
            F.when(F.col("geom").isNotNull(), clip["clipped_geom"])
            .alias("clipped_geom"),
            clipped_wkt_col(clip, to_wkt).alias("clipped_wkt"),
            clip["clipped_area"].alias("clipped_area"),
            clip["clipped_length"].alias("clipped_length"),
        )
    return out.drop("minx", "miny", "maxx", "maxy")


def relation_node_closure(entities: DataFrame) -> DataFrame:
    """Transitive member closure: for every relation, the DISTINCT set of
    node ids reachable through its members — node members directly, way
    members via their node refs, relation members recursively.  This is
    the membership core of the reference's recursive member resolution
    (OSHDBGeometryBuilderInternal.java:305-358 recurses into member
    entities; getGeometryCollection walks the same closure) isolated
    from geometry assembly so it can be oracle-gated exactly (the
    geometry half is covered by the osm-testdata 7xx parity ports).

    Operates on the entity frame as given — the caller pre-selects the
    version set (e.g. latest visible); ``refs``/``members`` carry way
    node refs and typed relation members as in the store schema.

    Plan shape: node- and way-member contributions are two equi-joins
    (one shuffle each); relation members resolve level-by-level using
    :func:`_relation_nesting_levels` (driver-side Kahn layering over the
    tiny relation->relation edge set, cycle guard included) — level k
    parents inherit their children's ALREADY-COMPLETE closure with ONE
    hash join per level, so total work is O(depth) joins, depth <= ~5 on
    real OSM.  The closure frame is localCheckpoint'd per level: without
    it the union-into-join lineage doubles per level (2^depth plan
    blowup), the same O(1)-lineage idiom as the connected-components
    operator.  Members of a cycle resolve partially (whatever earlier
    levels produced), mirroring the geometry path's guard-level
    semantics.

    Returns ``(rel_id:long, node_ref:long)`` distinct pairs.
    """
    rels = entities.filter(F.col("type") == "relation").select(
        "id", "members"
    )
    mem = rels.select(
        F.col("id").alias("pid"), F.explode("members").alias("m")
    )
    node_direct = mem.filter(F.col("m.type") == "node").select(
        "pid", F.col("m.ref").alias("nref")
    )
    way_mem = mem.filter(F.col("m.type") == "way").select(
        "pid", F.col("m.ref").alias("wid")
    )
    ways = entities.filter(F.col("type") == "way").select(
        F.col("id").alias("wid"), F.explode("refs").alias("nref")
    )
    via_way = way_mem.join(ways, "wid").select("pid", "nref")
    closure = node_direct.union(via_way).distinct()
    rel_edges = mem.filter(F.col("m.type") == "relation").select(
        "pid", F.col("m.ref").alias("cid")
    )
    levels_df, max_lvl = _relation_nesting_levels(rels)
    for lvl in range(1, max_lvl + 1):
        parents = levels_df.filter(F.col("__lvl") == lvl).select("id")
        inherited = (
            rel_edges.join(
                parents.withColumnRenamed("id", "pid"), "pid"
            )
            .join(
                closure.select(
                    F.col("pid").alias("cid"), "nref"
                ),
                "cid",
            )
            .select("pid", "nref")
        )
        closure = closure.union(inherited).distinct().localCheckpoint()
    return closure.select(
        F.col("pid").alias("rel_id"), F.col("nref").alias("node_ref")
    )
