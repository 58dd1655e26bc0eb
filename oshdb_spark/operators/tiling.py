"""Tile assignment + query-side cell pruning (the engine's stage 1).

Insert cells come from one kernel: ``xy_insert_cell_udf`` / ``quadcell_udf``
are Arrow-batched pandas UDFs wrapping the numpy kernels (grid/xygrid.py,
grid/quadcell.py) — the north-rule path ("H3/S2 tiling via batched
vectorized pandas/Arrow UDFs, no per-row Python").  Every engine caller
(``assign_cells``, the throughput pipelines) uses it.  If the ``h3``
package is importable, ``h3_udf`` emits true H3 ids as well.

``xy_cell_id_col`` / ``xy_insert_cell_col`` are the same XYGrid semantics
as pure Catalyst Column expressions.  ``xy_cell_id_col`` serves JVM-side
per-point cell ids; ``xy_insert_cell_col`` is kept only as the reference
the kernel is tested against.  The XYGrid arithmetic is plain fixed-point
shifts + double division + floor; Java's ``(int)`` casts truncate toward
zero, and after the +180/+90 shift every operand is non-negative, so
FLOOR == truncation and the results are bit-identical to the reference
(XYGrid.java:140-168, :229-236; XYGridTree.java:93-100).

Query side: ``query_cell_ranges`` computes per-zoom cell-id ranges for a
bbox on the driver (with the reference's enlarge-one-cell-SW rule,
XYGrid.java:316-400) and ``cell_range_filter`` turns them into a pushed-down
Column predicate so parquet/Iceberg partition pruning kicks in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oshdb_spark.grid.quadcell import quadcell_id_vec
from oshdb_spark.grid.xygrid import MAXZOOM, XYGridTree, xy_insert_cell_vec
from oshdb_spark.session import local_frame

_OSM_180 = 1_800_000_000
_OSM_90 = 900_000_000


# ---------------------------------------------------------------------------
# JVM-side Column expressions
# ---------------------------------------------------------------------------


def xy_cell_id_col(zoom: int, lon: Column, lat: Column) -> Column:
    """XYGrid.getId as a Catalyst expression (XYGrid.java:140-168)."""
    cell_width = 360.0 / (1 << zoom) * 1e7
    zoompow = 1 << zoom
    lon_s = lon.cast("long") + F.lit(_OSM_180)
    lat_s = lat.cast("long") + F.lit(_OSM_90)
    lon_s = F.when(lon_s == 3_600_000_000, F.lit(0)).otherwise(lon_s)
    lat_s = F.when(lat_s == 1_800_000_000, lat_s - 1).otherwise(lat_s)
    x = F.floor(lon_s / F.lit(cell_width))
    y = F.floor(lat_s / F.lit(cell_width))
    outside = (
        (lon > _OSM_180) | (lon < -_OSM_180) | (lat > _OSM_90) | (lat < -_OSM_90)
    )
    return F.when(outside, F.lit(-1)).otherwise(y * zoompow + x)


def _estimated_count_col(zoom: int, minlon, minlat, maxlon, maxlat) -> Column:
    """XYGrid.getEstimatedIdCount as a Catalyst expression (XYGrid.java:229)."""
    w = F.lit(360.0 / (1 << zoom) * 1e7)
    cols = F.ceil(maxlon / w) - F.floor(minlon / w)
    rows = F.ceil(maxlat / w) - F.floor(minlat / w)
    return F.greatest(cols, rows)


def xy_insert_cell_col(
    minlon: Column, minlat: Column, maxlon: Column, maxlat: Column,
    maxzoom: int = MAXZOOM,
) -> Column:
    """XYGridTree.getInsertId as one Catalyst expression — the reference
    ``xy_insert_cell_udf`` is tested against (no engine caller).

    Returns struct(cell_zoom int, cell_id long, level_id long): the deepest
    zoom whose estimated cell count for the bbox is <= 2 (XYGridTree.java:93-100),
    with the packed level id (CellId.java:37-39).
    """
    expr = None
    for z in range(maxzoom, -1, -1):
        cond = _estimated_count_col(z, minlon, minlat, maxlon, maxlat) <= 2
        cid = xy_cell_id_col(z, minlon, minlat)
        branch = F.struct(
            F.lit(z).alias("cell_zoom"),
            cid.alias("cell_id"),
            (F.lit(z).cast("long") * F.lit(1 << 56).cast("long") + cid).alias(
                "level_id"
            ),
        )
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr


# ---------------------------------------------------------------------------
# Arrow-vectorized pandas UDF path (north-rule)
# ---------------------------------------------------------------------------


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# bit-spread magic masks: place bit j of a <=32-bit value at position 2j
_SPREAD_STEPS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_bits_col(x: Column) -> Column:
    for shift, mask in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def geohash_col(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Geohash (public base-32 Morton grid) as a pure Catalyst expression.

    Beyond-reference third public grid next to XYGrid/S2/H3: geohash is
    the equirectangular Morton code most external datasets carry, so the
    engine emits interoperable ids without any UDF — fixed-point inputs
    (1e-7 degrees), bit-spread interleave (lon first, per the standard),
    base-32 chars via substring on the alphabet literal.  Whole-stage
    codegen keeps all of it JVM-side.

    ``precision`` is the character count (5 bits each); lon gets
    ceil(5p/2) bits, lat the rest.
    """
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    # fixed-point -> cell index; the +180/+90 shift keeps operands
    # non-negative so FLOOR == truncation; clamp the right edge
    xi = F.floor(
        ((lon.cast("double") + _OSM_180) / 3_600_000_000.0) * F.lit(float(1 << nlon))
    )
    yi = F.floor(
        ((lat.cast("double") + _OSM_90) / 1_800_000_000.0) * F.lit(float(1 << nlat))
    )
    xi = F.least(xi, F.lit((1 << nlon) - 1)).cast("long")
    yi = F.least(yi, F.lit((1 << nlat) - 1)).cast("long")
    if bits % 2 == 0:
        # even total: lon bits land at odd positions (MSB is lon's MSB)
        code = F.shiftleft(_spread_bits_col(xi), 1).bitwiseOR(
            _spread_bits_col(yi)
        )
    else:
        # odd total: lon has one extra bit and occupies even positions
        code = _spread_bits_col(xi).bitwiseOR(
            F.shiftleft(_spread_bits_col(yi), 1)
        )
    parts = []
    for i in range(precision):
        idx = F.shiftrightunsigned(code, 5 * (precision - 1 - i)).bitwiseAND(
            F.lit(31)
        )
        parts.append(F.lit(_GEOHASH_B32).substr((idx + 1).cast("int"), F.lit(1)))
    return F.concat(*parts)


def xy_insert_cell_udf():
    """pandas UDF: (minlon, minlat, maxlon, maxlat) -> struct(zoom, cell)."""
    from oshdb_spark.session import ensure_package_on_workers
    ensure_package_on_workers()

    @F.pandas_udf("cell_zoom int, cell_id long")
    def _udf(
        minlon: pd.Series, minlat: pd.Series, maxlon: pd.Series, maxlat: pd.Series
    ) -> pd.DataFrame:
        z, c = xy_insert_cell_vec(
            minlon.to_numpy("int64"),
            minlat.to_numpy("int64"),
            maxlon.to_numpy("int64"),
            maxlat.to_numpy("int64"),
        )
        return pd.DataFrame({"cell_zoom": z.astype("int32"), "cell_id": c})

    return _udf


def quadcell_udf(level: int):
    """pandas UDF: fixed-point (lon, lat) -> quadcell id at `level`."""
    from oshdb_spark.session import ensure_package_on_workers
    ensure_package_on_workers()

    @F.pandas_udf("long")
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = quadcell_id_vec(level, lon.to_numpy("int64"), lat.to_numpy("int64"))
        return pd.Series(out)

    return _udf


def s2_udf(level: int):
    """True S2 cell ids at `level` from fixed-point 1e7 lon/lat columns —
    the north rule's H3/S2 headline index, via the pure-numpy port in
    grid/s2.py (no s2 dependency needed for fixed-level assignment).
    Fully vectorized per Arrow batch; returns the 64-bit id as its
    signed-long bit pattern (Spark has no unsigned type)."""
    from oshdb_spark.session import ensure_package_on_workers

    ensure_package_on_workers()

    @F.pandas_udf("long")
    def _udf(lon_fp: pd.Series, lat_fp: pd.Series) -> pd.Series:
        from oshdb_spark.grid import s2

        ids = s2.cell_id(
            lon_fp.to_numpy(np.int64) / 1e7,
            lat_fp.to_numpy(np.int64) / 1e7,
            level,
        )
        return pd.Series(ids.view(np.int64))

    return _udf


def h3_udf(resolution: int, prefer_library: bool = True):
    """Aperture-7 hexagonal cell ids from fixed-point coords.

    With the `h3` package installed (and ``prefer_library``), returns the
    canonical library's ids.  Without it — this sandbox — falls back to
    the pure-numpy aperture-7 icosahedral port (grid/h3lite.py: the
    published H3 algorithm and bit layout with a DERIVED orientation and
    face-based base cells; see its docstring for the exact deviation).
    Either way the ids are a deterministic hierarchical hex index
    suitable for the tiling joins; only the h3lite path is oracle-gated
    (driver query h3_cell_assign, which pins ``prefer_library=False``).

    COMPAT: h3lite ids live in their OWN namespace.  They are NOT
    interchangeable with canonical Uber-H3 ids, and no round-trip
    converter can exist without H3's irreducible base-cell constant
    tables (faceCenterGeo, faceAxesAzRadsCII, faceIjkBaseCells,
    baseCellData — data with no generating rule; everything else in the
    pipeline is re-derived from the published spec).  Never join h3lite
    ids against externally-H3-indexed datasets: install `h3` (the
    default routing then uses it — tests/test_h3lite.py covers both the
    routing and, when installed, bit-parity with the library's published
    test vector) or re-index the external data with this UDF."""
    from oshdb_spark.session import ensure_package_on_workers
    ensure_package_on_workers()
    have_h3 = False
    if prefer_library:
        try:
            import h3  # noqa: F401

            have_h3 = True
        except ImportError:
            have_h3 = False
    if not have_h3:
        @F.pandas_udf("long")
        def _lite(lon: pd.Series, lat: pd.Series) -> pd.Series:
            from oshdb_spark.grid import h3lite

            ids = h3lite.latlng_to_cell(
                lon.to_numpy(np.int64) / 1e7,
                lat.to_numpy(np.int64) / 1e7,
                resolution,
            )
            return pd.Series(ids.view(np.int64))

        return _lite

    @F.pandas_udf("long")
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import h3

        return pd.Series(
            [
                h3.str_to_int(h3.latlng_to_cell(la / 1e7, lo / 1e7, resolution))
                for lo, la in zip(lon, lat)
            ]
        )

    return _udf


# ---------------------------------------------------------------------------
# lifetime bboxes + cell assignment over the entities table
# ---------------------------------------------------------------------------


def lifetime_bboxes(entities: DataFrame) -> DataFrame:
    """Per (type, id): bbox over ALL versions, members included.

    Mirrors the reference's insert rule, which tiles each OSH entity by its
    lifetime bbox including referenced member histories (XYGridTree.java:93-100;
    OSHEntityImpl co-stores member histories).

    Plan shape: everything is flattened into ONE (owner_type, owner_id,
    node_ref) edge list — ways contribute their refs, relations their node
    members plus their member ways' refs (a single way-expansion join) —
    which joins the per-node bbox once and aggregates once.  This keeps the
    shuffle-stage DEPTH at 3 (node agg -> edge join -> owner agg) instead
    of chaining node->way->relation rounds; at 10^12 docs the depth, not
    the volume, is what serializes the job.  No dedup anywhere: min/max is
    duplicate-insensitive.

    The edge list is built in ONE pass over `entities` (a single per-row
    CASE emits way refs, relation node-members, and relation way-members
    into one struct array) and, unless `entities` is already cached,
    persisted MEMORY_AND_DISK before the branches that consume it.  Without
    this the four consuming subtrees each re-run the upstream payload
    parse — on the docs source that is 4-5 full JSON parses of the input
    instead of one.  That persisted edge list outlives the call; a caller
    that must release its cache (the store ETL) caches `entities` itself
    and unpersists it afterwards.

    Shuffle width: 1e-7 fixed-point coordinates span ±1.8e9, which fits
    int32, so every shuffled bbox value travels as an int (half the bytes
    of the stored long; cast back to long at the return boundary so the
    output schema is unchanged), and the owner type travels through the
    edge join + owner agg as a 1-byte code instead of a "way"/"relation"
    string.  At 10^12 docs the three shuffle stages here ARE the job's
    bandwidth bill — the narrower rows cut it ~40% for free.
    """
    base = entities.select(
        "type",
        "id",
        F.col("lon").cast("int").alias("lon"),
        F.col("lat").cast("int").alias("lat"),
        F.when(
            F.col("type") == "way",
            F.transform(
                "refs",
                lambda r: F.struct(F.lit("n").alias("kind"), r.alias("ref")),
            ),
        )
        .when(
            F.col("type") == "relation",
            F.concat(
                F.transform(
                    F.filter("members", lambda m: m["type"] == "node"),
                    lambda m: F.struct(
                        F.lit("n").alias("kind"), m["ref"].alias("ref")
                    ),
                ),
                F.transform(
                    F.filter("members", lambda m: m["type"] == "way"),
                    lambda m: F.struct(
                        F.lit("w").alias("kind"), m["ref"].alias("ref")
                    ),
                ),
            ),
        )
        .alias("edges"),
    )
    if not entities.is_cached:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)

    nodes = base.filter(F.col("type") == "node")
    node_bbox = nodes.groupBy("id").agg(
        F.min("lon").alias("minlon"),
        F.min("lat").alias("minlat"),
        F.max("lon").alias("maxlon"),
        F.max("lat").alias("maxlat"),
    )

    way_edges = (
        base.filter(F.col("type") == "way")
        .select("id", F.explode("edges").alias("e"))
        .select("id", F.col("e.ref").alias("ref"))
    )

    rel_edges = base.filter(F.col("type") == "relation").select(
        "id", F.explode("edges").alias("e")
    )
    rel_node_edges = rel_edges.filter(F.col("e.kind") == "n").select(
        "id", F.col("e.ref").alias("ref")
    )
    # member ways expanded to their node refs (one join, not a bbox chain)
    rel_way_edges = (
        rel_edges.filter(F.col("e.kind") == "w")
        .select("id", F.col("e.ref").alias("wid"))
        .join(
            way_edges.select(F.col("id").alias("wid"), "ref"),
            "wid",
        )
        .select("id", "ref")
    )

    edges = (
        way_edges.withColumn("tcode", F.lit(0).cast("byte"))
        .unionByName(rel_node_edges.withColumn("tcode", F.lit(1).cast("byte")))
        .unionByName(rel_way_edges.withColumn("tcode", F.lit(1).cast("byte")))
    )
    owner_bbox = (
        edges.join(node_bbox.withColumnRenamed("id", "ref"), "ref", "inner")
        .groupBy("tcode", "id")
        .agg(
            F.min("minlon").alias("minlon"),
            F.min("minlat").alias("minlat"),
            F.max("maxlon").alias("maxlon"),
            F.max("maxlat").alias("maxlat"),
        )
        .select(
            F.when(F.col("tcode") == 0, F.lit("way"))
            .otherwise(F.lit("relation"))
            .alias("type"),
            "id",
            "minlon",
            "minlat",
            "maxlon",
            "maxlat",
        )
    )
    widen = node_bbox.withColumn("type", F.lit("node")).unionByName(owner_bbox)
    return widen.select(
        "id",
        F.col("minlon").cast("long").alias("minlon"),
        F.col("minlat").cast("long").alias("minlat"),
        F.col("maxlon").cast("long").alias("maxlon"),
        F.col("maxlat").cast("long").alias("maxlat"),
        "type",
    )


def assign_cells(entities: DataFrame, quadcell_level: int = 12) -> DataFrame:
    """entities + (cell_zoom, cell_id, level_id, qcell) columns.

    Both cells come from the lifetime bbox through the Arrow kernels in one
    projection: the XYGrid insert cell (``xy_insert_cell_udf``, with the
    packed level id of CellId.java:37-39) and the hierarchical quadcell of
    the bbox SW corner at `quadcell_level`.  Spark evaluates the two UDFs
    in one ArrowEvalPython node per union branch of the lifetime bboxes.
    """
    boxes = lifetime_bboxes(entities).select(
        "type",
        "id",
        xy_insert_cell_udf()("minlon", "minlat", "maxlon", "maxlat").alias("c"),
        quadcell_udf(quadcell_level)("minlon", "minlat").alias("qcell"),
    )
    boxes = boxes.select(
        "type",
        "id",
        F.col("c.cell_zoom").alias("cell_zoom"),
        F.col("c.cell_id").alias("cell_id"),
        (
            F.col("c.cell_zoom").cast("long") * F.lit(1 << 56)
            + F.col("c.cell_id")
        ).alias("level_id"),
        "qcell",
    )
    return entities.join(boxes, ["type", "id"], "left")


# ---------------------------------------------------------------------------
# query-side pruning
# ---------------------------------------------------------------------------


def query_cell_ranges(
    bbox_osm: tuple[int, int, int, int],
    maxzoom: int = MAXZOOM,
    enlarge: bool = True,
) -> list[tuple[int, list[tuple[int, int]]]]:
    """Driver-side: per-zoom cell-id ranges covering the query bbox
    (MapReducer.getCellIdRanges semantics — enlarged so features stored in a
    neighbouring cell but extending into the area are found)."""
    tree = XYGridTree(maxzoom)
    return list(tree.bbox2_cell_id_ranges(bbox_osm, enlarge))


def cell_range_filter(
    ranges: list[tuple[int, list[tuple[int, int]]]],
    zoom_col: str = "cell_zoom",
    cell_col: str = "cell_id",
) -> Column:
    """Pushdown predicate: OR over zooms of (zoom = z AND id IN ranges).

    Emitted as plain comparisons so parquet row-group stats / Iceberg
    partition pruning can use it.
    """
    pred = F.lit(False)
    for zoom, rngs in ranges:
        if not rngs:
            continue
        zp = F.lit(False)
        for start, end in rngs:
            if start == end:
                zp = zp | (F.col(cell_col) == start)
            else:
                zp = zp | ((F.col(cell_col) >= start) & (F.col(cell_col) <= end))
        pred = pred | ((F.col(zoom_col) == zoom) & zp)
    return pred


def cell_rect_filter(
    bbox_osm: tuple[int, int, int, int],
    maxzoom: int = MAXZOOM,
    enlarge: bool = True,
    zoom_col: str = "cell_zoom",
    cell_col: str = "cell_id",
) -> Column:
    """Constant-size pushdown predicate for a query bbox over ALL zooms.

    Per zoom the covered cells form <= 2 rectangles in (col, row) space
    (XYGrid.bbox2_cell_rects), so the whole predicate is O(zoom levels):
    (zoom = z AND col BETWEEN .. AND row BETWEEN ..), col/row recovered
    from the packed id with pure integer arithmetic (codegen-friendly).
    Use this instead of cell_range_filter when the bbox spans many rows at
    deep zooms — a range enumeration there builds a Column tree deep enough
    to overflow the analyzer stack.
    """
    tree = XYGridTree(maxzoom)
    pred = F.lit(False)
    coarse = F.lit(False)  # parquet-pushable superset: plain range compares
    for g in tree.grids:
        garbage, rects = g.bbox2_cell_rects(bbox_osm, enlarge)
        if garbage:
            gp = (F.col(zoom_col) == g.zoom) & (F.col(cell_col) == -1)
            pred = pred | gp
            coarse = coarse | gp
        if not rects:
            continue
        col = F.col(cell_col) % F.lit(g.zoompow)
        row = F.floor(F.col(cell_col) / F.lit(g.zoompow))
        zp = F.lit(False)
        cr = F.lit(False)
        for cmin, cmax, rmin, rmax in rects:
            zp = zp | (
                col.between(cmin, cmax) & row.between(rmin, rmax)
            )
            # coarse id interval [rmin*2^z + cmin, rmax*2^z + cmax] — a
            # superset of the rectangle, but built only from <=/>= on the
            # raw column, so it reaches parquet row-group stats (the `%`
            # and FLOOR in the exact test block pushdown of the whole OR)
            cr = cr | F.col(cell_col).between(
                rmin * g.zoompow + cmin, rmax * g.zoompow + cmax
            )
        pred = pred | (
            (F.col(zoom_col) == g.zoom) & (F.col(cell_col) >= 0) & zp
        )
        coarse = coarse | ((F.col(zoom_col) == g.zoom) & cr)
    return coarse & pred


def query_cells_df(
    spark: SparkSession,
    ranges: list[tuple[int, list[tuple[int, int]]]],
) -> DataFrame:
    """Materialize the query cell set as a (small) DataFrame for the
    cell-cell hash join path (broadcast side).  Used when the range list is
    too large for a literal predicate."""
    rows = [
        (zoom, cid)
        for zoom, rngs in ranges
        for start, end in rngs
        if start >= 0
        for cid in range(start, end + 1)
    ]
    return local_frame(spark, rows, "cell_zoom int, cell_id long")


def cell_count_pyramid(
    points: DataFrame,
    max_zoom: int,
    min_zoom: int = 0,
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Multi-zoom density pyramid: per-cell point counts at every zoom
    in ``[min_zoom, max_zoom]`` — the aggregation analogue of the
    reference's XYGridTree multi-level pyramid (XYGridTree.java:19-276,
    levels 0..MAXZOOM), used for heatmaps and the kNN histogram bound.

    Cells here are the plain integer grid ``cx = (lon_fp + 180e7) div
    (360e7 >> z)`` (same for ``cy`` with the 90/180 span): because the
    per-zoom widths are exact halvings, ``cx_z == cx_max >> (max_zoom -
    z)`` — so the points are shuffled ONCE (groupBy at the deepest
    zoom), and every coarser level is a rollup of the previous level's
    (already tiny, <= #nonempty-cells rows) count table, never of the
    raw points.  At 10^12 points that is one data-sized shuffle plus
    ``max_zoom - min_zoom`` cell-table-sized ones.

    Returns ``(zoom, cx, cy, n)`` — all long, integer-exact.
    """
    cell_fp = 3_600_000_000 >> max_zoom
    base = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    levels = [base.select(F.lit(max_zoom).cast("long").alias("zoom"), "cx", "cy", "n")]
    cur = base
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.select(
                F.shiftrightunsigned("cx", 1).alias("cx"),
                F.shiftrightunsigned("cy", 1).alias("cy"),
                "n",
            )
            .groupBy("cx", "cy")
            .agg(F.sum("n").alias("n"))
        )
        levels.append(
            cur.select(F.lit(z).cast("long").alias("zoom"), "cx", "cy", "n")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def gi_star_hotspots(
    points: DataFrame,
    zoom: int,
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-score per occupied grid cell (Ord &
    Getis 1995, binary 3x3 queen weights incl. self, study region =
    the occupied cells) — the local-statistics layer OSHDB users build
    downstream of aggregateByGeometry heatmaps.

    Scale shape: the points shuffle ONCE (the per-cell count groupBy,
    map-side combinable); everything after operates on the cell table
    — each occupied cell explodes to its 9 neighbor keys and
    equi-joins back (cell-table-sized shuffle), and the global moments
    (N, sum x, sum x^2) are a 1-row broadcast.  Raw points are never
    re-shuffled, mirroring :func:`cell_count_pyramid`.

    Determinism: x/S_i/n_i are exact longs; mean and sd derive from
    the integer moments through IEEE-exact ops (+,-,*,/,sqrt — no
    libm), so the z-score is bit-identical across engines given the
    same expression shape; rounded to 9dp into decimal(28,9) for the
    hash gate.  Precondition: >= 2 occupied cells with unequal counts
    and every cell's neighborhood smaller than the region (else the
    Gi* denominator is 0).

    Returns ``(cx, cy, x, s_i, n_i, gi_z)``.
    """
    cell_fp = 3_600_000_000 >> zoom
    counts = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    contrib = (
        counts.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            "x",
        )
        .groupBy("jx", "jy")
        .agg(
            F.sum("x").alias("s_i"),
            F.count(F.lit(1)).alias("n_i"),
        )
    )
    moments = counts.agg(
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
        F.count(F.lit(1)).cast("double").alias("nn"),
    )
    j = (
        counts.join(
            contrib,
            (F.col("cx") == F.col("jx")) & (F.col("cy") == F.col("jy")),
        )
        .crossJoin(F.broadcast(moments))
    )
    mean = F.col("sx") / F.col("nn")
    sd = F.sqrt(F.col("sx2") / F.col("nn") - mean * mean)
    den = sd * F.sqrt(
        (F.col("nn") * F.col("n_i") - F.col("n_i") * F.col("n_i"))
        / (F.col("nn") - F.lit(1.0))
    )
    z = (F.col("s_i") - mean * F.col("n_i")) / den
    return j.select(
        "cx",
        "cy",
        "x",
        "s_i",
        "n_i",
        F.round(z, 9).cast("decimal(28,9)").alias("gi_z"),
    )


def moran_i_global(
    points: DataFrame,
    zoom: int,
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Global Moran's I spatial-autocorrelation components over per-cell
    point counts (Moran 1950; binary 3x3 queen weights EXCLUDING self,
    study region = the occupied cells) — the global companion to the local
    gi_star_hotspots statistic.

    Plan shape: identical to gi_star_hotspots — points shuffle ONCE into
    cell counts; the 8-key neighbor roll-up and the single-row moments are
    cell-table-sized; the output is ONE row.

    Determinism: the per-cell cross term (x_i - m)(S_i - n_i m) is a fixed
    dag of IEEE-exact ops over exact integers and the correctly-rounded
    mean m = sx/nn, rounded to 9dp and DECIMAL-summed so partition order
    cannot move it; nn/w_conn are exact longs and ssq = sx2 - sx^2/nn is
    single-row arithmetic.  Moran's I itself is
    ``nn * cross_sum / (w_conn * ssq)`` — left to the caller as the exact
    component quadruple because cross-engine DECIMAL/DECIMAL division
    semantics are not part of the hash-gate contract.

    Returns one row ``(nn, w_conn, cross_sum, ssq)``.
    """
    cell_fp = 3_600_000_000 >> zoom
    counts = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    contrib = (
        counts.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .filter(~((F.col("dx") == 0) & (F.col("dy") == 0)))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            "x",
        )
        .groupBy("jx", "jy")
        .agg(F.sum("x").alias("s_i"), F.count(F.lit(1)).alias("n_i"))
    )
    moments = counts.agg(
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
        F.count(F.lit(1)).cast("double").alias("nn_d"),
        F.count(F.lit(1)).alias("nn"),
    )
    j = counts.join(
        contrib,
        (F.col("cx") == F.col("jx")) & (F.col("cy") == F.col("jy")),
    ).crossJoin(F.broadcast(moments))
    m = F.col("sx") / F.col("nn_d")
    term = (F.col("x") - m) * (F.col("s_i") - F.col("n_i") * m)
    per_cell = j.select(
        "nn",
        "sx",
        "sx2",
        "nn_d",
        F.col("n_i"),
        F.round(term, 9).cast("decimal(28,9)").alias("t"),
    )
    return per_cell.groupBy("nn", "sx", "sx2", "nn_d").agg(
        F.sum("n_i").alias("w_conn"),
        F.sum("t").cast("decimal(38,9)").alias("cross_sum"),
    ).select(
        "nn",
        "w_conn",
        "cross_sum",
        F.round(
            F.col("sx2") - F.col("sx") * F.col("sx") / F.col("nn_d"), 9
        )
        .cast("decimal(28,9)")
        .alias("ssq"),
    )


def local_moran_lisa(
    points: DataFrame,
    zoom: int,
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Local Moran's I (LISA, Anselin 1995) numerator per occupied grid
    cell over per-cell point counts — the cluster/outlier-detection
    companion to :func:`moran_i_global` (whose cross_sum is exactly the
    sum of these rows) and :func:`gi_star_hotspots` (which includes
    self in the neighborhood; LISA excludes it).  Binary 3x3 queen
    weights excluding self, study region = the occupied cells.

    Per cell i the statistic is ``I_i = (x_i - m) * S_i' / s^2`` with
    ``S_i' = sum_j w_ij (x_j - m)``; as with the global variant only
    the hash-gateable exact part is returned: ``lisa_num = (x_i - m) *
    (S_i - n_i * m)`` rounded to 9dp into DECIMAL, plus the exact
    integer neighborhood sums — the caller divides by the (global,
    1-row) variance to get I_i and classifies HH/LL/HL/LH from the
    signs of (x_i - m) and (S_i - n_i m).

    Plan shape: identical to moran_i_global — points shuffle ONCE into
    cell counts, the 8-key neighbor roll-up and the final join are
    cell-table-sized, the 1-row moments broadcast.  Cells whose entire
    3x3 ring is unoccupied have no neighbor row and are dropped (their
    LISA is 0/undefined under binary weights) — same inner-join
    semantics as the global cross_sum.

    Returns ``(cx, cy, x:long, s_i:long, n_i:long,
    lisa_num:decimal(28,9))``.
    """
    cell_fp = 3_600_000_000 >> zoom
    counts = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    contrib = (
        counts.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .filter(~((F.col("dx") == 0) & (F.col("dy") == 0)))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            "x",
        )
        .groupBy("jx", "jy")
        .agg(F.sum("x").alias("s_i"), F.count(F.lit(1)).alias("n_i"))
    )
    moments = counts.agg(
        F.sum("x").cast("double").alias("sx"),
        F.count(F.lit(1)).cast("double").alias("nn_d"),
    )
    j = counts.join(
        contrib,
        (F.col("cx") == F.col("jx")) & (F.col("cy") == F.col("jy")),
    ).crossJoin(F.broadcast(moments))
    m = F.col("sx") / F.col("nn_d")
    term = (F.col("x") - m) * (F.col("s_i") - F.col("n_i") * m)
    return j.select(
        "cx",
        "cy",
        "x",
        "s_i",
        "n_i",
        F.round(term, 9).cast("decimal(28,9)").alias("lisa_num"),
    )


def cell_user_simpson(
    points: DataFrame,
    zoom: int,
    key_col: str = "user_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Per-cell visitor-concentration moments (Simpson / Herfindahl
    index over WHO visits each grid cell): for every occupied cell, the
    total visit count, the distinct-visitor count, and the exact sum of
    squared per-visitor visit counts — the location-diversity statistic
    POI analytics ranks places by (Simpson lambda = sum_sq / n^2;
    inverse-Simpson "effective visitors" = n^2 / sum_sq).  Chosen over
    Shannon entropy DELIBERATELY: entropy needs ln() (libm, not
    bit-portable across engines), while the Simpson moments are pure
    int64 — hash-gateable exactly.

    Plan shape: two map-side-combinable groupBys — (cell, key) visit
    counts, then per-cell moments over that (already reduced) table.
    The second shuffle's input is bounded by distinct (cell, visitor)
    pairs, not raw points.

    Returns ``(cx, cy, n_visits:long, n_users:long, sum_sq:long)``.
    """
    cell_fp = 3_600_000_000 >> zoom
    per_user = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
            F.col(key_col).alias("k"),
        )
        .groupBy("cx", "cy", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_user.groupBy("cx", "cy").agg(
        F.sum("c").cast("long").alias("n_visits"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )


def join_count_stats(
    points: DataFrame,
    zoom: int,
    threshold: int,
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Join-count statistics (Cliff & Ord 1981) over the occupied grid
    cells: classify each cell Black/White by whether its point count
    reaches ``threshold``, then count the queen-adjacent UNORDERED
    occupied-cell pairs by class combination — BB, BW, WW.  The
    categorical sibling of Moran's I (:func:`moran_i_global` needs an
    interval variable; join counts are THE autocorrelation statistic
    for binary/categorical surfaces — land use, above/below-median
    choropleths).  Expectation/variance under free sampling are driver
    scalars from (n_black, n_white, n_joins); only the exact integer
    counts are computed distributed.

    Plan shape: points shuffle ONCE into per-cell counts; each occupied
    cell explodes to its 8 queen neighbors and hash-joins back against
    the (small) cell table; each unordered adjacent pair appears exactly
    twice in that join, so the lexicographic guard (cx,cy) < (jx,jy)
    keeps exactly one — no distinct, no de-mirror shuffle.  The final
    aggregate is 3 rows.

    Returns ``(pair_class:string, n_pairs:long)`` — 'BB'/'BW'/'WW',
    zerofilled.
    """
    cell_fp = 3_600_000_000 >> zoom
    cells = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg((F.count(F.lit(1)) >= F.lit(int(threshold))).alias("black"))
    )
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    probe = (
        cells.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .filter(~((F.col("dx") == 0) & (F.col("dy") == 0)))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            F.col("cx").alias("sx"),
            F.col("cy").alias("sy"),
            F.col("black").alias("s_black"),
        )
    )
    pairs = probe.join(
        cells.select(
            F.col("cx").alias("jx"),
            F.col("cy").alias("jy"),
            F.col("black").alias("j_black"),
        ),
        ["jx", "jy"],
    ).filter(
        (F.col("sx") < F.col("jx"))
        | ((F.col("sx") == F.col("jx")) & (F.col("sy") < F.col("jy")))
    )
    cls = F.when(
        F.col("s_black") & F.col("j_black"), F.lit("BB")
    ).when(~F.col("s_black") & ~F.col("j_black"), F.lit("WW")).otherwise(
        F.lit("BW")
    )
    counted = (
        pairs.select(cls.alias("pair_class"))
        .groupBy("pair_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    zero = local_frame(
        points.sparkSession, [("BB",), ("BW",), ("WW",)], "pair_class string"
    )
    return zero.join(counted, "pair_class", "left").select(
        "pair_class",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
    )


def bbox_cover_ranges(
    boxes: DataFrame,
    maxzoom: int = 14,
    enlarge: bool = True,
    id_col: str = "bid",
) -> DataFrame:
    """Bulk XYGridTree.bbox2CellIdRanges (XYGridTree.java:246-274,
    XYGrid.java:316-400): decompose a TABLE of query bboxes into per-zoom
    contiguous cell-id ranges — normalization + garbage (-1,-1) range for
    out-of-bounds coords, +/-180 and +/-90 border snap, anti-meridian
    split, and the enlarge-one-cell-south-west insert-rule cover — as a
    single distributed Column-only plan.

    Where the reference computes one bbox's cover on the driver at query-
    plan time, this operator vectorizes the same bit-exact math over
    millions of bboxes (bulk spatial-query planning, range-index
    precomputation): explode factors are bounded (2 segments x zooms x
    row span), arithmetic is exact BIGINT plus the reference's own
    double cell_width division (360/2^z*1e7 is exactly representable, so
    the FLOOR-of-quotient is deterministic IEEE on every engine), and the
    only shuffle is the final set-semantics distinct.

    Input: (id_col, minlon, minlat, maxlon, maxlat) in 1e-7 fixed-point.
    Returns (id_col, zoom, range_start, range_end); bboxes with
    minlat > maxlat produce no rows (XYGrid.java:320-322).
    """
    L, L9 = 1_800_000_000, 900_000_000
    b = boxes.filter(F.col("minlat") <= F.col("maxlat"))
    oob = lambda c, lim: (F.col(c) < -lim) | (F.col(c) > lim)  # noqa: E731
    norm = b.select(
        F.col(id_col).cast("long").alias("bid"),
        (
            oob("minlon", L) | oob("maxlon", L) | oob("minlat", L9) | oob("maxlat", L9)
        ).alias("garbage"),
        F.when(oob("minlon", L), F.lit(-L)).otherwise(F.col("minlon")).alias("lo_lon"),
        F.when(oob("maxlon", L), F.lit(L)).otherwise(F.col("maxlon")).alias("hi_lon"),
        F.when(oob("minlat", L9), F.lit(-L9)).otherwise(F.col("minlat")).alias("lo_lat"),
        F.when(oob("maxlat", L9), F.lit(L9)).otherwise(F.col("maxlat")).alias("hi_lat"),
    ).select(
        "bid",
        "garbage",
        F.when(F.col("lo_lon") == L, F.lit(L - 1)).otherwise(F.col("lo_lon")).alias("minlon"),
        F.when(F.col("hi_lon") == L, F.lit(L - 1)).otherwise(F.col("hi_lon")).alias("maxlon"),
        F.when(F.col("lo_lat") == L9, F.lit(L9 - 1)).otherwise(F.col("lo_lat")).alias("minlat"),
        F.when(F.col("hi_lat") == L9, F.lit(L9 - 1)).otherwise(F.col("hi_lat")).alias("maxlat"),
    )
    # anti-meridian split (XYGrid.java:369-374): 1 or 2 (slon, elon) segments
    seg = (
        norm.withColumn(
            "seg",
            F.when(
                F.col("minlon") > F.col("maxlon"),
                F.array(
                    F.struct(F.col("minlon").alias("slon"), F.lit(L - 1).cast("long").alias("elon")),
                    F.struct(F.lit(-L).cast("long").alias("slon"), F.col("maxlon").alias("elon")),
                ),
            ).otherwise(
                F.array(
                    F.struct(F.col("minlon").alias("slon"), F.col("maxlon").alias("elon"))
                )
            ),
        )
        .select("bid", "minlat", "maxlat", F.explode("seg").alias("s"))
        .select("bid", "minlat", "maxlat", F.col("s.slon"), F.col("s.elon"))
    )
    zoomed = seg.withColumn(
        "zoom0", F.explode(F.sequence(F.lit(0), F.lit(maxzoom)))
    ).withColumn("zoom", F.col("zoom0").cast("long")).withColumn(
        "w", F.lit(3_600_000_000.0) / F.pow(F.lit(2.0), F.col("zoom"))
    ).withColumn(
        "zp", F.pow(F.lit(2.0), F.col("zoom")).cast("long")
    )
    cols = zoomed.select(
        "bid",
        "zoom",
        "zp",
        F.floor((F.col("slon") + L) / F.col("w")).alias("colmin0"),
        F.floor((F.col("elon") + L) / F.col("w")).alias("colmax"),
        F.floor((F.col("minlat") + L9) / F.col("w")).alias("rowmin0"),
        F.floor((F.col("maxlat") + L9) / F.col("w")).alias("rowmax"),
    )
    if enlarge:
        cols = cols.select(
            "bid",
            "zoom",
            "zp",
            F.when(F.col("colmin0") > 0, F.col("colmin0") - 1)
            .otherwise(F.col("colmin0"))
            .alias("colmin"),
            "colmax",
            F.when(F.col("rowmin0") > 0, F.col("rowmin0") - 1)
            .otherwise(F.col("rowmin0"))
            .alias("rowmin"),
            "rowmax",
        )
    else:
        cols = cols.withColumnRenamed("colmin0", "colmin").withColumnRenamed(
            "rowmin0", "rowmin"
        )
    ranges = cols.select(
        "bid",
        "zoom",
        "zp",
        "colmin",
        "colmax",
        F.explode(F.sequence(F.col("rowmin"), F.col("rowmax"))).alias("rr"),
    ).select(
        "bid",
        "zoom",
        (F.col("rr") * F.col("zp") + F.col("colmin")).alias("range_start"),
        (F.col("rr") * F.col("zp") + F.col("colmax")).alias("range_end"),
    )
    garbage = (
        norm.filter("garbage")
        .select("bid")
        .withColumn("zoom0", F.explode(F.sequence(F.lit(0), F.lit(maxzoom))))
        .withColumn("zoom", F.col("zoom0").cast("long"))
        .select(
            "bid",
            "zoom",
            F.lit(-1).cast("long").alias("range_start"),
            F.lit(-1).cast("long").alias("range_end"),
        )
    )
    return ranges.unionByName(garbage).distinct()


def mann_kendall_cells(
    points: DataFrame,
    zoom: int,
    t0_us: int,
    period_us: int,
    n_periods: int,
    ts_col: str = "ts_us",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Per-cell Mann-Kendall trend over the regular time series of cell
    counts (Mann 1945 / Kendall's S with the tie-corrected variance) —
    the space-time "emerging hot spot" statistic layered on the same
    cell counts as gi_star_hotspots, but along the TIME axis.

    Per occupied cell, the count series over the n_periods bins
    [t0 + k*period, t0 + (k+1)*period) — absent bins are ZERO counts,
    zerofilled inside the per-cell array, never as extra rows — yields

      * ``s_stat``  = sum over bin pairs i<j of sign(x_j - x_i)
      * ``var18``   = 18 * Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5)
                      over tie groups of size t

    both EXACT integers (the z-score s/sqrt(var18/18) is left to the
    caller — no doubles anywhere in the gate).

    Plan shape: points shuffle ONCE into (cell, period) counts; the
    pivot to a fixed n_periods-element array and both statistics are
    pure Column array algebra on the cell table (no Python, no UDF,
    no self-join — the O(n^2) pair walk runs inside one row).
    """
    cell_fp = 3_600_000_000 >> zoom
    n = int(n_periods)
    counts = (
        points.select(
            F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
            F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
            F.expr(f"({ts_col} - {int(t0_us)}L) DIV {int(period_us)}L").alias("p"),
        )
        .filter((F.col("p") >= 0) & (F.col("p") < n))
        .groupBy("cx", "cy", "p")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series = counts.groupBy("cx", "cy").agg(
        F.map_from_entries(F.collect_list(F.struct("p", "x"))).alias("mp")
    ).withColumn(
        "arr",
        F.expr(
            f"transform(sequence(0, {n - 1}),"
            " b -> coalesce(element_at(mp, CAST(b AS BIGINT)), 0L))"
        ),
    )
    s_expr = (
        f"aggregate(flatten(transform(sequence(0, {n - 2}),"
        f" i -> transform(sequence(i + 1, {n - 1}),"
        " j -> CASE WHEN arr[j] > arr[i] THEN 1L"
        " WHEN arr[j] < arr[i] THEN -1L ELSE 0L END))),"
        " 0L, (acc, v) -> acc + v)"
    )
    ties_expr = (
        "aggregate(transform(array_distinct(arr),"
        " v -> CAST(size(filter(arr, e -> e = v)) AS BIGINT)),"
        " 0L, (acc, t) -> acc + t * (t - 1) * (2 * t + 5))"
    )
    full = n * (n - 1) * (2 * n + 5)
    return series.select(
        "cx",
        "cy",
        F.expr(s_expr).alias("s_stat"),
        (F.lit(full) - F.expr(ties_expr)).cast("long").alias("var18"),
    )


def segment_cell_cover(
    segments: DataFrame,
    zoom: int,
    id_col: str = "seg_id",
    x1_col: str = "x1",
    y1_col: str = "y1",
    x2_col: str = "x2",
    y2_col: str = "y2",
) -> DataFrame:
    """EXACT segment rasterization incidence: the set of grid cells at
    ``zoom`` that each line segment actually passes through — the
    polyline analogue of the point insert rule and the precise form of
    the bbox cover the segment-intersection join buckets with (a bbox
    cover over-reports diagonal segments by up to the full rectangle;
    this operator refines it to the true traversed cells, the
    street-per-cell / trajectory-heatmap primitive).

    Input coordinates are raw OSM fixed-point lon/lat; cells are
    (cx, cy) at ``zoom`` (cell = 3.6e9 >> zoom fp).  CLOSED-cell
    semantics: a segment touching a shared cell edge/corner counts in
    every touching cell — deterministic and engine-portable (no open-
    boundary sign games).

    Exactness: a segment intersects an axis-aligned closed box iff
    (a) their bboxes overlap — guaranteed here by deriving candidates
    from the segment's own bbox rows/columns — and (b) the box
    STRADDLES the segment's line: the four corner cross products are
    not all strictly one sign.  Cross products run in DECIMAL(38,0)
    (3.6e9-wide deltas overflow int64 at 1.3e19) — exact, JVM-side.

    Plan shape: pure Catalyst — two nested ``sequence`` explodes over
    the bbox cell range (fan-out = segment extent / cell size; bounded
    for trajectory steps) + a whole-stage-codegen predicate.  No UDF,
    no shuffle beyond what the caller does with the result.

    Returns ``(seg_id, cx:long, cy:long)``.
    """
    w = 3_600_000_000 >> zoom
    d = "decimal(38,0)"
    sx1 = F.col(x1_col) + F.lit(1_800_000_000)
    sy1 = F.col(y1_col) + F.lit(900_000_000)
    sx2 = F.col(x2_col) + F.lit(1_800_000_000)
    sy2 = F.col(y2_col) + F.lit(900_000_000)
    base = segments.select(
        F.col(id_col).alias("seg_id"),
        sx1.cast("long").alias("ax"),
        sy1.cast("long").alias("ay"),
        sx2.cast("long").alias("bx"),
        sy2.cast("long").alias("by"),
    )
    cand = (
        base.withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.expr(f"least(ax, bx) DIV {w}"),
                    F.expr(f"greatest(ax, bx) DIV {w}"),
                )
            ),
        )
        .withColumn(
            "cy",
            F.explode(
                F.sequence(
                    F.expr(f"least(ay, by) DIV {w}"),
                    F.expr(f"greatest(ay, by) DIV {w}"),
                )
            ),
        )
    )
    dx = (F.col("bx") - F.col("ax")).cast(d)
    dy = (F.col("by") - F.col("ay")).cast(d)

    def _cross(xc, yc):
        return dx * (yc - F.col("ay")).cast(d) - dy * (
            xc - F.col("ax")
        ).cast(d)

    x0 = F.col("cx") * w
    x1b = (F.col("cx") + 1) * w
    y0 = F.col("cy") * w
    y1b = (F.col("cy") + 1) * w
    c1 = _cross(x0, y0)
    c2 = _cross(x1b, y0)
    c3 = _cross(x0, y1b)
    c4 = _cross(x1b, y1b)
    straddles = (F.least(c1, c2, c3, c4) <= 0) & (
        F.greatest(c1, c2, c3, c4) >= 0
    )
    return cand.filter(straddles).select("seg_id", "cx", "cy")
