"""kNN via grid-cell ring expansion.

Reference primitive: XYGrid.getNeighbours (3x3 ring,
/root/reference/oshdb/src/main/java/org/heigit/ohsome/oshdb/index/XYGrid.java:409-423)
generalized to radius-R rings — the north-rule kNN.

Plan shape (2 Spark jobs total, no iteration over the data):

  1. histogram: ``groupBy(cx, cy).count()`` — at the working zoom the grid
     has at most ``2^zoom * 2^(zoom-1)`` cells, and only non-empty cells
     materialize, so the collected histogram is tiny even when the point
     table is huge.  The collect is capped (``HISTOGRAM_CAP``); past the
     cap the histogram is taken again at a coarser zoom (the bound math
     below is zoom-independent).
  2. on the driver, for every query: sort the non-empty cells by planar
     Chebyshev cell distance rho, take the smallest r_inner whose
     cumulative count reaches k — every one of those points lies within
     planar distance (r_inner + 1) * w * sqrt(2).  Any point in an
     unscanned cell at ring >= R+1 is at distance >= R * w, so scanning
     ring R = ceil(sqrt(2) * (r_inner + 1)) guarantees the exact top-k.
  3. one broadcast hash join of the (small) per-query candidate-cell set,
     a JVM local relation built on the driver, against the points, then a
     window rank per query.  The points never shuffle for the join
     (broadcast side is the ring set); the only shuffle is the per-qid
     top-k window over the bounded candidate set.

The distance metric is planar squared degrees computed with the exact same
IEEE-double expression the oracle SQL uses (no anti-meridian wrap in the
metric; the x-wrapped ring cells only ever ADD candidates, which rank out
naturally, so the exactness bound is unaffected).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oshdb_spark.session import local_frame

_OSM_180 = 1_800_000_000
_OSM_90 = 900_000_000
# most histogram cells knn_join collects to the driver (zoom 12 fills
# 2^12 * 2^11 = 8.4M cells; zoom 6, the default, at most 2048)
HISTOGRAM_CAP = 1_000_000


def _cell_xy(zoom: int, lon: F.Column, lat: F.Column) -> tuple[F.Column, F.Column]:
    """XYGrid-style x/y cell coordinates (XYGrid.java:140-168) as Columns.

    Unlike the parity grid, lon == +180 is NOT wrapped to column 0: the
    distance metric below is unwrapped planar degrees, so wrapping a
    +180-boundary point next to a query near -180 would inflate the
    histogram count at small rho and break the r_inner exactness bound.
    The boundary gets the unwrapped column (nx), consistent with the
    metric; it only matters for this module's internal bookkeeping.
    """
    w = 360.0 / (1 << zoom) * 1e7
    lon_s = lon.cast("long") + F.lit(_OSM_180)
    lat_s = lat.cast("long") + F.lit(_OSM_90)
    lat_s = F.when(lat_s == 2 * _OSM_90, lat_s - 1).otherwise(lat_s)
    return F.floor(lon_s / F.lit(w)), F.floor(lat_s / F.lit(w))


def _cell_xy_py(zoom: int, lon_fp: int, lat_fp: int) -> tuple[int, int]:
    w = 360.0 / (1 << zoom) * 1e7
    lon_s = lon_fp + _OSM_180
    lat_s = lat_fp + _OSM_90
    if lat_s == 2 * _OSM_90:
        lat_s -= 1
    return int(math.floor(lon_s / w)), int(math.floor(lat_s / w))


def _cell_histogram(
    points: DataFrame, zoom: int, cap: int
) -> tuple[int, list[tuple[int, int, int]]]:
    """(zoom, [(cx, cy, n)]): the non-empty cell histogram, collected at
    ``zoom`` or, past ``cap`` cells, at the coarsest zoom whose histogram
    fits (each retry halves the cell side; zoom 0 has at most 2 cells)."""
    while True:
        x_col, y_col = _cell_xy(zoom, F.col("lon_fp"), F.col("lat_fp"))
        rows = (
            points.groupBy(x_col.alias("cx"), y_col.alias("cy"))
            .agg(F.count("*").alias("n"))
            .limit(cap + 1)
            .collect()
        )
        if len(rows) <= cap or zoom == 0:
            return zoom, [(r["cx"], r["cy"], r["n"]) for r in rows]
        zoom -= 1


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int = 5,
    zoom: int = 6,
) -> DataFrame:
    """Exact k nearest points (by planar degree distance) per query.

    points: DataFrame with (event_id, lon_fp, lat_fp) fixed-point coords.
    queries: [(qid, qlon_fp, qlat_fp), ...] — small, driver-side.
    Returns (qid, neighbor_id, rank), rank 1..k.

    The driver collects at most ``HISTOGRAM_CAP`` histogram cells: past
    it, the histogram is taken again at a coarser zoom (the exactness
    bound holds at any zoom; a coarser grid only scans more candidates).
    The ring and query sets reach the plan as driver-side constants
    (``session.local_frame``), so the join starts no Python worker.
    """
    # job 1: non-empty cell histogram (bounded by the grid size and the cap)
    zoom, hist = _cell_histogram(points, zoom, HISTOGRAM_CAP)
    nx = 1 << zoom
    cell_w_deg = 360.0 / nx
    x_col, y_col = _cell_xy(zoom, F.col("lon_fp"), F.col("lat_fp"))
    pts = points.select(
        "event_id", "lon_fp", "lat_fp", x_col.alias("cx"), y_col.alias("cy")
    )

    # driver-side: per query, the exact safe scan radius
    ring_rows: list[tuple[int, int, int]] = []
    for qid, qx_fp, qy_fp in queries:
        cqx, cqy = _cell_xy_py(zoom, qx_fp, qy_fp)
        by_rho = sorted(
            (max(abs(hx - cqx), abs(hy - cqy)), n) for hx, hy, n in hist
        )
        cum, r_inner = 0, by_rho[-1][0] if by_rho else 0
        for rho, n in by_rho:
            cum += n
            if cum >= k:
                r_inner = rho
                break
        r_scan = math.ceil(math.sqrt(2.0) * (r_inner + 1))
        if cum < k or r_scan >= nx // 2:
            r_scan = nx  # full cover (fewer than k points, or tiny grid)
        for hx, hy, _n in hist:
            dx = abs(hx - cqx)
            if max(min(dx, nx - dx), abs(hy - cqy)) <= r_scan:
                ring_rows.append((qid, hx, hy))

    ring_df = local_frame(spark, ring_rows, "qid int, cx long, cy long")
    qdf = local_frame(
        spark, [(q, x, y) for q, x, y in queries], "qid int, qlon long, qlat long"
    )

    # job 2: broadcast candidate-cell join + per-query top-k
    cand = pts.join(F.broadcast(ring_df), ["cx", "cy"], "inner").join(
        F.broadcast(qdf), "qid"
    )
    d2 = (
        ((F.col("lon_fp") - F.col("qlon")) / F.lit(1e7))
        * ((F.col("lon_fp") - F.col("qlon")) / F.lit(1e7))
    ) + (
        ((F.col("lat_fp") - F.col("qlat")) / F.lit(1e7))
        * ((F.col("lat_fp") - F.col("qlat")) / F.lit(1e7))
    )
    ranked = (
        cand.withColumn("d2", d2)
        .withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("qid").orderBy("d2", "event_id")),
        )
        .filter(F.col("rank") <= k)
    )
    # exactness holds by construction: the k-th candidate distance is
    # <= (r_inner+1)*w*sqrt(2) <= r_scan*w <= any unscanned cell's distance
    assert cell_w_deg > 0
    return ranked.select("qid", F.col("event_id").alias("neighbor_id"), "rank")


def dwithin_join(
    points: DataFrame,
    r_fp: int,
    zoom: int = 9,
    id_col: str = "event_id",
) -> DataFrame:
    """Distance-band (DWithin) self-join: every unordered point pair at
    planar fixed-point degree distance <= ``r_fp`` (squared-integer
    predicate), the set-returning sibling of :func:`knn_join` — the
    reference reaches the same pairs by scanning ``getNeighbours`` rings
    per cell (XYGrid.java:409-423); here the ring is an equi-join key.

    Shape: bucket every point into an integer grid of width
    ``cell_fp = 3_600_000_000 >> zoom``; the PROBE side explodes each
    point to its ``(2*ring+1)^2`` neighbor cells
    (``ring = r_fp // cell_fp + 1``, a plan-time constant — pick zoom
    so cell width ~ r and the factor stays 9), the BUILD side keeps the
    home cell only, and one hash equi-join on ``(jx, jy)`` + the exact
    long-arithmetic predicate ``dlon^2 + dlat^2 <= r_fp^2`` refines.
    Each qualifying pair is emitted EXACTLY once: the build point's home
    cell is unique and the probe point visits each ring cell once, with
    ``a_id < b_id`` de-mirroring.  No brute force anywhere: candidate
    volume is (local density) x 9, not n^2; dense-cell skew is the same
    salted-join problem as cell_hash_join (plans/skew.py applies).

    Determinism contract: bucketing, join keys and the distance
    predicate are all pure 64-bit integer arithmetic — bit-identical in
    any engine; d2 (long) is safe to hash-compare.
    """
    cell_fp = 3_600_000_000 >> zoom
    # floor+1, not ceil: two floor-buckets of points D apart can
    # differ by floor(D/c)+1 when D is an exact multiple of c
    ring = int(r_fp) // cell_fp + 1
    p = points.select(
        F.col(id_col).alias("id"),
        "lon_fp",
        "lat_fp",
        F.expr(f"(lon_fp + {_OSM_180}) DIV {cell_fp}").alias("cx"),
        F.expr(f"(lat_fp + {_OSM_90}) DIV {cell_fp}").alias("cy"),
    )
    deltas = F.array(*[F.lit(d) for d in range(-ring, ring + 1)])
    probe = (
        p.withColumn("dx", F.explode(deltas))
        .withColumn("dy", F.explode(deltas))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            F.col("id").alias("a_id"),
            F.col("lon_fp").alias("a_lon"),
            F.col("lat_fp").alias("a_lat"),
        )
    )
    build = p.select(
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
        F.col("id").alias("b_id"),
        F.col("lon_fp").alias("b_lon"),
        F.col("lat_fp").alias("b_lat"),
    )
    d2 = (F.col("a_lon") - F.col("b_lon")) * (
        F.col("a_lon") - F.col("b_lon")
    ) + (F.col("a_lat") - F.col("b_lat")) * (F.col("a_lat") - F.col("b_lat"))
    return (
        probe.join(build, ["jx", "jy"])
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("d2", d2)
        .where(F.col("d2") <= F.lit(int(r_fp) * int(r_fp)))
        .select("a_id", "b_id", "d2")
    )


def dwithin_join_geodesic(
    points: DataFrame,
    r_m: float,
    zoom: int = 8,
    id_col: str = "event_id",
    max_abs_lat_deg: float = 85.0,
) -> DataFrame:
    """Geodesic distance-band self-join: every unordered point pair
    within ``r_m`` meters of great-circle (haversine, R_mean sphere —
    the same sphere Geo.lengthOf uses, geometry/geo.py:25) — the
    latitude-aware sibling of :func:`dwithin_join`.

    The planar variant's constant ring is wrong on a sphere: a fixed
    meter radius spans more LONGITUDE degrees at high latitude
    (1/cos(lat)).  Here the probe side's x-ring is a PER-ROW column —
    ``explode(sequence(-rx, rx))`` with
    ``rx = ceil(r_lon_deg(lat) / cell_deg)`` computed from each point's
    own latitude, conservatively widened by the worst-case latitude
    shift of a within-r partner (so the cover proof holds: a pair
    within r_m always shares a (jx, jy) key).  The y-ring stays
    constant (meridian degrees are ~constant).  Explode factor is
    (2*rx+1) * (2*ry+1) per point — ~9 at the equator, growing toward
    |lat| = ``max_abs_lat_deg`` where rx is capped (points beyond the
    cap would need a polar-cell scheme; the synthetic corpus tops out
    at 85).

    Determinism contract: the candidate cover is integer arithmetic;
    the haversine refine is a pure double function of the four
    fixed-point ints, ROUNDED to 6 decimal meters on both engines
    before the threshold compare, so a 1-ulp libm difference cannot
    flip membership (the 9dp-round discipline of the oracle rules).
    Returns (a_id, b_id, dist_m DECIMAL(18,6)).
    """
    import math

    cell_fp = 3_600_000_000 >> zoom
    cell_deg = cell_fp / 1e7
    # worst-case latitude displacement of a within-r partner, in degrees
    dlat_max_deg = r_m / 110_567.0
    ry = int(math.ceil(dlat_max_deg * 1e7)) // cell_fp + 1
    # cap for rx at the highest supported latitude
    worst_cos = math.cos(math.radians(min(89.9, max_abs_lat_deg + dlat_max_deg)))
    rx_cap = int(r_m / (110_500.0 * worst_cos) / cell_deg) + 2

    p = points.select(
        F.col(id_col).alias("id"),
        "lon_fp",
        "lat_fp",
        F.expr(f"(lon_fp + {_OSM_180}) DIV {cell_fp}").alias("cx"),
        F.expr(f"(lat_fp + {_OSM_90}) DIV {cell_fp}").alias("cy"),
    )
    # per-row x-ring: widen own latitude by the partner's max shift
    abs_lat = F.abs(F.col("lat_fp")) / F.lit(1e7) + F.lit(dlat_max_deg)
    cos_lat = F.cos(F.radians(F.least(abs_lat, F.lit(89.9))))
    rx = F.least(
        F.floor(F.lit(r_m) / (F.lit(110_500.0) * cos_lat) / F.lit(cell_deg))
        + F.lit(1),
        F.lit(rx_cap),
    ).cast("int")
    dy = F.array(*[F.lit(d) for d in range(-ry, ry + 1)])
    probe = (
        p.withColumn("dx", F.explode(F.sequence(-rx, rx)))
        .withColumn("dy", F.explode(dy))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            F.col("id").alias("a_id"),
            F.col("lon_fp").alias("a_lon"),
            F.col("lat_fp").alias("a_lat"),
        )
    )
    build = p.select(
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
        F.col("id").alias("b_id"),
        F.col("lon_fp").alias("b_lon"),
        F.col("lat_fp").alias("b_lat"),
    )
    to_rad = 3.141592653589793 / 180.0 / 1e7
    la1 = F.col("a_lat") * F.lit(to_rad)
    la2 = F.col("b_lat") * F.lit(to_rad)
    dla = (F.col("b_lat") - F.col("a_lat")) * F.lit(to_rad)
    dlo = (F.col("b_lon") - F.col("a_lon")) * F.lit(to_rad)
    h = F.sin(dla / 2) * F.sin(dla / 2) + F.cos(la1) * F.cos(la2) * F.sin(
        dlo / 2
    ) * F.sin(dlo / 2)
    dist = (
        F.lit(2.0 * 6_371_000.0) * F.asin(F.sqrt(h))
    )
    dist6 = F.round(dist, 6).cast("decimal(18,6)")
    return (
        probe.join(build, ["jx", "jy"])
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("dist_m", dist6)
        .where(F.col("dist_m") <= F.lit(float(r_m)))
        .select("a_id", "b_id", "dist_m")
    )


def segment_intersection_join(
    segments: DataFrame,
    zoom: int = 9,
    id_col: str = "seg_id",
    ax_col: str = "ax",
    ay_col: str = "ay",
    bx_col: str = "bx",
    by_col: str = "by",
) -> DataFrame:
    """Exact segment-segment PROPER-intersection self-join (the
    "crosses" predicate: the two open segments share exactly one
    interior point) — trajectory self-crossing / street-crossing
    detection, the line-line sibling of :func:`dwithin_join` and the
    engine's point-in-polygon joins.

    Plan (no UDF anywhere):

      1. each segment lands in EVERY zoom-``zoom`` cell its bbox covers
         (``explode(sequence(x0, x1)) x explode(sequence(y0, y1))`` —
         the XYGrid insert rule generalized to full bbox cover, cf.
         operators/tiling.py cell_cover_ranges);
      2. candidate pairs = cell equi-join with ``a_id < b_id``, distinct
         (a pair sharing several cells is tested once);
      3. the exact CCW orientation predicate (CLRS 33.1): AB crosses CD
         iff C and D strictly straddle line AB *and* A and B strictly
         straddle line CD.  Cross products run in decimal(38,0), so the
         test is integer-exact for the full +-1.8e9 fixed-point domain
         (int64 would overflow: the two 19-digit product terms can
         differ by ~1.3e19).  Collinear overlaps and shared endpoints
         (e.g. consecutive track segments) are by definition NOT proper
         crossings and are excluded.

    Scale posture: the bbox cover bounds the per-segment fan-out
    (short segments -> 1-4 cells); dense cells are the same skew
    surface as every cell join here (salt or cap as in plans/skew.py);
    the orientation test is pure Column algebra inside one
    whole-stage-codegen span.  Returns distinct ``(a_id, b_id)``.
    """
    cell = 3_600_000_000 >> zoom
    s = segments.select(
        F.col(id_col).alias("id"),
        (F.col(ax_col).cast("long") + F.lit(_OSM_180)).alias("x1"),
        (F.col(ay_col).cast("long") + F.lit(_OSM_90)).alias("y1"),
        (F.col(bx_col).cast("long") + F.lit(_OSM_180)).alias("x2"),
        (F.col(by_col).cast("long") + F.lit(_OSM_90)).alias("y2"),
    )
    cov = s.select(
        "id",
        "x1",
        "y1",
        "x2",
        "y2",
        F.explode(
            F.expr(
                f"sequence(least(x1, x2) DIV {cell},"
                f" greatest(x1, x2) DIV {cell})"
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.expr(
                f"sequence(least(y1, y2) DIV {cell},"
                f" greatest(y1, y2) DIV {cell})"
            )
        ).alias("cy"),
    )
    a = cov.select(
        F.col("id").alias("a_id"),
        F.col("x1").alias("ax1"),
        F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"),
        F.col("y2").alias("ay2"),
        "cx",
        "cy",
    )
    b = cov.select(
        F.col("id").alias("b_id"),
        F.col("x1").alias("bx1"),
        F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"),
        F.col("y2").alias("by2"),
        "cx",
        "cy",
    )

    def _d(c: str) -> F.Column:
        return F.col(c).cast("decimal(38,0)")

    def orient(px, py, qx, qy, rx, ry) -> F.Column:
        return (_d(qx) - _d(px)) * (_d(ry) - _d(py)) - (
            _d(qy) - _d(py)
        ) * (_d(rx) - _d(px))

    o1 = orient("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    o2 = orient("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    o3 = orient("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    o4 = orient("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    zero = F.lit(0).cast("decimal(38,0)")
    straddle = (
        ((o1 > zero) & (o2 < zero) | (o1 < zero) & (o2 > zero))
        & ((o3 > zero) & (o4 < zero) | (o3 < zero) & (o4 > zero))
    )
    return (
        a.join(b, ["cx", "cy"])
        .where(F.col("a_id") < F.col("b_id"))
        .where(straddle)
        .select("a_id", "b_id")
        .distinct()
    )


def nearest_segment_snap(
    points: DataFrame,
    segments: DataFrame,
    zoom: int = 9,
    ring: int = 1,
    point_id_col: str = "event_id",
    seg_id_col: str = "seg_id",
) -> DataFrame:
    """Nearest-segment snap (the map-matching primitive): for every
    point, the closest segment among those whose bbox-cover cell lies in
    the point's (2*ring+1)^2 neighbor-cell window, with the EXACT
    point-to-segment distance and a deterministic min-seg-id tie-break.

    The squared distance is integer-exact end to end:

      * ``dot = AP.AB``, ``len2 = |AB|^2`` and the endpoint sqdists in
        decimal(38,0) (two fp diffs can reach 3.6e9 each, whose int64
        product would silently wrap);
      * interior projection distance = ``floor(cross^2 / len2)`` with
        ``cross^2`` in decimal(38,0) (<= 4.2e37, fits) and the floor
        taken by integral ``div`` — DuckDB's HUGEINT ``//`` computes the
        identical value, so the snap choice and the reported ``d2`` are
        bit-stable across engines;
      * endpoint cases (``dot <= 0`` / ``dot >= len2`` / degenerate
        zero-length segment) fall back to plain int64 point sqdist.

    Candidate recall contract: a segment is found iff one of its cover
    cells is within ``ring`` cells of the point's cell — with the
    default ``ring=1`` that guarantees every segment within one cell
    width of the point is considered (the 3x3 getNeighbours window,
    XYGrid.java:409-423); points with no candidate in the window are
    absent from the output.  Scale: candidates = local density x ring
    area, never |points| x |segments|; the min-reduce is map-side
    combinable.  Returns ``(point_id, seg_id, d2:long)``.
    """
    cell = 3_600_000_000 >> zoom
    pt = points.select(
        F.col(point_id_col).alias("pid"),
        (F.col("lon_fp").cast("long") + F.lit(_OSM_180)).alias("px"),
        (F.col("lat_fp").cast("long") + F.lit(_OSM_90)).alias("py"),
    )
    deltas = F.array(*[F.lit(d) for d in range(-ring, ring + 1)])
    pt = (
        pt.withColumn("_dx", F.explode(deltas))
        .withColumn("_dy", F.explode(deltas))
        .select(
            "pid",
            "px",
            "py",
            (F.expr(f"px DIV {cell}") + F.col("_dx")).alias("cx"),
            (F.expr(f"py DIV {cell}") + F.col("_dy")).alias("cy"),
        )
    )
    sg = segments.select(
        F.col(seg_id_col).alias("sid"),
        (F.col("ax").cast("long") + F.lit(_OSM_180)).alias("x1"),
        (F.col("ay").cast("long") + F.lit(_OSM_90)).alias("y1"),
        (F.col("bx").cast("long") + F.lit(_OSM_180)).alias("x2"),
        (F.col("by").cast("long") + F.lit(_OSM_90)).alias("y2"),
    )
    cov = sg.select(
        "*",
        F.explode(
            F.expr(
                f"sequence(least(x1, x2) DIV {cell},"
                f" greatest(x1, x2) DIV {cell})"
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.expr(
                f"sequence(least(y1, y2) DIV {cell},"
                f" greatest(y1, y2) DIV {cell})"
            )
        ).alias("cy"),
    )
    j = pt.join(cov, ["cx", "cy"])
    dec = "decimal(38,0)"

    def _d(c: str) -> F.Column:
        # all quadratic forms in decimal(38,0): two fp diffs can reach
        # 3.6e9 each, whose int64 product would silently wrap
        return F.col(c).cast(dec)

    dot = (_d("px") - _d("x1")) * (_d("x2") - _d("x1")) + (
        _d("py") - _d("y1")
    ) * (_d("y2") - _d("y1"))
    len2 = (_d("x2") - _d("x1")) * (_d("x2") - _d("x1")) + (
        _d("y2") - _d("y1")
    ) * (_d("y2") - _d("y1"))
    da = (_d("px") - _d("x1")) * (_d("px") - _d("x1")) + (
        _d("py") - _d("y1")
    ) * (_d("py") - _d("y1"))
    db = (_d("px") - _d("x2")) * (_d("px") - _d("x2")) + (
        _d("py") - _d("y2")
    ) * (_d("py") - _d("y2"))
    cross = (_d("x2") - _d("x1")) * (_d("py") - _d("y1")) - (
        _d("y2") - _d("y1")
    ) * (_d("px") - _d("x1"))
    j = (
        j.withColumn("_dot", dot)
        .withColumn("_len2", len2)
        .withColumn("_crosssq", (cross * cross).cast(dec))
        .withColumn("_da", da)
        .withColumn("_db", db)
    )
    zero = F.lit(0).cast(dec)
    d2 = (
        F.when((F.col("_len2") == zero) | (F.col("_dot") <= zero), F.col("_da"))
        .when(F.col("_dot") >= F.col("_len2"), F.col("_db"))
        .otherwise(F.expr("_crosssq DIV _len2"))
        .cast("long")
    )
    # a point sees a multi-cell segment once per shared window cell:
    # the min-struct reduce collapses duplicates for free
    return (
        j.select("pid", F.struct(d2.alias("d2"), F.col("sid")).alias("_c"))
        .groupBy("pid")
        .agg(F.min("_c").alias("_m"))
        .select(
            F.col("pid").alias("point_id"),
            F.col("_m.sid").alias("seg_id"),
            F.col("_m.d2").alias("d2"),
        )
    )


def ripley_k_counts(
    points: DataFrame,
    radii_fp: list[int],
    zoom: int = 8,
    id_col: str = "event_id",
) -> DataFrame:
    """Ripley's K pair counts at a ladder of radii (Ripley 1977) — the
    multi-scale point-pattern statistic downstream tools plot as K(r) /
    L(r): for each radius r in ``radii_fp``, the number of UNORDERED
    point pairs at planar fixed-point distance <= r.  The caller applies
    the constant normalization ``K(r) = A * 2 * n_pairs / (n * (n-1))``
    (A = study area; factor 2 converts unordered to ordered pairs) —
    left out because the exact integer counts are the hash-gateable
    part, the normalization is one scalar multiply.

    Plan shape: ONE candidate generation at max(radii) via
    :func:`dwithin_join` (cell-bucketed equi-join, never n^2), then a
    single full aggregate with k conditional sums — the radius ladder
    adds ZERO extra shuffled rows (no per-radius explode; partial
    aggregation reduces each task to one k-column row before the
    1-row exchange).  unpivot(stack) reshapes the single row to
    (r_fp, n_pairs) rows driver-side-free.

    Determinism: d2 and the thresholds are exact longs (dwithin
    pre-filters to d2 <= max_r^2, well inside int64 for any radius the
    fixed-point domain admits), so counts are bit-identical in any
    engine.

    Returns ``(r_fp:long, n_pairs:long)``, one row per radius; radii
    with no pairs report 0 rather than dropping out.
    """
    radii = sorted(int(r) for r in radii_fp)
    pairs = dwithin_join(points, radii[-1], zoom=zoom, id_col=id_col)
    aggs = [
        F.sum(
            F.when(F.col("d2") <= F.lit(r * r), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias(f"c{i}")
        for i, r in enumerate(radii)
    ]
    one = pairs.agg(*aggs)
    stack = ", ".join(
        f"CAST({r} AS BIGINT), COALESCE(c{i}, CAST(0 AS BIGINT))"
        for i, r in enumerate(radii)
    )
    return one.selectExpr(
        f"stack({len(radii)}, {stack}) AS (r_fp, n_pairs)"
    )


def knox_spacetime_pairs(
    points: DataFrame,
    r_fp: int,
    tau_us: int,
    zoom: int = 8,
    id_col: str = "event_id",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Knox space-time interaction pairs (Knox 1964, the classic
    disease-cluster test): unordered point pairs that are close in BOTH
    space (planar fixed-point distance <= ``r_fp``) and time
    (|t_a - t_b| <= ``tau_us``).  The Knox statistic X is simply the
    count of returned rows; the expectation under independence uses the
    marginal close-in-space and close-in-time pair counts, which the
    caller gets from :func:`dwithin_join` and a timestamp self-join —
    here the exact pair SET is returned so downstream can compute any
    of the variants (Knox X, Mantel, Jacquez).

    Plan shape: space is the selective predicate at scale (time-only
    windows span the whole globe), so candidates come from the same
    cell-bucketed equi-join as :func:`dwithin_join` and the time band
    is a residual column predicate — no second shuffle, no time join.

    Determinism: pure int64 arithmetic end to end.
    Returns ``(a_id, b_id, d2:long, dt_us:long)``.
    """
    cell_fp = 3_600_000_000 >> zoom
    ring = int(r_fp) // cell_fp + 1
    p = points.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).cast("long").alias("t"),
        "lon_fp",
        "lat_fp",
        F.expr(f"(lon_fp + {_OSM_180}) DIV {cell_fp}").alias("cx"),
        F.expr(f"(lat_fp + {_OSM_90}) DIV {cell_fp}").alias("cy"),
    )
    deltas = F.array(*[F.lit(d) for d in range(-ring, ring + 1)])
    probe = (
        p.withColumn("dx", F.explode(deltas))
        .withColumn("dy", F.explode(deltas))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            F.col("id").alias("a_id"),
            F.col("t").alias("a_t"),
            F.col("lon_fp").alias("a_lon"),
            F.col("lat_fp").alias("a_lat"),
        )
    )
    build = p.select(
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
        F.col("id").alias("b_id"),
        F.col("t").alias("b_t"),
        F.col("lon_fp").alias("b_lon"),
        F.col("lat_fp").alias("b_lat"),
    )
    d2 = (F.col("a_lon") - F.col("b_lon")) * (
        F.col("a_lon") - F.col("b_lon")
    ) + (F.col("a_lat") - F.col("b_lat")) * (F.col("a_lat") - F.col("b_lat"))
    dt = F.abs(F.col("a_t") - F.col("b_t"))
    return (
        probe.join(build, ["jx", "jy"])
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("d2", d2)
        .withColumn("dt_us", dt)
        .where(
            (F.col("d2") <= F.lit(int(r_fp) * int(r_fp)))
            & (F.col("dt_us") <= F.lit(int(tau_us)))
        )
        .select("a_id", "b_id", "d2", "dt_us")
    )


def cross_dwithin_join(
    points_a: DataFrame,
    points_b: DataFrame,
    r_fp: int,
    zoom: int = 8,
    id_col: str = "event_id",
) -> DataFrame:
    """Bivariate distance-band join: every (a, b) pair with a from
    ``points_a``, b from ``points_b``, at planar fixed-point distance
    <= ``r_fp`` — the two-class sibling of :func:`dwithin_join`
    (colocation mining, facility catchment, cross-type interaction).
    Both inputs carry ``id_col``/lon_fp/lat_fp.

    Same cover proof as dwithin_join: A explodes to the neighbor ring,
    B keeps its home cell, one hash equi-join + the exact int64
    predicate refines.  No de-mirroring (the classes are distinct
    row sets; every qualifying (a, b) appears exactly once).

    Returns ``(a_id, b_id, d2:long)``.
    """
    cell_fp = 3_600_000_000 >> zoom
    ring = int(r_fp) // cell_fp + 1
    deltas = F.array(*[F.lit(d) for d in range(-ring, ring + 1)])
    probe = (
        points_a.select(
            F.col(id_col).alias("a_id"),
            F.col("lon_fp").alias("a_lon"),
            F.col("lat_fp").alias("a_lat"),
            F.expr(f"(lon_fp + {_OSM_180}) DIV {cell_fp}").alias("cx"),
            F.expr(f"(lat_fp + {_OSM_90}) DIV {cell_fp}").alias("cy"),
        )
        .withColumn("dx", F.explode(deltas))
        .withColumn("dy", F.explode(deltas))
        .select(
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
            "a_id",
            "a_lon",
            "a_lat",
        )
    )
    build = points_b.select(
        F.expr(f"(lon_fp + {_OSM_180}) DIV {cell_fp}").alias("jx"),
        F.expr(f"(lat_fp + {_OSM_90}) DIV {cell_fp}").alias("jy"),
        F.col(id_col).alias("b_id"),
        F.col("lon_fp").alias("b_lon"),
        F.col("lat_fp").alias("b_lat"),
    )
    d2 = (F.col("a_lon") - F.col("b_lon")) * (
        F.col("a_lon") - F.col("b_lon")
    ) + (F.col("a_lat") - F.col("b_lat")) * (F.col("a_lat") - F.col("b_lat"))
    return (
        probe.join(build, ["jx", "jy"])
        .withColumn("d2", d2)
        .where(F.col("d2") <= F.lit(int(r_fp) * int(r_fp)))
        .select("a_id", "b_id", "d2")
    )


def cross_k_counts(
    points: DataFrame,
    class_col: str,
    radii_fp: list[int],
    zoom: int = 8,
    id_col: str = "event_id",
) -> DataFrame:
    """Bivariate (cross-type) Ripley's K pair counts: for each radius r,
    the number of (a, b) pairs with ``class_col`` true on a, false on b,
    and distance <= r — the colocation statistic K_ab(r) that detects
    attraction/repulsion BETWEEN types (retail vs transit stops,
    burglary vs bars) where the univariate :func:`ripley_k_counts` only
    sees overall clustering.  Normalization K_ab(r) = A * n_pairs /
    (n_a * n_b) is the caller's one scalar multiply.

    Plan: one :func:`cross_dwithin_join` at max(r), then k conditional
    sums in a single 1-row aggregate — same zero-extra-shuffle ladder
    as the univariate operator.

    Returns ``(r_fp:long, n_pairs:long)``, zerofilled.
    """
    radii = sorted(int(r) for r in radii_fp)
    cls = F.col(class_col).cast("boolean")
    pairs = cross_dwithin_join(
        points.filter(cls),
        points.filter(~cls),
        radii[-1],
        zoom=zoom,
        id_col=id_col,
    )
    aggs = [
        F.sum(
            F.when(F.col("d2") <= F.lit(r * r), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias(f"c{i}")
        for i, r in enumerate(radii)
    ]
    one = pairs.agg(*aggs)
    stack = ", ".join(
        f"CAST({r} AS BIGINT), COALESCE(c{i}, CAST(0 AS BIGINT))"
        for i, r in enumerate(radii)
    )
    return one.selectExpr(
        f"stack({len(radii)}, {stack}) AS (r_fp, n_pairs)"
    )


def spacetime_k_counts(
    points: DataFrame,
    radii_fp: list[int],
    taus_us: list[int],
    zoom: int = 8,
    id_col: str = "event_id",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Diggle's space-time K function pair counts: for every (r, tau)
    in the radius x time-lag ladder, the number of unordered pairs
    within distance r AND time lag tau — the surface whose departure
    from K(r)*K(tau) separability IS space-time interaction (Diggle et
    al. 1995), generalizing the single-threshold Knox statistic
    (:func:`knox_spacetime_pairs` is the (r, tau) corner of this grid).

    Plan shape: ONE cell-bucketed candidate join at (max r, max tau) —
    the same join :func:`knox_spacetime_pairs` runs — then
    |radii| x |taus| conditional sums in a single 1-row aggregate,
    unpivoted by a stack: the full 2-D ladder adds ZERO shuffled rows
    over the single-threshold operator.  Exact int64 throughout.

    Returns ``(r_fp:long, tau_us:long, n_pairs:long)``, zerofilled over
    the full grid.
    """
    radii = sorted(int(r) for r in radii_fp)
    taus = sorted(int(t) for t in taus_us)
    pairs = knox_spacetime_pairs(
        points, radii[-1], taus[-1], zoom=zoom, id_col=id_col, ts_col=ts_col
    )
    aggs = []
    for i, r in enumerate(radii):
        for j, t in enumerate(taus):
            aggs.append(
                F.sum(
                    F.when(
                        (F.col("d2") <= F.lit(r * r))
                        & (F.col("dt_us") <= F.lit(t)),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias(f"c{i}_{j}")
            )
    one = pairs.agg(*aggs)
    cells = ", ".join(
        f"CAST({r} AS BIGINT), CAST({t} AS BIGINT),"
        f" COALESCE(c{i}_{j}, CAST(0 AS BIGINT))"
        for i, r in enumerate(radii)
        for j, t in enumerate(taus)
    )
    return one.selectExpr(
        f"stack({len(radii) * len(taus)}, {cells}) AS (r_fp, tau_us, n_pairs)"
    )
