"""Driver-contract queries: engine operators exercised over the driver's
parquet tables, each paired with an independent ANSI-SQL oracle that DuckDB
runs on the same tables.

The geospatial operators need versioned point/bbox data; the driver tables
are TPC-H-ish, so each geo query first derives deterministic fixed-point
coordinates / entity versions from `events` with pure integer arithmetic
that is expressed IDENTICALLY in the Spark pipeline and in the oracle SQL
(same text, same integer ops, same IEEE doubles) — the oracle then
re-implements the *operator semantics* (XYGrid tiling math, as-of
resolution, contribution classification, changeset squashing, kNN ranking)
independently in SQL, so a bug in the engine's operator shows up as a
value-hash mismatch.

Every computed column is aliased identically on both sides (driver compares
sorted-by-name columns). Float-summing pitfalls are avoided by aggregating
integers/decimals or by ranking instead of emitting raw floats.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oshdb_spark.grid.xygrid import MAXZOOM
from oshdb_spark.operators.aggregations import (
    aggregate_by_timestamp_contribution,
    count_agg,
    count_uniq_agg,
    sum_agg,
    weighted_avg_agg,
    zerofill,
)
from oshdb_spark.operators.contribution import contribution_view, squash_changesets
from oshdb_spark.operators.snapshot import explode_snapshots
from oshdb_spark.operators.tiling import xy_cell_id_col
from oshdb_spark.session import local_frame

# ---------------------------------------------------------------------------
# shared deterministic derivations (identical SQL text on both engines;
# only the epoch-micros function differs)
# ---------------------------------------------------------------------------

# scattered points: one per event, fixed-point 1e-7 coords
GEO_POINT_EXPRS = [
    "event_id",
    "user_id",
    "{TS_US} AS ts_us",
    "(event_id % 3600) * 1000000 + (event_id % 997) * 1000 - 1800000000 AS lon_fp",
    "((event_id * 7919) % 1700) * 1000000 + (event_id % 991) * 1000 - 850000000 AS lat_fp",
    "event_id % 100 AS val",
]

# locally-clustered points: each user's points stay within a user-specific
# small box so the XYGridTree insert rule picks varied zoom levels
GEO_LOCAL_EXPRS = [
    "event_id",
    "user_id",
    "(user_id % 360) * 10000000 - 1800000000"
    " + (event_id % 100) * ((user_id % 13) + 1) * 3000 AS lon_fp",
    "((user_id * 7) % 170) * 10000000 - 850000000"
    " + ((event_id * 31) % 100) * ((user_id % 11) + 1) * 3000 AS lat_fp",
]

# zigzag tracks for the segment-intersection join: per-user box as in
# GEO_LOCAL, but LCG-mixed in-box offsets so consecutive per-user steps
# jitter across the whole box at EVERY scale factor (the plain modular
# offsets above degenerate to 2-point bounces when event_id strides by
# the user count, e.g. at sf0.01) — pure positive-integer arithmetic, so
# Spark % == DuckDB %
GEO_SEG_EXPRS = [
    "event_id",
    "user_id",
    "(user_id % 360) * 10000000 - 1800000000"
    " + (event_id * 1103515245 + 12345) % 3900000 AS lon_fp",
    "((user_id * 7) % 170) * 10000000 - 850000000"
    " + (event_id * 69069 + 1) % 3000000 AS lat_fp",
]

# versioned node entities: entity id = user_id, mostly-stable position with
# occasional jumps (geometry changes), rotating tag value, periodic deletes
GEO_VERSION_EXPRS = [
    "event_id",
    "user_id AS id",
    "{TS_US} AS ts_us",
    "(event_id % 11) <> 0 AS visible",
    "event_id % 3 AS tag_v",
    "(user_id % 360) * 10000000 - 1800000000"
    " + (CASE WHEN event_id % 5 = 0 THEN (event_id % 50) * 100000 ELSE 0 END) AS lon_fp",
    "((user_id * 7) % 170) * 10000000 - 850000000 AS lat_fp",
]

SPARK_TS_US = "unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
DUCK_TS_US = "CAST(epoch_us(ts) AS BIGINT)"

# weekly snapshot timestamps over the events' January-2024 range (micros)
SNAP_TS_US = [
    (1704067200 + d * 86400) * 1_000_000 for d in (3, 10, 17, 24)
]


def _derive(spark: SparkSession, sf_dir: str, exprs: list[str]) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.selectExpr(*[e.format(TS_US=SPARK_TS_US) for e in exprs])


def _duck_derive(exprs: list[str], table: str = "events") -> str:
    cols = ", ".join(e.format(TS_US=DUCK_TS_US) for e in exprs)
    return f"SELECT {cols} FROM {table}"


def _cell_sql(zoom: int, lon: str, lat: str) -> str:
    """XYGrid.getId (XYGrid.java:140-168) as portable SQL — independent
    re-derivation of grid/xygrid.py for the oracle."""
    w = repr(360.0 / (1 << zoom) * 1e7)
    lon_s = f"(CASE WHEN {lon} + 1800000000 = 3600000000 THEN 0 ELSE {lon} + 1800000000 END)"
    lat_s = f"(CASE WHEN {lat} + 900000000 = 1800000000 THEN {lat} + 899999999 ELSE {lat} + 900000000 END)"
    return (
        f"(CASE WHEN {lon} > 1800000000 OR {lon} < -1800000000"
        f" OR {lat} > 900000000 OR {lat} < -900000000 THEN -1"
        f" ELSE CAST(FLOOR({lat_s} / {w}) AS BIGINT) * {1 << zoom}"
        f" + CAST(FLOOR({lon_s} / {w}) AS BIGINT) END)"
    )


def _est_count_sql(zoom: int) -> str:
    """XYGrid.getEstimatedIdCount (XYGrid.java:229-236) as SQL."""
    w = repr(360.0 / (1 << zoom) * 1e7)
    return (
        f"GREATEST(CEIL(maxlon / {w}) - FLOOR(minlon / {w}),"
        f" CEIL(maxlat / {w}) - FLOOR(minlat / {w}))"
    )


def _insert_zoom_sql(maxzoom: int = MAXZOOM) -> str:
    """XYGridTree.getInsertId zoom choice (XYGridTree.java:93-100) as SQL."""
    branches = " ".join(
        f"WHEN {_est_count_sql(z)} <= 2 THEN {z}" for z in range(maxzoom, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"


# ---------------------------------------------------------------------------
# registry plumbing
# ---------------------------------------------------------------------------


@dataclass
class QuerySpec:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    bench: bool = False  # include in bench.py's headline set


REGISTRY: dict[str, QuerySpec] = {}


def _q(name: str, oracle: str | None, bench: bool = False):
    def deco(fn):
        REGISTRY[name] = QuerySpec(spark_fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco


# ---------------------------------------------------------------------------
# 1. tiling (XYGrid getId / XYGridTree getInsertId)
# ---------------------------------------------------------------------------

_Q01_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)})
SELECT {_cell_sql(12, "lon_fp", "lat_fp")} AS cell_id,
       COUNT(*) AS cnt,
       COUNT(DISTINCT user_id) AS uniq_users
FROM g GROUP BY 1
"""


@_q("tile_assign_z12", _Q01_ORACLE, bench=True)
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return (
        g.withColumn("cell_id", xy_cell_id_col(12, F.col("lon_fp"), F.col("lat_fp")))
        .groupBy("cell_id")
        .agg(count_agg("cnt"), count_uniq_agg("user_id", "uniq_users"))
    )


def _s2_oracle_sql(level: int) -> str:
    """The FULL 64-bit S2 cell id re-derived in DuckDB SQL.

    The sphere->cube-face->quadratic-(s,t)->leaf-(i,j) projection is
    independently re-expressed in SQL (trig + CASE + FLOOR, no shared
    code).  The Hilbert traversal uses the same 4-bit lookup table as
    grid/s2.py embedded as a VALUES list — the table itself is pinned
    independently by tests/test_s2.py's curve-adjacency invariant — with
    the bit plumbing (8 chunk steps, parent-at-level, signed view)
    re-derived here arithmetically (no bitwise ops, pure // % * +).
    """
    from oshdb_spark.grid.s2 import _LOOKUP_POS

    lut = ", ".join(f"({i}, {int(v)})" for i, v in enumerate(_LOOKUP_POS))
    face = (
        "CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN"
        " CASE WHEN x >= 0 THEN 0 ELSE 3 END"
        " WHEN abs(y) >= abs(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END"
        " ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END"
    )
    u = (
        "CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z"
        " WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END"
    )
    v = (
        "CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z"
        " WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END"
    )

    def st(c: str) -> str:
        return (
            f"CASE WHEN {c} >= 0 THEN 0.5 * sqrt(1 + 3 * {c})"
            f" ELSE 1 - 0.5 * sqrt(1 - 3 * {c}) END"
        )

    def ij(c: str) -> str:
        return (
            f"CAST(LEAST(GREATEST(FLOOR({c} * 1073741824.0), 0),"
            f" 1073741823) AS BIGINT)"
        )

    # 8 Hilbert chunk steps, k = 7..0: pure-arithmetic bit plumbing
    # ((x >> s) & 15  ==  (x // 2^s) % 16;  n | chunk<<s  ==  n + chunk*2^s
    # since each step writes a disjoint, previously-zero 8-bit span)
    steps = []
    prev = "ij"
    init_n = "CAST(face AS HUGEINT) * 1152921504606846976"  # face << 60
    for k in range(7, -1, -1):
        name = f"s{k}"
        n_in = init_n if k == 7 else "n"
        bits_in = "face % 2" if k == 7 else "bits"
        sh = 1 << (4 * k)  # 2^(k*4) for the i/j chunk extraction
        pos_sh = 1 << (8 * k)  # 2^(k*8) for the curve-position chunk
        steps.append(
            f"{name} AS (SELECT user_id, i, j, face,"
            f" {n_in} + (l.val // 4) * CAST({pos_sh} AS HUGEINT) AS n,"
            f" l.val % 4 AS bits"
            f" FROM {prev} JOIN lut l ON l.idx ="
            f" ({bits_in}) + ((i // {sh}) % 16) * 64 + ((j // {sh}) % 16) * 4)"
        )
        prev = name
    lsb = 1 << (2 * (30 - level))
    return f"""
WITH g AS ({{derive}}),
lut(idx, val) AS (VALUES {lut}),
pt AS (SELECT user_id, lon_fp / 1e7 AS lon, lat_fp / 1e7 AS lat FROM g),
xyz AS (SELECT user_id,
        cos(radians(lat)) * cos(radians(lon)) AS x,
        cos(radians(lat)) * sin(radians(lon)) AS y,
        sin(radians(lat)) AS z FROM pt),
f AS (SELECT *, {face} AS face FROM xyz),
uv AS (SELECT user_id, face, {u} AS u, {v} AS v FROM f),
st AS (SELECT user_id, face, {st('u')} AS s, {st('v')} AS t FROM uv),
ij AS (SELECT user_id, face, {ij('s')} AS i, {ij('t')} AS j FROM st),
{", ".join(steps)},
leaf AS (SELECT user_id, n * 2 + 1 AS leaf FROM s0),
par AS (SELECT user_id,
        ((leaf // {lsb}) - ((leaf // {lsb}) % 2) + 1) * CAST({lsb} AS HUGEINT)
        AS idp FROM leaf),
ids AS (SELECT user_id, CAST(CASE WHEN idp >= 9223372036854775808
        THEN idp - 18446744073709551616 ELSE idp END AS BIGINT) AS s2_cell
        FROM par)
SELECT s2_cell, COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS uniq_users
FROM ids GROUP BY 1
"""


_Q_S2_ORACLE = _s2_oracle_sql(12).format(derive=_duck_derive(GEO_POINT_EXPRS))


def _geohash_oracle_sql(precision: int) -> str:
    """Geohash re-derived in DuckDB SQL: the same cell-index arithmetic
    but the bit interleave expressed as a 5-step CTE chain of
    shift-or-mask rounds and the base-32 chars as substr() lookups —
    structurally independent of the Column construction in
    operators/tiling.geohash_col."""
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    steps = [(16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
             (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
             (1, 0x5555555555555555)]
    ctes = [
        "g AS ({derive})",
        f"c AS (SELECT user_id, "
        f"LEAST(CAST(FLOOR((lon_fp + 1800000000) / 3600000000.0 * {1 << nlon})"
        f" AS BIGINT), {(1 << nlon) - 1}) AS sx, "
        f"LEAST(CAST(FLOOR((lat_fp + 900000000) / 1800000000.0 * {1 << nlat})"
        f" AS BIGINT), {(1 << nlat) - 1}) AS sy FROM g)",
    ]
    prev = "c"
    for i, (sh, mask) in enumerate(steps):
        ctes.append(
            f"s{i} AS (SELECT user_id, "
            f"(sx | (sx << {sh})) & {mask} AS sx, "
            f"(sy | (sy << {sh})) & {mask} AS sy FROM {prev})"
        )
        prev = f"s{i}"
    if bits % 2 == 0:
        code = "((sx << 1) | sy)"
    else:
        code = "(sx | (sy << 1))"
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{b32}', CAST(({code} >> {5 * (precision - 1 - i)}) & 31"
        f" AS INT) + 1, 1)"
        for i in range(precision)
    )
    return (
        "WITH " + ", ".join(ctes)
        + f", h AS (SELECT user_id, {chars} AS gh FROM {prev}) "
        "SELECT gh, COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS uniq_users "
        "FROM h GROUP BY gh"
    )


_Q_GEOHASH_ORACLE = _geohash_oracle_sql(7).format(
    derive=_duck_derive(GEO_POINT_EXPRS)
)


@_q("geohash_cell_assign", _Q_GEOHASH_ORACLE)
def q_geohash_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash precision-7 assignment over the synthetic point stream —
    the third public grid (pure Catalyst bit-spread + base-32, zero
    UDFs; precision 7 = 35 bits exercises the odd-split branch)."""
    from oshdb_spark.operators.tiling import geohash_col

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return (
        g.withColumn("gh", geohash_col(F.col("lon_fp"), F.col("lat_fp"), 7))
        .groupBy("gh")
        .agg(count_agg("cnt"), count_uniq_agg("user_id", "uniq_users"))
    )


@_q("s2_cell_assign", _Q_S2_ORACLE, bench=True)
def q_s2_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 level-12 cell assignment over the synthetic point stream —
    the true hierarchical spherical index named by the north rule
    (grid/s2.py pure-numpy port), oracle-checked on the full 64-bit id."""
    from oshdb_spark.operators.tiling import s2_udf

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return (
        g.withColumn("s2_cell", s2_udf(12)("lon_fp", "lat_fp"))
        .groupBy("s2_cell")
        .agg(count_agg("cnt"), count_uniq_agg("user_id", "uniq_users"))
    )


def _h3lite_oracle_sql(res: int) -> str:
    """The full 64-bit h3lite id re-derived in DuckDB SQL (even `res`).

    Face selection, gnomonic projection, hex cube-rounding, and the
    aperture-7 digit extraction are re-expressed arithmetically (CASE +
    FLOOR + trig, no shared code); only the 20 face-center/azimuth
    constants are embedded as a VALUES list — the icosahedron itself is
    pinned independently by tests/test_h3lite.py (unit centers, band
    structure, zero-residue, round-trip invariants), mirroring how the
    S2 oracle embeds the Hilbert lookup table."""
    from oshdb_spark.grid import h3lite as hl

    assert res % 2 == 0 and res >= 2
    # plain-float repr: numpy >= 2.0 reprs scalars as "np.float64(x)",
    # which would inject invalid tokens into the DuckDB SQL
    faces = ", ".join(
        f"({f}, {float(hl.FACE_CENTERS[f,0])!r}, {float(hl.FACE_CENTERS[f,1])!r},"
        f" {float(hl.FACE_CENTERS[f,2])!r}, {float(hl.FACE_LAT[f])!r},"
        f" {float(hl.FACE_LON[f])!r}, {float(hl.FACE_AZ[f])!r})"
        for f in range(20)
    )

    def lround(v: str) -> str:
        return (
            f"CAST(CASE WHEN ({v}) >= 0 THEN FLOOR(({v}) + 0.5)"
            f" ELSE CEIL(({v}) - 0.5) END AS BIGINT)"
        )

    def unit_digit(ra: str, rb: str) -> str:
        return (
            f"(4 * (({ra}) - LEAST({ra}, {rb}, 0))"
            f" + 2 * (({rb}) - LEAST({ra}, {rb}, 0))"
            f" - LEAST({ra}, {rb}, 0))"
        )

    # aperture-7 digit extraction, res -> 1 (even res: cw first)
    digit_ctes = []
    prev = "ij"
    a, b = "a", "b"
    for rr in range(res, 0, -1):
        ccw = (rr % 2) == 1
        if ccw:
            pa = lround(f"(3.0 * {a} - {b}) / 7.0")
            pb = lround(f"({a} + 2.0 * {b}) / 7.0")
        else:
            pa = lround(f"(2.0 * {a} + {b}) / 7.0")
            pb = lround(f"(3.0 * {b} - {a}) / 7.0")
        # remainder vs the parent's child-origin (down-ap7 image)
        if ccw:
            ra, rb = "a - (2 * pa + pb)", "b - (-pa + 3 * pb)"
        else:
            ra, rb = "a - (3 * pa - pb)", "b - (pa + 2 * pb)"
        name = f"d{rr}"
        digit_ctes.append(
            f"{name}_p AS (SELECT *, {pa} AS pa, {pb} AS pb FROM {prev}),"
            f" {name} AS (SELECT event_id, user_id, face, pa AS a, pb AS b,"
            f" {unit_digit(ra, rb)} AS dig{rr}"
            + "".join(f", dig{k}" for k in range(rr + 1, res + 1))
            + f" FROM {name}_p)"
        )
        prev = name
    digits_sql = ", ".join(digit_ctes)
    id_expr = (
        f"CAST({1 << 59} AS BIGINT) + CAST({res} AS BIGINT) * {1 << 52}"
        f" + face * CAST({1 << 45} AS BIGINT)"
        + "".join(
            f" + dig{rr} * CAST({1 << (3 * (15 - rr))} AS BIGINT)"
            for rr in range(1, res + 1)
        )
        + f" + {(1 << (3 * (15 - res))) - 1}"
    )
    scale = f"(2.0 / POWER(SQRT(7.0), {res}))"
    # hex cube rounding (coordijk branch table re-derived)
    j_inc = """CASE
      WHEN r1 < 1.0/3.0 THEN CASE WHEN r2 >= (1.0 + r1)/2.0 THEN 1 ELSE 0 END
      WHEN r1 < 0.5     THEN CASE WHEN r2 >= 1.0 - r1 THEN 1 ELSE 0 END
      WHEN r1 < 2.0/3.0 THEN CASE WHEN r2 >= 1.0 - r1 THEN 1 ELSE 0 END
      ELSE CASE WHEN r2 >= r1/2.0 THEN 1 ELSE 0 END END"""
    i_inc = """CASE
      WHEN r1 < 1.0/3.0 THEN 0
      WHEN r1 < 0.5     THEN CASE WHEN (1.0 - r1) <= r2 AND r2 < 2.0*r1 THEN 1 ELSE 0 END
      WHEN r1 < 2.0/3.0 THEN CASE WHEN (2.0*r1 - 1.0) < r2 AND r2 < 1.0 - r1 THEN 0 ELSE 1 END
      ELSE 1 END"""
    return f"""
WITH g AS ({{derive}}),
faces(face, fx, fy, fz, flat, flon, faz) AS (VALUES {faces}),
pt AS (SELECT event_id, user_id, radians(lon_fp / 1e7) AS lon,
              radians(lat_fp / 1e7) AS lat FROM g),
p AS (SELECT *, cos(lat)*cos(lon) AS px, cos(lat)*sin(lon) AS py,
             sin(lat) AS pz FROM pt),
sel AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
          ORDER BY (px*fx + py*fy + pz*fz) DESC, face) AS rn
        FROM p CROSS JOIN faces),
f1 AS (SELECT event_id, user_id, face, lon, lat, flat, flon, faz,
              LEAST(GREATEST(px*fx + py*fy + pz*fz, -1.0), 1.0) AS cd
       FROM sel WHERE rn = 1),
ang AS (SELECT event_id, user_id, face,
        acos(cd) AS r,
        faz - atan2(cos(lat) * sin(lon - flon),
                    cos(flat) * sin(lat)
                    - sin(flat) * cos(lat) * cos(lon - flon)) AS theta
        FROM f1),
xy AS (SELECT event_id, user_id, face,
       tan(r) / {scale} * cos(theta) AS hx,
       tan(r) / {scale} * sin(theta) AS hy FROM ang),
hr0 AS (SELECT *, abs(hx) AS a1, abs(hy) / (SQRT(3.0)/2.0) AS x2 FROM xy),
hr1 AS (SELECT *, a1 + x2/2.0 AS x1 FROM hr0),
hr2 AS (SELECT *, FLOOR(x1) AS m1, FLOOR(x2) AS m2,
               x1 - FLOOR(x1) AS r1, x2 - FLOOR(x2) AS r2 FROM hr1),
hr3 AS (SELECT event_id, user_id, face, hx, hy,
        CAST(m1 + {i_inc} AS BIGINT) AS i0,
        CAST(m2 + {j_inc} AS BIGINT) AS j0 FROM hr2),
hr4 AS (SELECT event_id, user_id, face, hy, j0 AS jx,
        CASE WHEN hx < 0 THEN
          CASE WHEN j0 % 2 = 0
               THEN i0 - 2 * (i0 - j0 // 2)
               ELSE i0 - (2 * (i0 - (j0 + 1) // 2) + 1) END
        ELSE i0 END AS ix FROM hr3),
ij AS (SELECT event_id, user_id, face,
       CASE WHEN hy < 0 THEN ix - jx ELSE ix END AS a,
       CASE WHEN hy < 0 THEN -jx ELSE jx END AS b FROM hr4),
{digits_sql},
ids AS (SELECT user_id, {id_expr} AS h3_cell FROM {prev})
SELECT h3_cell, COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS uniq_users
FROM ids GROUP BY 1
"""


_Q_H3_ORACLE = _h3lite_oracle_sql(2).format(
    derive=_duck_derive(GEO_POINT_EXPRS)
)


@_q("h3_cell_assign", _Q_H3_ORACLE, bench=True)
def q_h3_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h3lite res-2 cell assignment over the synthetic point stream — the
    aperture-7 icosahedral hex index (grid/h3lite.py pure-numpy port of
    the published H3 algorithm; derived orientation, see module
    docstring), oracle-checked on the full 64-bit id like s2_cell_assign."""
    from oshdb_spark.operators.tiling import h3_udf

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return (
        # prefer_library=False: this gate pins the h3lite ALGORITHM against
        # its SQL re-derivation; on a host with the real `h3` package the
        # default library routing would (correctly) produce different ids
        g.withColumn("h3_cell", h3_udf(2, prefer_library=False)("lon_fp", "lat_fp"))
        .groupBy("h3_cell")
        .agg(count_agg("cnt"), count_uniq_agg("user_id", "uniq_users"))
    )


_Q02_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_LOCAL_EXPRS)}),
b AS (SELECT user_id, MIN(lon_fp) AS minlon, MIN(lat_fp) AS minlat,
             MAX(lon_fp) AS maxlon, MAX(lat_fp) AS maxlat
      FROM g GROUP BY user_id),
z AS (SELECT user_id, minlon, minlat, {_insert_zoom_sql()} AS cell_zoom FROM b),
c AS (SELECT user_id, cell_zoom,
  CASE {" ".join(f"WHEN cell_zoom = {z} THEN {_cell_sql(z, 'minlon', 'minlat')}" for z in range(MAXZOOM, -1, -1))} END AS cell_id
  FROM z)
SELECT cell_zoom, cell_id, COUNT(*) AS n_entities FROM c GROUP BY 1, 2
"""


@_q("tile_insert_rule", _Q02_ORACLE, bench=True)
def q_tile_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS)
    boxes = g.groupBy("user_id").agg(
        F.min("lon_fp").alias("minlon"),
        F.min("lat_fp").alias("minlat"),
        F.max("lon_fp").alias("maxlon"),
        F.max("lat_fp").alias("maxlat"),
    )
    from oshdb_spark.operators.tiling import xy_insert_cell_udf

    udf = xy_insert_cell_udf()  # bit-identical to the Column path (tested),
    # ~2x faster: the 15-zoom CASE expression codegens a huge method
    c = boxes.withColumn("c", udf("minlon", "minlat", "maxlon", "maxlat"))
    return c.groupBy(
        F.col("c.cell_zoom").alias("cell_zoom"), F.col("c.cell_id").alias("cell_id")
    ).agg(count_agg("n_entities"))


# ---------------------------------------------------------------------------
# 2. snapshot view (as-of resolution at a timestamp list)
# ---------------------------------------------------------------------------

_SNAP_VALUES = ", ".join(f"({t})" for t in SNAP_TS_US)
_Q03_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
v AS (SELECT user_id AS id, ts_us, val,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS version
      FROM g),
w AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY id ORDER BY ts_us, version) AS next_ts FROM v),
t(snap_ts) AS (VALUES {_SNAP_VALUES})
SELECT snap_ts, COUNT(*) AS cnt, CAST(SUM(val) AS BIGINT) AS sum_val
FROM w JOIN t ON t.snap_ts >= w.ts_us AND (w.next_ts IS NULL OR t.snap_ts < w.next_ts)
GROUP BY snap_ts
"""


@_q("snapshot_asof_count", _Q03_ORACLE, bench=True)
def q_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ent = g.select(
        F.lit("node").alias("type"),
        F.col("user_id").alias("id"),
        F.col("ts_us").alias("ts"),
        F.row_number().over(win).alias("version"),
        "val",
    )
    snaps = explode_snapshots(ent, SNAP_TS_US)
    return snaps.groupBy("snap_ts").agg(
        count_agg("cnt"), F.sum("val").cast("long").alias("sum_val")
    )


# fluent-API end-to-end pipeline: the SAME snapshot semantics, but composed
# through the public MapReducer chain (api.py: prefilter -> view -> DSL
# filter -> polygon AOI -> aggregate_by_timestamp -> zerofilled count), so
# the API composition itself sits under the value-hash gate, not only the
# operators it delegates to.  Triangle AOI vertices sit on .5-degree
# offsets while every derived coordinate is a multiple of 0.01 degree, so
# no point ever lies on an edge (sign tests agree between the engine's
# float PIP and the oracle's integer cross products).
_FLUENT_TRI_FP = (
    (-305000000, -205000000), (405000000, -105000000), (55000000, 355000000)
)
# one pre-data snapshot (2023-01-01) proves the zerofill path end-to-end
_FLUENT_SNAPS = [1672531200 * 1_000_000] + SNAP_TS_US


def _cross_gt0(ax: int, ay: int, bx: int, by: int) -> str:
    return (
        f"(({bx} - {ax}) * (lat_fp - {ay})"
        f" - ({by} - {ay}) * (lon_fp - {ax})) > 0"
    )


_FLUENT_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_VERSION_EXPRS)}),
v AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts_us, event_id)
        AS version FROM g),
w AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY id ORDER BY ts_us, version)
        AS next_ts FROM v),
t(snap_ts) AS (VALUES {", ".join(f"({t})" for t in _FLUENT_SNAPS)}),
hit AS (
  SELECT t.snap_ts, COUNT(*) AS c
  FROM w JOIN t ON t.snap_ts >= w.ts_us
              AND (w.next_ts IS NULL OR t.snap_ts < w.next_ts)
  WHERE w.visible AND w.tag_v IN (1, 2)
    AND {_cross_gt0(*_FLUENT_TRI_FP[0], *_FLUENT_TRI_FP[1])}
    AND {_cross_gt0(*_FLUENT_TRI_FP[1], *_FLUENT_TRI_FP[2])}
    AND {_cross_gt0(*_FLUENT_TRI_FP[2], *_FLUENT_TRI_FP[0])}
  GROUP BY t.snap_ts)
SELECT t.snap_ts, CAST(COALESCE(hit.c, 0) AS BIGINT) AS cnt
FROM t LEFT JOIN hit USING (snap_ts)
"""


def _fluent_node_db(spark: SparkSession, sf_dir: str):
    """The versioned-node OSHDB used by the fluent-API gate queries:
    GEO_VERSION_EXPRS entities with a single translated tag key ``k``
    (tag_v as its int value) — the same derivation the oracles re-express
    over `events` in SQL."""
    from oshdb_spark.api import OSHDB
    from oshdb_spark.filters.dsl import TagTranslator

    g = _derive(spark, sf_dir, GEO_VERSION_EXPRS)
    win = Window.partitionBy("id").orderBy("ts_us", "event_id")
    ent = g.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit("node").alias("type"),
        "id",
        F.row_number().over(win).alias("version"),
        "visible",
        F.col("ts_us").alias("ts"),
        F.col("event_id").alias("changeset"),
        (F.col("event_id") % 97).cast("int").alias("uid"),
        F.create_map(F.lit(1), F.col("tag_v").cast("int")).alias("tags"),
        F.col("lon_fp").alias("lon"),
        F.col("lat_fp").alias("lat"),
        F.lit(None).cast("array<bigint>").alias("refs"),
        F.lit(None)
        .cast("array<struct<type:string,ref:bigint,role:string>>")
        .alias("members"),
    )
    tr = TagTranslator(
        keys={"k": 1},
        values={("k", "0"): 0, ("k", "1"): 1, ("k", "2"): 2},
    )
    return OSHDB(spark, ent, translator=tr)


@_q("fluent_snapshot_pipeline", _FLUENT_ORACLE)
def q_fluent_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.api import SnapshotView

    db = _fluent_node_db(spark, sf_dir)
    tri = {
        "type": "Polygon",
        "coordinates": [
            [[x / 1e7, y / 1e7] for x, y in _FLUENT_TRI_FP]
            + [[_FLUENT_TRI_FP[0][0] / 1e7, _FLUENT_TRI_FP[0][1] / 1e7]]
        ],
    }
    return (
        SnapshotView.on(db)
        .area_of_interest(polygon=tri)
        .filter("k=1 or k=2")
        .timestamps(_FLUENT_SNAPS)
        .aggregate_by_timestamp()
        .count()
    )


# geometry x time combined index (the ohsome "groupBy boundary + time"
# workload): aggregate_by_geometry(...).aggregate_by_timestamp().count()
# with zerofill over the FULL zone x snapshot product (one pre-data
# snapshot proves the product zerofill).  Zone rectangle edges sit on
# .005-degree offsets while every derived coordinate is a multiple of
# 0.01 degree, so no point ever lies on a zone edge.
_ZTS_ZONES_FP = {
    # zone_key -> (x0, y0, x1, y1) fixed-point 1e7; the two zones share
    # the -100.005-degree meridian, so together they tile the derived
    # coordinate space (all lons land in [-180, 0) at every sf)
    "lo": (-1_800_050_000, -850_050_000, -1_000_050_000, 840_050_000),
    "hi": (-1_000_050_000, -850_050_000, 50_000, 840_050_000),
}

_ZTS_ZONE_VALUES = ", ".join(
    f"('{k}', {x0}, {y0}, {x1}, {y1})"
    for k, (x0, y0, x1, y1) in sorted(_ZTS_ZONES_FP.items())
)

_ZTS_ORACLE = f"""
WITH g AS ({{placeholder}}),
v AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts_us, event_id)
        AS version FROM g),
w AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY id ORDER BY ts_us, version)
        AS next_ts FROM v),
t(snap_ts) AS (VALUES {", ".join(f"({t})" for t in _FLUENT_SNAPS)}),
z(zone_key, x0, y0, x1, y1) AS (VALUES {_ZTS_ZONE_VALUES}),
hit AS (
  SELECT z.zone_key, t.snap_ts, COUNT(*) AS c
  FROM w
  JOIN t ON t.snap_ts >= w.ts_us
        AND (w.next_ts IS NULL OR t.snap_ts < w.next_ts)
  JOIN z ON w.lon_fp > z.x0 AND w.lon_fp < z.x1
        AND w.lat_fp > z.y0 AND w.lat_fp < z.y1
  WHERE w.visible
  GROUP BY z.zone_key, t.snap_ts)
SELECT z.zone_key, t.snap_ts, CAST(COALESCE(hit.c, 0) AS BIGINT) AS cnt
FROM z CROSS JOIN t
LEFT JOIN hit ON hit.zone_key = z.zone_key AND hit.snap_ts = t.snap_ts
""".replace("{placeholder}", _duck_derive(GEO_VERSION_EXPRS))


@_q("zonal_time_series", _ZTS_ORACLE)
def q_zonal_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.api import SnapshotView

    db = _fluent_node_db(spark, sf_dir)

    def rect(x0: int, y0: int, x1: int, y1: int) -> dict:
        c = [
            [x0 / 1e7, y0 / 1e7],
            [x1 / 1e7, y0 / 1e7],
            [x1 / 1e7, y1 / 1e7],
            [x0 / 1e7, y1 / 1e7],
            [x0 / 1e7, y0 / 1e7],
        ]
        return {"type": "Polygon", "coordinates": [c]}

    zones = {k: rect(*b) for k, b in _ZTS_ZONES_FP.items()}
    return (
        SnapshotView.on(db)
        .timestamps(_FLUENT_SNAPS)
        .filter("type:node")
        .aggregate_by_geometry(zones)
        .aggregate_by_timestamp()
        .count()
    )


# groupByEntity (MapReducer.groupByEntity, MapReducer.java:585-623) under
# the value-hash gate: all snapshot rows of one entity collected into ONE
# timestamp-sorted list.  The position-weighted signature
# sum((position+1) * tag_v) over the collected list is order-sensitive, so
# a wrong or unstable sort comparator shows up as a value mismatch, not
# just a count mismatch.
_GBE_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_VERSION_EXPRS)}),
v AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts_us, event_id)
        AS version FROM g),
w AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY id ORDER BY ts_us, version)
        AS next_ts FROM v),
t(snap_ts) AS (VALUES {_SNAP_VALUES}),
s AS (SELECT w.id, t.snap_ts, w.tag_v
      FROM w JOIN t ON t.snap_ts >= w.ts_us
                   AND (w.next_ts IS NULL OR t.snap_ts < w.next_ts)
      WHERE w.visible),
r AS (SELECT id, ROW_NUMBER() OVER (PARTITION BY id ORDER BY snap_ts) AS rn,
        tag_v FROM s)
SELECT id, CAST(COUNT(*) AS BIGINT) AS n_snaps,
       CAST(SUM(rn * tag_v) AS BIGINT) AS ord_sig
FROM r GROUP BY id
"""


@_q("groupby_entity_history", _GBE_ORACLE)
def q_groupby_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.api import SnapshotView

    db = _fluent_node_db(spark, sf_dir)
    gb = SnapshotView.on(db).timestamps(SNAP_TS_US).group_by_entity()
    # fold over the COLLECTED list (order matters): position-weighted sum
    # of the tag value at each snapshot
    sig = (
        "aggregate(rows,"
        " struct(CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS sig),"
        " (a, x) -> struct(a.i + 1L,"
        "                  a.sig + (a.i + 1L) * CAST(x.tags[1] AS BIGINT)),"
        " a -> a.sig)"
    )
    return gb.select(
        "id",
        F.size("rows").cast("long").alias("n_snaps"),
        F.expr(sig).alias("ord_sig"),
    )


# combined (nested) indices (OSHDBCombinedIndex, MapAggregator.java:181-290)
# under the value-hash gate: aggregate_by_timestamp().aggregate_by(key) with
# zerofill over the FULL timestamp x key product — absent combinations
# surface as explicit identity rows (MapAggregator.java:880-889), including
# every key at the pre-data snapshot.  The oracle builds the product with a
# CROSS JOIN + LEFT JOIN.
_CIX_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_VERSION_EXPRS)}),
v AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts_us, event_id)
        AS version FROM g),
w AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY id ORDER BY ts_us, version)
        AS next_ts FROM v),
t(snap_ts) AS (VALUES {", ".join(f"({t})" for t in _FLUENT_SNAPS)}),
b(uid_b) AS (VALUES (0), (1), (2)),
hit AS (
  SELECT t.snap_ts, (w.event_id % 97) % 3 AS uid_b, COUNT(*) AS c
  FROM w JOIN t ON t.snap_ts >= w.ts_us
              AND (w.next_ts IS NULL OR t.snap_ts < w.next_ts)
  WHERE w.visible AND w.tag_v IN (1, 2)
  GROUP BY 1, 2)
SELECT t.snap_ts, CAST(b.uid_b AS BIGINT) AS uid_b,
       CAST(COALESCE(hit.c, 0) AS BIGINT) AS cnt
FROM t CROSS JOIN b
LEFT JOIN hit ON hit.snap_ts = t.snap_ts AND hit.uid_b = b.uid_b
"""


@_q("combined_index_agg", _CIX_ORACLE)
def q_combined_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.api import SnapshotView

    db = _fluent_node_db(spark, sf_dir)
    return (
        SnapshotView.on(db)
        .filter("k=1 or k=2")
        .timestamps(_FLUENT_SNAPS)
        .aggregate_by_timestamp()
        .aggregate_by(
            (F.col("uid") % 3).cast("long"), name="uid_b", keys=[0, 1, 2]
        )
        .count()
    )


# generic monoid reduce (MapReducer.reduce(identitySupplier, accumulator,
# combiner), MapReducer.java:834-935) under the value-hash gate: a 5-field
# moments monoid (count, sum, sum-of-squares, min, max) folded per
# partition in one Arrow pass and combined driver-side — the oracle
# recomputes the same scalars with plain SQL aggregates over the as-of
# semantics.
_GRM_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_VERSION_EXPRS)}),
v AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts_us, event_id)
        AS version FROM g),
w AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY id ORDER BY ts_us, version)
        AS next_ts FROM v),
t(snap_ts) AS (VALUES {_SNAP_VALUES}),
s AS (SELECT w.id, t.snap_ts
      FROM w JOIN t ON t.snap_ts >= w.ts_us
                   AND (w.next_ts IS NULL OR t.snap_ts < w.next_ts)
      WHERE w.visible)
SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(id) AS BIGINT) AS sum_id,
       CAST(SUM(id * id) AS BIGINT) AS sum_id2,
       CAST(MIN(snap_ts) AS BIGINT) AS min_ts,
       CAST(MAX(snap_ts) AS BIGINT) AS max_ts
FROM s
"""


@_q("generic_reduce_moments", _GRM_ORACLE)
def q_generic_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.api import SnapshotView

    db = _fluent_node_db(spark, sf_dir)
    mr = SnapshotView.on(db).timestamps(SNAP_TS_US)

    def identity():
        return (0, 0, 0, None, None)

    def combine(a, b):
        mins = [x for x in (a[3], b[3]) if x is not None]
        maxs = [x for x in (a[4], b[4]) if x is not None]
        return (
            a[0] + b[0], a[1] + b[1], a[2] + b[2],
            min(mins) if mins else None,
            max(maxs) if maxs else None,
        )

    def acc(state, pdf):
        ids = pdf["id"].astype("int64")
        ts = pdf["snap_ts"].astype("int64")
        part = (
            int(len(pdf)),
            int(ids.sum()),
            int((ids * ids).sum()),
            int(ts.min()) if len(ts) else None,
            int(ts.max()) if len(ts) else None,
        )
        return combine(state, part)

    cnt, s1, s2, mn, mx = mr.reduce(identity, acc, combine)
    return local_frame(
        spark,
        [(cnt, s1, s2, mn, mx)],
        "cnt long, sum_id long, sum_id2 long, min_ts long, max_ts long",
    )


# ---------------------------------------------------------------------------
# 3. contribution view (classification) + changeset squashing
# ---------------------------------------------------------------------------

_Q04_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_VERSION_EXPRS)}),
s AS (SELECT *,
        LAG(visible) OVER w AS p_vis, LAG(lon_fp) OVER w AS p_lon,
        LAG(lat_fp) OVER w AS p_lat, LAG(tag_v) OVER w AS p_tag
      FROM g WINDOW w AS (PARTITION BY id ORDER BY ts_us)),
c AS (SELECT CASE
        WHEN NOT visible AND COALESCE(p_vis, FALSE) THEN ['DELETION']
        WHEN visible AND NOT COALESCE(p_vis, FALSE) THEN ['CREATION']
        ELSE (CASE WHEN LEN(l) = 0 THEN ['NONE'] ELSE l END) END AS types
      FROM (SELECT *,
              [x FOR x IN [CASE WHEN tag_v <> p_tag THEN 'TAG_CHANGE' END,
                           CASE WHEN lon_fp <> p_lon OR lat_fp <> p_lat
                                THEN 'GEOMETRY_CHANGE' END]
               IF x IS NOT NULL] AS l
            FROM s)
      WHERE visible OR COALESCE(p_vis, FALSE))
SELECT contrib_type, COUNT(*) AS cnt
FROM (SELECT UNNEST(types) AS contrib_type FROM c) GROUP BY 1
"""


@_q("contribution_classify", _Q04_ORACLE, bench=True)
def q_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _derive(spark, sf_dir, GEO_VERSION_EXPRS)
    win = Window.partitionBy("id").orderBy("ts_us", "event_id")
    ent = g.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit("node").alias("type"),
        "id",
        F.row_number().over(win).alias("version"),
        "visible",
        F.col("ts_us").alias("ts"),
        F.col("event_id").alias("changeset"),
        (F.col("event_id") % 97).cast("int").alias("uid"),
        F.create_map(F.lit(1), F.col("tag_v").cast("int")).alias("tags"),
        F.col("lon_fp").alias("lon"),
        F.col("lat_fp").alias("lat"),
        F.lit(None).cast("array<bigint>").alias("refs"),
        F.lit(None)
        .cast("array<struct<type:string,ref:bigint,role:string>>")
        .alias("members"),
    )
    contribs = contribution_view(ent, 0, 1 << 62, types={"node"})
    typed = contribs.withColumn(
        "contrib_type",
        F.explode(
            F.when(F.size("contrib_types") == 0, F.array(F.lit("NONE"))).otherwise(
                F.col("contrib_types")
            )
        ),
    )
    return typed.groupBy("contrib_type").agg(count_agg("cnt"))


_FILTERED_CONTRIB_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_VERSION_EXPRS)}),
s AS (SELECT *, visible AND (tag_v % 2 = 0) AS eff FROM g),
l AS (SELECT *,
        COALESCE(LAG(eff) OVER w, FALSE) AS p_eff,
        LAG(lon_fp) OVER w AS p_lon, LAG(lat_fp) OVER w AS p_lat,
        LAG(tag_v) OVER w AS p_tag
      FROM s WINDOW w AS (PARTITION BY id ORDER BY ts_us)),
c AS (SELECT CASE
        WHEN NOT eff AND p_eff THEN ['DELETION']
        WHEN eff AND NOT p_eff THEN ['CREATION']
        ELSE (CASE WHEN LEN(t) = 0 THEN ['NONE'] ELSE t END) END AS types
      FROM (SELECT *,
              [x FOR x IN [CASE WHEN tag_v <> p_tag THEN 'TAG_CHANGE' END,
                           CASE WHEN lon_fp <> p_lon OR lat_fp <> p_lat
                                THEN 'GEOMETRY_CHANGE' END]
               IF x IS NOT NULL] AS t
            FROM l)
      WHERE eff OR p_eff)
SELECT contrib_type, COUNT(*) AS cnt
FROM (SELECT UNNEST(types) AS contrib_type FROM c) GROUP BY 1
"""


@_q("filtered_contribution", _FILTERED_CONTRIB_ORACLE)
def q_filtered_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED contributions (CellIterator.java:642-659): the OSM filter
    participates in aliveness — a version that stops matching yields a
    DELETION, one that starts matching a CREATION — keeping
    sum(creations)-sum(deletions) consistent with filtered snapshots.
    Filter: tag value even (a per-version tag predicate, the shape the
    applyOSH prefilter bounds)."""
    g = _derive(spark, sf_dir, GEO_VERSION_EXPRS)
    win = Window.partitionBy("id").orderBy("ts_us", "event_id")
    ent = g.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit("node").alias("type"),
        "id",
        F.row_number().over(win).alias("version"),
        "visible",
        F.col("ts_us").alias("ts"),
        F.col("event_id").alias("changeset"),
        (F.col("event_id") % 97).cast("int").alias("uid"),
        F.create_map(F.lit(1), F.col("tag_v").cast("int")).alias("tags"),
        F.col("lon_fp").alias("lon"),
        F.col("lat_fp").alias("lat"),
        F.lit(None).cast("array<bigint>").alias("refs"),
        F.lit(None)
        .cast("array<struct<type:string,ref:bigint,role:string>>")
        .alias("members"),
    )
    match = F.element_at(F.col("tags"), F.lit(1)) % 2 == 0
    contribs = contribution_view(
        ent, 0, 1 << 62, types={"node"}, osm_filter=match
    )
    typed = contribs.withColumn(
        "contrib_type",
        F.explode(
            F.when(F.size("contrib_types") == 0, F.array(F.lit("NONE"))).otherwise(
                F.col("contrib_types")
            )
        ),
    )
    return typed.groupBy("contrib_type").agg(count_agg("cnt"))


_Q05_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
v AS (SELECT user_id AS id, ts_us,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
      FROM g),
e AS (SELECT id, ts_us, CAST((rn - (rn % 3)) / 3 AS BIGINT) AS cs FROM v),
k AS (SELECT *, LEAD(cs) OVER (PARTITION BY id ORDER BY ts_us) AS ncs FROM e)
SELECT id, COUNT(*) AS cnt, MAX(ts_us) AS last_ts
FROM k WHERE ncs IS NULL OR cs <> ncs GROUP BY id
"""


@_q("changeset_squash", _Q05_ORACLE)
def q_squash(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev = g.select(
        F.lit("node").alias("type"),
        F.col("user_id").alias("id"),
        F.col("ts_us").alias("event_ts"),
        F.row_number().over(win).alias("rn"),
    ).selectExpr(
        "type", "id", "event_ts", "CAST((rn - (rn % 3)) / 3 AS BIGINT) AS event_changeset"
    )
    squashed = squash_changesets(ev)
    return squashed.groupBy("id").agg(
        count_agg("cnt"), F.max("event_ts").alias("last_ts")
    )


# ---------------------------------------------------------------------------
# 4. spatial join / kNN / zonal over the derived points
# ---------------------------------------------------------------------------

_Q06_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
p AS (SELECT event_id, {_cell_sql(6, "lon_fp", "lat_fp")} AS cell_id FROM g)
SELECT a.cell_id AS cell_id, COUNT(*) AS n_pairs
FROM p a JOIN p b ON a.cell_id = b.cell_id
WHERE a.event_id % 2 = 0 AND b.event_id % 2 = 1
GROUP BY a.cell_id
"""


@_q("cell_hash_join", _Q06_ORACLE, bench=True)
def q_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _derive(spark, sf_dir, GEO_POINT_EXPRS).withColumn(
        "cell_id", xy_cell_id_col(6, F.col("lon_fp"), F.col("lat_fp"))
    )
    left = g.filter(F.col("event_id") % 2 == 0).select("event_id", "cell_id")
    right = g.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("event_id_r"), "cell_id"
    )
    return left.join(right, "cell_id").groupBy("cell_id").agg(count_agg("n_pairs"))


# fixed query points for kNN (fixed-point coords)
KNN_QUERIES = [
    (1, 86_700_000, 493_900_000),     # near "Heidelberg"
    (2, -740_000_000, 407_000_000),
    (3, 1_397_000_000, 357_000_000),
    (4, 0, 0),
    (5, -1_750_000_000, -600_000_000),
]
KNN_K = 5

_KNN_VALUES = ", ".join(f"({q}, {x}, {y})" for q, x, y in KNN_QUERIES)
_Q07_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
q(qid, qlon, qlat) AS (VALUES {_KNN_VALUES}),
d AS (SELECT q.qid, g.event_id,
        ((g.lon_fp - q.qlon) / 10000000.0) * ((g.lon_fp - q.qlon) / 10000000.0)
      + ((g.lat_fp - q.qlat) / 10000000.0) * ((g.lat_fp - q.qlat) / 10000000.0) AS d2
      FROM g, q),
r AS (SELECT qid, event_id,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, event_id) AS rank
      FROM d)
SELECT qid, event_id AS neighbor_id, rank FROM r WHERE rank <= {KNN_K}
"""


@_q("knn_points", _Q07_ORACLE, bench=True)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.knn import knn_join

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return knn_join(spark, g, KNN_QUERIES, k=KNN_K)


# rectangular zones (fixed-point bounds): zonal aggregation oracle
ZONES = [
    ("heidelberg", 80_000_000, 480_000_000, 95_000_000, 500_000_000),
    ("nyc", -760_000_000, 390_000_000, -720_000_000, 420_000_000),
    ("east", 900_000_000, -900_000_000, 1_800_000_000, 900_000_000),
    ("south", -1_800_000_000, -900_000_000, 1_800_000_000, 0),
    ("nullisland_far", 1_790_000_000, 880_000_000, 1_799_000_000, 890_000_000),
]

_ZONE_VALUES = ", ".join(
    f"('{z}', {a}, {b}, {c}, {d})" for z, a, b, c, d in ZONES
)
_Q08_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
z(zone_key, minlon, minlat, maxlon, maxlat) AS (VALUES {_ZONE_VALUES}),
j AS (SELECT z.zone_key, g.event_id, g.user_id
      FROM z LEFT JOIN g ON g.lon_fp >= z.minlon AND g.lon_fp < z.maxlon
                        AND g.lat_fp >= z.minlat AND g.lat_fp < z.maxlat)
SELECT zone_key, COUNT(event_id) AS cnt, COUNT(DISTINCT user_id) AS uniq_users
FROM j GROUP BY zone_key
"""


@_q("zonal_rect_agg", _Q08_ORACLE, bench=True)
def q_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.zonal import zonal_rect_aggregate

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return zonal_rect_aggregate(
        spark, g, ZONES,
        [F.count("event_id").alias("cnt"), count_uniq_agg("user_id", "uniq_users")],
    )


# ---------------------------------------------------------------------------
# 5. reducers / grouped aggregations on TPC-H tables
# ---------------------------------------------------------------------------

_Q09_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price,
       COUNT(*) AS cnt
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@_q("agg_pricing_summary", _Q09_ORACLE, bench=True)
def q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
            count_agg("cnt"),
        )
    )


_Q10_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS BIGINT))
            / SUM(CAST(l_quantity AS BIGINT)) AS DECIMAL(18,6)) AS weighted_price
FROM lineitem GROUP BY l_returnflag
"""


@_q("weighted_average", _Q10_ORACLE)
def q_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return li.groupBy("l_returnflag").agg(
        weighted_avg_agg("price", "qty", "weighted_price").cast("decimal(18,6)").alias("weighted_price")
    )


_Q11_ORACLE = """
SELECT l_linestatus,
       COUNT(DISTINCT l_suppkey) AS count_uniq_l_suppkey,
       QUANTILE_CONT(l_quantity, 0.25) AS q25,
       QUANTILE_CONT(l_quantity, 0.5) AS q50,
       QUANTILE_CONT(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_linestatus
"""


@_q("countuniq_quantiles", _Q11_ORACLE)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_linestatus").agg(
        count_uniq_agg("l_suppkey"),
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.5)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
    )


_Q11B_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS uniq_users,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""


@_q("countuniq_approx_gate", _Q11B_ORACLE)
def q_countuniq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL countUniq gated through the hash oracle: the query emits the
    EXACT distinct count plus a boolean asserting the HLL estimate
    (rsd=0.01) lands within 5x the target rsd of it; the oracle expects
    TRUE, so an out-of-tolerance sketch is a hash mismatch.  This gates
    the scale path (fixed-size map-side-combinable sketch partials, no
    per-distinct-key shuffle) with an exact criterion."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(
        count_uniq_agg("user_id", "uniq_users"),
        F.approx_count_distinct("user_id", 0.01).alias("__approx"),
    )
    return agg.select(
        "event_type",
        "uniq_users",
        (
            F.abs(F.col("__approx") - F.col("uniq_users"))
            <= 0.05 * F.col("uniq_users")
        ).alias("approx_ok"),
    )


ZEROFILL_TYPES = ["click", "view", "purchase", "signup", "error", "refund", "ban"]
_ZF_VALUES = ", ".join(f"('{t}')" for t in ZEROFILL_TYPES)
_Q12_ORACLE = f"""
WITH k(event_type) AS (VALUES {_ZF_VALUES}),
a AS (SELECT event_type, COUNT(*) AS c, COUNT(DISTINCT user_id) AS u
      FROM events GROUP BY event_type)
SELECT k.event_type, COALESCE(a.c, 0) AS cnt, COALESCE(a.u, 0) AS uniq_users
FROM k LEFT JOIN a ON k.event_type = a.event_type
"""


@_q("zerofill_group", _Q12_ORACLE)
def q_zerofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(
        count_agg("cnt"), count_uniq_agg("user_id", "uniq_users")
    )
    return zerofill(
        agg, spark, {"event_type": ZEROFILL_TYPES}, {"cnt": 0, "uniq_users": 0}
    )


# monthly-ish interval boundaries (micros) for aggregateByTimestamp(contribution)
INTERVAL_TS_US = [
    (1704067200 + d * 86400) * 1_000_000 for d in (0, 7, 14, 21, 28, 35)
]
_IV_VALUES = ", ".join(f"({t})" for t in INTERVAL_TS_US[:-1])
_Q13_ORACLE = f"""
WITH g AS (SELECT {DUCK_TS_US} AS ts_us, event_id FROM events),
b(b_ts) AS (VALUES {_IV_VALUES}),
f AS (SELECT g.ts_us, g.event_id,
        (SELECT MAX(b_ts) FROM b WHERE b_ts <= g.ts_us) AS interval_ts
      FROM g WHERE g.ts_us < {INTERVAL_TS_US[-1]})
SELECT interval_ts, COUNT(*) AS cnt FROM f WHERE interval_ts IS NOT NULL
GROUP BY interval_ts
"""


@_q("ts_interval_floor", _Q13_ORACLE)
def q_interval_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        f"{SPARK_TS_US} AS ts", "event_id"
    )
    return aggregate_by_timestamp_contribution(ev, INTERVAL_TS_US, [count_agg("cnt")])


# keytable ETL -> filter loop: build frequency-ordered keytables FROM the
# data, int-encode every row's string tags through them (broadcast joins),
# compile a DSL string filter through the same translator, aggregate.
# Oracle re-derives the dictionary in SQL (window rank by freq desc, value
# asc = build_keytables' order) and filters on the CODES via subselects —
# so dictionary order, the encode join, and the compiled int predicate are
# all value-checked, not just row counts.
_Q_KT_ORACLE = """
WITH lang_ids AS (
  SELECT lang AS value,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang ASC) - 1 AS INT)
           AS vid
  FROM documents GROUP BY lang
),
source_ids AS (
  SELECT source AS value,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source ASC) - 1 AS INT)
           AS vid
  FROM documents GROUP BY source
),
coded AS (
  SELECT d.doc_id, d.lang, d.source, l.vid AS lang_code, s.vid AS source_code
  FROM documents d
  JOIN lang_ids l ON l.value = d.lang
  JOIN source_ids s ON s.value = d.source
)
SELECT lang, source, lang_code, source_code, COUNT(*) AS n_docs
FROM coded
WHERE lang_code = (SELECT vid FROM lang_ids WHERE value = 'en')
   OR source_code = (SELECT vid FROM source_ids WHERE value = 'src3')
GROUP BY 1, 2, 3, 4
"""


@_q("keytable_filter_pipeline", _Q_KT_ORACLE)
def q_keytable_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship ETL->filter loop (VERDICT r2 #10): keytables built from
    the data in two pre-aggregated one-pass shuffles
    (sources/keytables.build_keytables), row tags int-encoded through the
    broadcast keytable dimensions (encode_tags), and a DSL string filter
    compiled through the data-built translator into pure int-code Column
    predicates (filters/dsl.parse_filter) — the reference's
    keytables + TagTranslator + oshdb-filter pipeline
    (JdbcTagTranslator.java, FilterParser.java)."""
    from oshdb_spark.filters.dsl import parse_filter
    from oshdb_spark.sources.keytables import build_keytables, encode_tags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tag_rows = docs.selectExpr("'lang' AS key", "lang AS value").unionAll(
        docs.selectExpr("'source' AS key", "source AS value")
    )
    tr = build_keytables(tag_rows)
    str_tags = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("source")),
        F.array(F.col("lang"), F.col("source")),
    )
    coded = encode_tags(
        docs.withColumn("str_tags", str_tags), spark, tr, key_cols=["doc_id"]
    )
    # "lang=en or source=src3" compiles to int-coded map lookups against
    # the generated dictionary — no strings survive into the predicate
    node = parse_filter("lang=en or source=src3", tr)
    lang_k, src_k = tr.key_id("lang"), tr.key_id("source")
    return (
        coded.filter(node.osm_column())
        .select(
            "lang",
            "source",
            F.col("tags").getItem(lang_k).alias("lang_code"),
            F.col("tags").getItem(src_k).alias("source_code"),
        )
        .groupBy("lang", "source", "lang_code", "source_code")
        .agg(count_agg("n_docs"))
    )


# ---------------------------------------------------------------------------
# 6. training-data pipeline ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
FROM documents GROUP BY source
"""


@_q("dedup_exact_hash", _Q14_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import exact_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup_stats(docs, group_col="source")


_UNIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
  FROM documents
),
v AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vsz FROM v)
SELECT doc_id,
       COUNT(*) AS n_toks,
       SUM(CAST(ROUND(LN((v.cnt + 1.0) / (tot.total + tot.vsz)), 9)
                AS DECIMAL(28,9))) AS sum_logp
FROM tok JOIN v USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


@_q("unigram_logprob_score", _UNIGRAM_ORACLE)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (CCNet perplexity-filter
    analog): add-one-smoothed token log-probs, rounded to 9 decimals and
    summed as DECIMAL per doc (exact, partition-order-free)."""
    from oshdb_spark.operators.text import unigram_logprob_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob_score(docs)


_CHUNK_DEDUP_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(coalesce(text, ''), ' ')) AS tok,
         generate_subscripts(string_split(coalesce(text, ''), ' '), 1) AS pos
  FROM documents
),
chunks AS (
  SELECT doc_id, (pos - 1) // 8 AS idx,
         string_agg(tok, ' ' ORDER BY pos) AS chunk
  FROM tok GROUP BY doc_id, (pos - 1) // 8
),
flagged AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) = 1
           AS keep
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         AS removed_chunks,
       md5(coalesce(
         string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE keep), ''))
         AS kept_md5
FROM flagged GROUP BY doc_id
"""


@_q("chunk_dedup_stats", _CHUNK_DEDUP_ORACLE)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular exact dedup (CCNet/RefinedWeb line-dedup analog):
    corpus-wide first occurrence of each 8-token chunk wins; per-doc keep/
    remove counts + digest of the reassembled surviving text."""
    from oshdb_spark.operators.dedup import chunk_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_dedup_stats(docs, chunk_tokens=8)


_Q15_ORACLE = """
SELECT doc_id,
  LIST_MIN([md5('0|' || substr(text, CAST(i AS INT), 7))
            FOR i IN GENERATE_SERIES(1, GREATEST(LEN(text) - 6, 1))]) AS mh0,
  LIST_MIN([md5('1|' || substr(text, CAST(i AS INT), 7))
            FOR i IN GENERATE_SERIES(1, GREATEST(LEN(text) - 6, 1))]) AS mh1
FROM documents
"""


@_q("minhash_signature", _Q15_ORACLE, bench=True)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import minhash_signature

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_signature(docs, n_hashes=2, shingle=7)


_Q16_ORACLE = """
WITH t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
           FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
    / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) AS jaccard
FROM t a JOIN t b ON a.doc_id + 250 = b.doc_id
WHERE CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
    / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) > 0.3
"""


@_q("ngram_jaccard_pairs", _Q16_ORACLE)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import token_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_jaccard_pairs(docs, offset=250, threshold=0.3)


_Q17_ORACLE = """
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(LEN(text) - LEN(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS sum_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  COUNT(DISTINCT substr(md5(substr(text, 1, 64)), 1, 8)) AS n_fingerprints
FROM documents GROUP BY source
"""


_WINNOW_ORACLE = """
WITH g AS (
  SELECT doc_id, unnest(generate_series(1, length(text) - 8 + 1)) AS i,
         length(text) - 8 + 1 AS n, text
  FROM documents WHERE length(text) >= 8 + 4 - 1
), h AS (
  SELECT doc_id, i, n, substr(md5(substr(text, i::INT, 8)), 1, 16) AS h FROM g
), wmin AS (
  SELECT doc_id, i, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
  FROM h
), fp AS (SELECT DISTINCT doc_id, mh FROM wmin WHERE i <= n - 4 + 1)
SELECT doc_id, count(*) AS n_fp, min(mh) AS min_fp
FROM fp GROUP BY doc_id
"""


@_q("winnow_fingerprint", _WINNOW_ORACLE)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (k=8 char grams,
    window w=4) — operators/text.winnow_fingerprints; per doc the
    fingerprint-set size and lexicographic min fingerprint (the full set
    is an array column; the scalars keep the oracle compare exact).
    Pure JVM array expressions: no shuffle (narrow per-doc), no Python."""
    from oshdb_spark.operators.text import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs).select(
        "doc_id",
        F.size("fingerprints").cast("long").alias("n_fp"),
        F.array_min("fingerprints").alias("min_fp"),
    )


_REP_ORACLE = """
WITH toks AS (
  SELECT doc_id, LENGTH(text) AS nc, STRING_SPLIT(text, ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, nc, t[i] || ' ' || t[i+1] AS gram
  FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t)-1)) AS i) u
  WHERE LEN(t) >= 2
),
cnts AS (
  SELECT doc_id, nc, gram, COUNT(*) AS cnt
  FROM grams GROUP BY doc_id, nc, gram
),
agg AS (
  SELECT doc_id, nc, SUM(cnt) AS n_grams, COUNT(*) AS n_distinct,
         MAX({'cnt': cnt, 'glen': LENGTH(gram)}) AS best
  FROM cnts GROUP BY doc_id, nc
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_gram_frac,
       CAST(best.cnt AS BIGINT) AS top_gram_cnt,
       CAST(best.cnt * best.glen AS DOUBLE) / nc AS top_gram_char_frac
FROM agg
"""


_DECON_PROBES = [
    "batch batch",
    "hash join",
    "order sort",
    "the fast",
    "window window",
]

_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
  FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t)-1)) AS i) u
  WHERE LEN(t) >= 2
),
p(gram) AS (VALUES {", ".join(f"('{g}')" for g in _DECON_PROBES)})
SELECT doc_id,
       CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_probe_hits,
       MIN(g.gram) AS first_hit
FROM grams g JOIN p ON p.gram = g.gram
GROUP BY doc_id
"""


@_q("ngram_decontaminate", _DECON_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs sharing any probe 2-gram, with the
    distinct-hit count and lexicographic first hit per doc."""
    from oshdb_spark.operators.text import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_decontaminate(docs, _DECON_PROBES, n=2)


@_q("repetition_signals", _REP_ORACLE)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-quality filters (duplicate-2-gram fraction + top-
    2-gram char coverage); the (count, gram-length) struct max keeps the
    tie-break deterministic on both engines."""
    from oshdb_spark.operators.text import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_signals(docs, n=2)


@_q("text_token_stats", _Q17_ORACLE)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.text import token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_stats(docs, group_col="source")


_Q18_ORACLE = """
SELECT lang,
  CAST(SUM((LEN(text) - LEN(REPLACE(text, 'the', ''))) / 3) AS BIGINT) AS stopword_hits,
  CAST(SUM(LEN(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


@_q("lang_stopword_score", _Q18_ORACLE)
def q_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.text import stopword_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stopword_score(docs, stopword="the", group_col="lang")


_QNT_ORACLE = """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         LIST_MAX(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                 x -> ABS(x))) / 127.0 AS scale
  FROM embeddings
)
SELECT vec_id, scale,
       MD5(ARRAY_TO_STRING(
         LIST_TRANSFORM(v, x -> CAST(CAST(FLOOR(x / scale + 0.5) AS INT)
                                     AS VARCHAR)), ',')) AS qdigest,
       CAST(LEN(v) AS BIGINT) AS n_dims
FROM s WHERE scale > 0
"""


@_q("embedding_quantize", _QNT_ORACLE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization under the value-hash gate:
    the code array is digested (md5 of comma-joined ints) so a single
    off-by-one code in any dimension of any vector fails the gate."""
    from oshdb_spark.operators.similarity import quantize_embeddings

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = quantize_embeddings(embs.select("vec_id", "embedding"))
    return out.filter(F.col("scale") > 0).select(
        "vec_id",
        "scale",
        F.md5(
            F.array_join(
                F.expr("transform(qvec, x -> CAST(x AS STRING))"), ","
            )
        ).alias("qdigest"),
        F.size("qvec").cast("long").alias("n_dims"),
    )


_Q19_ORACLE = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
d AS (SELECT q.qid, c.vec_id,
        LIST_DOT_PRODUCT(q.qv, c.cv)
          / (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(c.cv, c.cv))) AS sim
      FROM q, c WHERE q.qid <> c.vec_id),
r AS (SELECT qid, vec_id,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM d)
SELECT qid, vec_id AS neighbor_id, rank FROM r WHERE rank <= 5
"""


@_q("ann_bruteforce_cosine", _Q19_ORACLE, bench=True)
def q_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(queries, emb, k=5)


# ---------------------------------------------------------------------------
# 7. scale-path variants: salted join, pruned scan (rect pushdown)
# ---------------------------------------------------------------------------


@_q("cell_hash_join_salted", _Q06_ORACLE, bench=True)
def q_cell_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics (and same oracle) as cell_hash_join, executed through
    the explicit salted-key skew path (plans/skew.py) — the gate proves the
    salt is result-transparent."""
    from oshdb_spark.plans.skew import salted_join

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS).withColumn(
        "cell_id", xy_cell_id_col(6, F.col("lon_fp"), F.col("lat_fp"))
    )
    left = g.filter(F.col("event_id") % 2 == 0).select("event_id", "cell_id")
    right = g.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("event_id_r"), "cell_id"
    )
    joined = salted_join(
        left, right, ["cell_id"], fact_unique_col="event_id", n_salts=8,
        broadcast_dim=False,
    )
    return joined.groupBy("cell_id").agg(count_agg("n_pairs"))


# query bbox for the pruned-scan gate (fixed-point, lon 20..80, lat -10..40)
PRUNE_BBOX = (200_000_000, -100_000_000, 800_000_000, 400_000_000)

_Q21_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_LOCAL_EXPRS)})
SELECT user_id, COUNT(*) AS cnt
FROM g
WHERE lon_fp >= {PRUNE_BBOX[0]} AND lon_fp <= {PRUNE_BBOX[2]}
  AND lat_fp >= {PRUNE_BBOX[1]} AND lat_fp <= {PRUNE_BBOX[3]}
GROUP BY user_id
"""


@_q("pruned_bbox_scan", _Q21_ORACLE, bench=True)
def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-rule tiling + enlarged rect-cover pruning + exact refinement
    must equal a plain bbox scan (the OSHDB storage guarantee: an entity
    intersecting the AOI is always found via the enlarged cell ranges,
    XYGridTree.java:93-100 + XYGrid.java:385-394)."""
    from oshdb_spark.operators.tiling import cell_rect_filter, xy_insert_cell_udf

    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS)
    boxes = g.groupBy("user_id").agg(
        F.min("lon_fp").alias("minlon"),
        F.min("lat_fp").alias("minlat"),
        F.max("lon_fp").alias("maxlon"),
        F.max("lat_fp").alias("maxlat"),
    )
    # Arrow-UDF tiling path: one vectorized numpy evaluation per batch —
    # the pure-Column CASE variant would be re-inlined into each of the
    # rect filter's ~30 references (projection collapse), bloating codegen
    udf = xy_insert_cell_udf()
    cells = boxes.select(
        "user_id", udf("minlon", "minlat", "maxlon", "maxlat").alias("c")
    ).select(
        "user_id",
        F.col("c.cell_zoom").alias("cell_zoom"),
        F.col("c.cell_id").alias("cell_id"),
    )
    kept = cells.filter(cell_rect_filter(PRUNE_BBOX)).select("user_id")
    pts_in = g.filter(
        (F.col("lon_fp") >= PRUNE_BBOX[0])
        & (F.col("lon_fp") <= PRUNE_BBOX[2])
        & (F.col("lat_fp") >= PRUNE_BBOX[1])
        & (F.col("lat_fp") <= PRUNE_BBOX[3])
    )
    return (
        pts_in.join(F.broadcast(kept), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(count_agg("cnt"))
    )


# ---------------------------------------------------------------------------
# 8. more training-data ops: simhash, LSH pairs, quality, embeddings
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
WITH t AS (SELECT doc_id, md5(UNNEST(STRING_SPLIT(text, ' '))) AS h FROM documents),
b AS (SELECT doc_id, h, UNNEST(GENERATE_SERIES(0, 59)) AS bit FROM t),
v AS (SELECT doc_id, bit,
        CASE WHEN ((STRPOS('0123456789abcdef', substr(h, bit // 4 + 1, 1)) - 1)
                   >> (3 - bit % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
      FROM b),
s AS (SELECT doc_id, bit, SUM(vote) AS v FROM v GROUP BY doc_id, bit)
SELECT doc_id, bit,
       CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sgn
FROM s
"""


@_q("simhash_bits", _Q22_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import simhash_bits_portable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_bits_portable(docs)


_SIMHASH_NEARDUP_ORACLE = """
WITH t AS (SELECT doc_id, md5(UNNEST(STRING_SPLIT(text, ' '))) AS h FROM documents),
b AS (SELECT doc_id, h, UNNEST(GENERATE_SERIES(0, 59)) AS bit FROM t),
v AS (SELECT doc_id, bit,
        CASE WHEN ((STRPOS('0123456789abcdef', substr(h, bit // 4 + 1, 1)) - 1)
                   >> (3 - bit % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
      FROM b),
s AS (SELECT doc_id, bit, SUM(vote) AS v FROM v GROUP BY doc_id, bit),
sig AS (SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sig
        FROM s GROUP BY doc_id),
e AS (SELECT doc_id, sig, UNNEST(GENERATE_SERIES(0, 3)) AS band_idx FROM sig),
bands AS (SELECT doc_id, sig, band_idx,
                 (sig >> (15 * band_idx)) & 32767 AS band_val
          FROM e),
p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sig AS sa, b.sig AS sb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM p
WHERE bit_count(xor(sa, sb)) <= 3
"""


@_q("simhash_neardup_pairs", _SIMHASH_NEARDUP_ORACLE)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 near-dup pairs via the 4-band pigeonhole join
    (Manku WWW'07) — recall-lossless, exact popcount verify, all Catalyst
    bit arithmetic.  Complements lsh_candidate_pairs (probabilistic
    recall) with the deterministic small-distance dedup pass a crawl
    pipeline runs first."""
    from oshdb_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_neardup_pairs(docs, max_hamming=3, n_bits=60, n_bands=4)


def _mh_duck(salt: int, shingle: int = 7) -> str:
    k = shingle
    return (
        f"LIST_MIN([md5('{salt}|' || substr(text, CAST(i AS INT), {k}))"
        f" FOR i IN GENERATE_SERIES(1, GREATEST(LEN(text) - {k - 1}, 1))])"
    )


_Q23_ORACLE = f"""
WITH s AS (SELECT doc_id AS id, {_mh_duck(0)} AS mh0, {_mh_duck(1)} AS mh1
           FROM documents),
p AS (
  SELECT a.id AS id_a, b.id AS id_b FROM s a JOIN s b
    ON a.mh0 = b.mh0 AND a.id < b.id
  UNION
  SELECT a.id AS id_a, b.id AS id_b FROM s a JOIN s b
    ON a.mh1 = b.mh1 AND a.id < b.id
)
SELECT id_a, id_b FROM p
"""


@_q("lsh_candidate_pairs", _Q23_ORACLE)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_candidate_pairs(docs, bands=2, rows_per_band=1)


_LSH_CAP = 3

_Q23B_ORACLE = f"""
WITH s AS (SELECT doc_id AS id, {_mh_duck(0)} AS mh0, {_mh_duck(1)} AS mh1
           FROM documents),
st AS (SELECT id, 0 AS band_idx, mh0 AS band_key FROM s
       UNION ALL SELECT id, 1, mh1 FROM s),
c AS (SELECT band_idx, band_key, COUNT(*) AS n FROM st GROUP BY 1, 2),
cold AS (SELECT st.id, st.band_idx, st.band_key
         FROM st JOIN c USING (band_idx, band_key) WHERE c.n <= {_LSH_CAP}),
hotids AS (SELECT DISTINCT st.id
           FROM st JOIN c USING (band_idx, band_key) WHERE c.n > {_LSH_CAP}),
coldp AS (SELECT a.id AS id_a, b.id AS id_b FROM cold a JOIN cold b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.id < b.id),
hd AS (SELECT d.doc_id AS id, md5(d.text) AS th
       FROM documents d JOIN hotids h ON d.doc_id = h.id),
reps AS (SELECT th, MIN(id) AS id_a FROM hd GROUP BY th),
star AS (SELECT r.id_a, h.id AS id_b FROM hd h JOIN reps r USING (th)
         WHERE h.id <> r.id_a)
SELECT DISTINCT id_a, id_b FROM (SELECT * FROM coldp UNION ALL SELECT * FROM star)
"""


@_q("lsh_capped_pairs", _Q23B_ORACLE)
def q_lsh_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-capped banded LSH (operators/dedup.lsh_candidate_pairs
    with hot_key_cap): band keys hotter than the cap divert their members
    to exact-dedup star pairs — the skew-proof 100-TB shape for
    duplicate-heavy corpora.  Oracle replays both paths (cold self-join +
    md5-cluster star) in SQL."""
    from oshdb_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_candidate_pairs(
        docs, bands=2, rows_per_band=1, hot_key_cap=_LSH_CAP
    )


_Q24_ORACLE = """
SELECT doc_id,
  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(LEN(text) AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')) AS mean_tok_len,
  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
    / LEN(STRING_SPLIT(text, ' ')) AS type_token_ratio
FROM documents
"""


@_q("quality_score", _Q24_ORACLE)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(docs)


_Q25_ORACLE = """
WITH p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
       * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id + 250 = b.vec_id),
r AS (SELECT vec_a, vec_b, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_a) AS rank FROM p)
SELECT vec_a, vec_b, rank FROM r WHERE rank <= 50
"""


@_q("embedding_neardup_rank", _Q25_ORACLE)
def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: offset-paired docs ranked
    by cosine similarity (rank output keeps the compare float-free).

    Two-phase top-k: local top-50 per deterministic hash bucket (parallel
    windows), then the global rank over the <= 50 * N_BUCKETS survivors —
    the final single-task sort is bounded by the bucket count, never by
    the pair count (round 1 had a global Window.orderBy pulling every pair
    through one task)."""
    from oshdb_spark.operators.similarity import with_norm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = with_norm(emb).select(
        F.col("vec_id").alias("vec_a"),
        F.col("__v").alias("va"),
        F.col("__norm").alias("na"),
    )
    b = with_norm(emb).select(
        F.col("vec_id").alias("vec_b"),
        F.col("__v").alias("vb"),
        F.col("__norm").alias("nb"),
    )
    j = a.join(b, F.col("vec_a") + 250 == F.col("vec_b"))
    sim = (
        F.expr(
            "aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        / (F.col("na") * F.col("nb"))
    )
    n_buckets = 32
    local = (
        j.withColumn("sim", sim)
        .withColumn("__b", F.pmod(F.xxhash64("vec_a"), F.lit(n_buckets)))
        .withColumn(
            "lrank",
            F.row_number().over(
                Window.partitionBy("__b").orderBy(F.col("sim").desc(), "vec_a")
            ),
        )
        .filter(F.col("lrank") <= 50)
    )
    ranked = local.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("sim").desc(), "vec_a")),
    )
    return ranked.filter(F.col("rank") <= 50).select("vec_a", "vec_b", "rank")


def _ivf_planes(n_planes: int, dim: int, seed: int = 7):
    import numpy as np

    rs = np.random.RandomState(seed)
    return rs.normal(size=(n_planes, dim))


_IVF_PLANES = _ivf_planes(3, 64)


def _ivf_bucket_duck(vec: str) -> str:
    terms = []
    for p in range(len(_IVF_PLANES)):
        w = ", ".join(repr(float(x)) for x in _IVF_PLANES[p])
        terms.append(
            f"(CASE WHEN LIST_DOT_PRODUCT(CAST({vec} AS DOUBLE[]), [{w}]) > 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


_Q26_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  {_ivf_bucket_duck("embedding")} AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv, bucket FROM e WHERE vec_id < 10),
j AS (SELECT q.qid, e.vec_id AS neighbor_id,
        LIST_DOT_PRODUCT(q.qv, e.v)
          / (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS sim
      FROM q JOIN e ON q.bucket = e.bucket AND q.qid <> e.vec_id),
r AS (SELECT qid, neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      FROM j)
SELECT qid, neighbor_id, rank FROM r WHERE rank <= 5
"""


@_q("ann_ivf_lsh", _Q26_ORACLE, bench=True)
def q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via hyperplane-LSH bucketing (the 100TB ANN path:
    equi-join on bucket instead of a cross product)."""
    from oshdb_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5, n_planes=3, dim=64)


# way member resolution under the oracle gate: ways reference 3 derived
# nodes each; the engine resolves each ref to the node version valid at the
# snapshot timestamp (OSHEntities.getByTimestamp as-of semantics) and the
# oracle re-derives the same resolution in SQL
_Q28_ORACLE = f"""
WITH v AS ({_duck_derive(GEO_VERSION_EXPRS)}),
w(way_id) AS (SELECT DISTINCT CAST(FLOOR(id / 3) AS BIGINT) FROM v),
r AS (SELECT way_id, way_id * 3 + p.pos AS ref, p.pos
      FROM w, (SELECT UNNEST([0, 1, 2]) AS pos) p),
t(snap_ts) AS (VALUES {_SNAP_VALUES}),
res AS (
  SELECT r.way_id, t.snap_ts, r.pos, v.visible, v.lon_fp
  FROM r CROSS JOIN t
  LEFT JOIN v ON v.id = r.ref AND v.ts_us <= t.snap_ts
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY r.way_id, t.snap_ts, r.pos
    ORDER BY v.ts_us DESC, v.event_id DESC) = 1
)
SELECT way_id, snap_ts,
       COUNT(CASE WHEN visible THEN 1 END) AS n_nodes,
       CAST(SUM(CASE WHEN visible THEN lon_fp END) AS BIGINT) AS sum_lon_fp
FROM res GROUP BY way_id, snap_ts
HAVING COUNT(CASE WHEN visible THEN 1 END) > 0
"""


@_q("way_member_resolution", _Q28_ORACLE, bench=True)
def q_member_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.snapshot import node_snapshots, way_lines

    g = _derive(spark, sf_dir, GEO_VERSION_EXPRS)
    win = Window.partitionBy("id").orderBy("ts_us", "event_id")
    nodes = g.select(
        F.lit("n").alias("doc_id"),
        F.lit("node").alias("type"),
        "id",
        F.row_number().over(win).alias("version"),
        "visible",
        F.col("ts_us").alias("ts"),
        F.lit(0).cast("long").alias("changeset"),
        F.lit(0).cast("int").alias("uid"),
        F.create_map(F.lit(1), F.lit(1)).alias("tags"),
        F.col("lon_fp").alias("lon"),
        F.col("lat_fp").alias("lat"),
        F.lit(None).cast("array<bigint>").alias("refs"),
        F.lit(None)
        .cast("array<struct<type:string,ref:bigint,role:string>>")
        .alias("members"),
    )
    ways = (
        g.select(F.floor(F.col("id") / 3).cast("long").alias("way_id"))
        .distinct()
        .select(
            F.lit("w").alias("doc_id"),
            F.lit("way").alias("type"),
            F.col("way_id").alias("id"),
            F.lit(1).alias("version"),
            F.lit(True).alias("visible"),
            F.lit(0).cast("long").alias("ts"),
            F.lit(0).cast("long").alias("changeset"),
            F.lit(0).cast("int").alias("uid"),
            F.create_map(F.lit(1), F.lit(1)).alias("tags"),
            F.lit(None).cast("long").alias("lon"),
            F.lit(None).cast("long").alias("lat"),
            F.array(
                F.col("way_id") * 3,
                F.col("way_id") * 3 + 1,
                F.col("way_id") * 3 + 2,
            ).alias("refs"),
            F.lit(None)
            .cast("array<struct<type:string,ref:bigint,role:string>>")
            .alias("members"),
        )
    )
    entities = nodes.unionByName(ways)
    nsnap = node_snapshots(entities, SNAP_TS_US)
    wl = way_lines(entities, nsnap, SNAP_TS_US)
    line_sum = F.aggregate(
        F.col("line"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.round(p["lon"] * 1e7).cast("long"),
    )
    return (
        wl.select(
            F.col("id").alias("way_id"),
            "snap_ts",
            F.size("line").alias("n_nodes"),
            line_sum.alias("sum_lon_fp"),
        )
        .filter(F.col("n_nodes") > 0)
    )


# media oracle: the fake payload pipeline is sha256-deterministic, so DuckDB
# can re-derive EVERY feature bit with hex/list arithmetic: ref = 'blob://'
# || md5(text); digest bytes from sha256(ref) hex; payload = digest cycled
# to min(64 + b2, 256) bytes; decoded signal = payload cycled to the
# metadata-determined length; feature-0 count = #signal bytes in histogram
# bin 0 (byte <= 15).  All-integer outputs -> hash-exact compare.
_HEXD = "strpos('0123456789abcdef', {c}) - 1"
_Q30_ORACLE = f"""
WITH refs AS (SELECT DISTINCT 'blob://' || md5(text) AS ref FROM documents),
h AS (SELECT ref, sha256(ref) AS hx FROM refs),
b AS (SELECT ref,
        [({_HEXD.format(c="substr(hx, 2*i-1, 1)")}) * 16
         + ({_HEXD.format(c="substr(hx, 2*i, 1)")})
         FOR i IN GENERATE_SERIES(1, 32)] AS by FROM h),
m AS (SELECT ref, by,
        ['image', 'audio', 'video'][by[1] % 3 + 1] AS kind,
        LEAST(64 + by[2], 256) AS paylen,
        CASE by[1] % 3
          WHEN 0 THEN (16 + by[3] % 64) * (16 + by[4] % 64)
          WHEN 1 THEN 160
          ELSE (1 + by[5] % 30) * 64 END AS sig_len
      FROM b),
f AS (SELECT ref, kind, sig_len,
        LIST_SUM([CASE WHEN by[(p % 32) + 1] <= 15 AND p < sig_len
                       THEN (sig_len - 1 - p) // paylen + 1
                       ELSE 0 END
                  FOR p IN GENERATE_SERIES(0, paylen - 1)]) AS f0_cnt
      FROM m)
SELECT kind, COUNT(*) AS n_media,
       CAST(SUM(f0_cnt) AS BIGINT) AS sum_f0,
       CAST(SUM(sig_len) AS BIGINT) AS sum_len
FROM f GROUP BY kind
"""


@_q("media_features", _Q30_ORACLE)
def q_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the driver contract: derive media refs
    from the documents table, synthesize payload+metadata, run the
    mapInPandas feature extraction, aggregate per media kind.  The decode
    itself is the documented stub (operators/media.py); everything Spark-
    side (schemas, Arrow batches, explode/aggregate) is real — and since
    the stub is sha256-deterministic, the oracle re-derives the exact
    bin-0 histogram counts in SQL (integer outputs, hash-exact)."""
    from oshdb_spark.operators.media import extract_features, synthesize_media_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        "array(named_struct('kind', 'media', 'text', '',"
        " 'media_ref', concat('blob://', md5(text)), 'offset', 0)) AS spans",
    )
    media = synthesize_media_table(docs)
    feats = extract_features(media)
    sig_len = (
        F.when(F.col("meta.kind") == "image", F.col("meta.width") * F.col("meta.height"))
        .when(F.col("meta.kind") == "audio", F.floor(F.col("meta.sample_rate") / 100))
        .otherwise(F.col("meta.n_frames") * 64)
        .cast("long")
    )
    # features[0] is the float32 FRACTION hist0/sig_len; the count round-
    # trips exactly (relative error ~1e-7 << 0.5/sig_len)
    f0_cnt = F.round(F.element_at("features", 1).cast("double") * sig_len).cast("long")
    return (
        media.join(feats, "media_ref")
        .withColumn("sig_len", sig_len)
        .withColumn("f0_cnt", f0_cnt)
        .groupBy(F.col("meta.kind").alias("kind"))
        .agg(
            count_agg("n_media"),
            F.sum("f0_cnt").alias("sum_f0"),
            F.sum("sig_len").alias("sum_len"),
        )
    )


# t-digest oracle: the sketch estimate cannot be reproduced in SQL, but its
# RANK-ERROR BOUND can be asserted exactly: the engine computes the exact
# rank window of each estimate within its group (ties widen the window) and
# emits ok = window intersects [q +/- eps]; the oracle states the expected
# fixed point — every (group, quantile) present, ok = TRUE, with the group
# counts computed from data.  A sketch drifting beyond eps = 0.01 rank
# error flips ok and fails the hash compare.
_Q31_ORACLE = """
SELECT l_linestatus, COUNT(*) AS n,
       TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
FROM lineitem GROUP BY l_linestatus
"""


@_q("tdigest_quantiles", _Q31_ORACLE)
def q_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """estimatedQuantile parity path: a real merging t-digest
    (compression=1000, like the reference's TdigestReducer) run as
    partial-digest mapInPandas + merge applyInPandas, then oracle-gated by
    an exact rank-error assertion (see _Q31_ORACLE)."""
    from oshdb_spark.operators.tdigest import tdigest_quantiles

    eps = 0.01
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_linestatus", F.col("l_quantity").cast("double").alias("l_quantity")
    )
    est = tdigest_quantiles(
        li, "l_quantity", [0.25, 0.5, 0.75], group_cols=["l_linestatus"]
    )
    j = li.join(F.broadcast(est), "l_linestatus")
    aggs = [F.count(F.lit(1)).alias("n")]
    for q in (25, 50, 75):
        qc = F.col(f"q{q}_l_quantity")
        aggs += [
            F.sum((F.col("l_quantity") < qc).cast("long")).alias(f"lt{q}"),
            F.sum((F.col("l_quantity") <= qc).cast("long")).alias(f"le{q}"),
        ]
    ranks = j.groupBy("l_linestatus").agg(*aggs)
    out = ranks
    for q in (25, 50, 75):
        frac = q / 100.0
        ok = (F.col(f"lt{q}") / F.col("n") <= frac + eps) & (
            F.col(f"le{q}") / F.col("n") >= frac - eps
        )
        out = out.withColumn(f"ok{q}", ok)
    return out.select("l_linestatus", "n", "ok25", "ok50", "ok75")


# ---------------------------------------------------------------------------
# 9. interleaved-span machinery under the oracle gate
# ---------------------------------------------------------------------------

_SPAN_SPARK = (
    "array("
    " named_struct('kind', 'text', 'text', substring(text, 1, 40),"
    "              'media_ref', '', 'offset', 0),"
    " named_struct('kind', 'media', 'text', '',"
    "              'media_ref', concat('img_', CAST(doc_id AS STRING)), 'offset', 40),"
    " named_struct('kind', 'text', 'text', substring(text, 41, 1000000),"
    "              'media_ref', '', 'offset', 41)"
    ") AS spans"
)

_Q27_ORACLE = """
SELECT source, COUNT(*) AS n_docs, COUNT(*) AS n_roundtrip_ok
FROM documents GROUP BY source
"""

# two media spans per doc with deterministic cross-doc ref collisions
# (residue classes mod 97 and mod 53) so asset dedup has real work:
# n_refs > n_docs whenever one doc's two spans hit the same asset.
_SPAN_SPARK_SHARED_MEDIA = (
    "array("
    " named_struct('kind', 'text', 'text', substring(text, 1, 40),"
    "              'media_ref', '', 'offset', 0),"
    " named_struct('kind', 'media', 'text', '',"
    "              'media_ref', concat('img_', CAST(doc_id % 97 AS STRING)),"
    "              'offset', 40),"
    " named_struct('kind', 'media', 'text', '',"
    "              'media_ref', concat('img_', CAST(doc_id % 53 AS STRING)),"
    "              'offset', 80),"
    " named_struct('kind', 'text', 'text', substring(text, 41, 1000000),"
    "              'media_ref', '', 'offset', 81)"
    ") AS spans"
)

_MEDIA_DEDUP_ORACLE = """
WITH refs AS (
  SELECT doc_id, 'img_' || CAST(doc_id % 97 AS VARCHAR) AS media_ref,
         40 AS off FROM documents
  UNION ALL
  SELECT doc_id, 'img_' || CAST(doc_id % 53 AS VARCHAR), 80 FROM documents
)
SELECT media_ref,
       COUNT(*) AS n_refs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS canonical_doc
FROM refs GROUP BY media_ref
"""


@_q("media_asset_dedup", _MEDIA_DEDUP_ORACLE)
def q_media_asset_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document media-asset dedup over the interleaved spans column:
    distinct media_ref -> reference count, embedding-doc count, canonical
    owner.  The asset-level pass a multimodal pipeline runs before decode
    (decode each shared asset once, join features back by ref)."""
    from oshdb_spark.operators.media import media_asset_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "text", _SPAN_SPARK_SHARED_MEDIA
    )
    return media_asset_dedup(docs)


@_q("span_roundtrip", _Q27_ORACLE)
def q_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an interleaved spans column (text/media interleaved, offsets),
    run the engine's span reassembly (sources/entities.reassemble_payload),
    and count docs whose reassembled payload is byte-identical to the
    original text.  The oracle independently asserts ALL docs round-trip —
    a mis-ordered or media-polluted reassembly breaks the match."""
    from oshdb_spark.sources.entities import reassemble_payload

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "text", "source", _SPAN_SPARK
    )
    re = reassemble_payload(docs)
    return re.groupBy("source").agg(
        count_agg("n_docs"),
        F.sum(F.when(F.col("payload") == F.col("text"), 1).otherwise(0))
        .cast("long")
        .alias("n_roundtrip_ok"),
    )


# ---------------------------------------------------------------------------
# non-convex polygon AOI operators (round-2: FastPolygonOperations parity)
# ---------------------------------------------------------------------------
#
# Zone bounds are offset by +500 fixed-point units (0.00005 deg) while every
# derived coordinate is a multiple of 1000, so no point/vertex ever lies
# EXACTLY on a zone boundary — engine (IEEE-double kernels) and oracle
# (exact integer/double SQL) then provably agree on every membership and
# crossing decision: true sign magnitudes are >= the 1e-8 coordinate
# quantum while double round-off is ~1e-12.

_PZ = 500  # fixed-point offset


def _rect_deg(x0: int, y0: int, x1: int, y1: int) -> list[list[float]]:
    return [
        [x0 / 1e7, y0 / 1e7],
        [x1 / 1e7, y0 / 1e7],
        [x1 / 1e7, y1 / 1e7],
        [x0 / 1e7, y1 / 1e7],
        [x0 / 1e7, y0 / 1e7],
    ]


# L-shape = [0,40]x[0,20] UNION [0,20]x[20,40] degrees (all bounds +0.00005)
_L_R1 = (_PZ, _PZ, 400_000_000 + _PZ, 200_000_000 + _PZ)
_L_R2 = (_PZ, 200_000_000 + _PZ, 200_000_000 + _PZ, 400_000_000 + _PZ)
L_POLY = {
    "type": "Polygon",
    "coordinates": [[
        [_PZ / 1e7, _PZ / 1e7],
        [(400_000_000 + _PZ) / 1e7, _PZ / 1e7],
        [(400_000_000 + _PZ) / 1e7, (200_000_000 + _PZ) / 1e7],
        [(200_000_000 + _PZ) / 1e7, (200_000_000 + _PZ) / 1e7],
        [(200_000_000 + _PZ) / 1e7, (400_000_000 + _PZ) / 1e7],
        [_PZ / 1e7, (400_000_000 + _PZ) / 1e7],
        [_PZ / 1e7, _PZ / 1e7],
    ]],
}

# square [60,100]x[-40,0] with central hole [70,90]x[-30,-10] (all +0.00005)
_H_OUT = (600_000_000 + _PZ, -400_000_000 + _PZ, 1_000_000_000 + _PZ, _PZ)
_H_IN = (700_000_000 + _PZ, -300_000_000 + _PZ, 900_000_000 + _PZ, -100_000_000 + _PZ)
HOLED_POLY = {
    "type": "Polygon",
    "coordinates": [
        _rect_deg(*_H_OUT),
        list(reversed(_rect_deg(*_H_IN))),
    ],
}

_Q28_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
z(zone_key) AS (VALUES ('l_shape'), ('holed_square')),
m AS (
  SELECT 'l_shape' AS zone_key, event_id, user_id FROM g
  WHERE (lon_fp >= {_L_R1[0]} AND lon_fp <= {_L_R1[2]}
         AND lat_fp >= {_L_R1[1]} AND lat_fp <= {_L_R1[3]})
     OR (lon_fp >= {_L_R2[0]} AND lon_fp <= {_L_R2[2]}
         AND lat_fp >= {_L_R2[1]} AND lat_fp <= {_L_R2[3]})
  UNION ALL
  SELECT 'holed_square' AS zone_key, event_id, user_id FROM g
  WHERE lon_fp >= {_H_OUT[0]} AND lon_fp <= {_H_OUT[2]}
    AND lat_fp >= {_H_OUT[1]} AND lat_fp <= {_H_OUT[3]}
    AND NOT (lon_fp > {_H_IN[0]} AND lon_fp < {_H_IN[2]}
             AND lat_fp > {_H_IN[1]} AND lat_fp < {_H_IN[3]})
)
SELECT z.zone_key, COUNT(m.event_id) AS cnt,
       COUNT(DISTINCT m.user_id) AS uniq_users
FROM z LEFT JOIN m USING (zone_key) GROUP BY z.zone_key
"""


@_q("zonal_polygon_agg", _Q28_ORACLE, bench=True)
def q_zonal_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal aggregation over NON-CONVEX polygon zones (an L-shape and a
    holed square) via the vectorized crossing-number PIP kernel — the
    aggregateByGeometry path the reference drives through GeometrySplitter
    (GeometrySplitter.java:43-277) for arbitrary region shapes.  The
    oracle re-derives zone membership as rectangle algebra (L = union of
    2 rects; holed square = outer AND NOT strictly-in-hole)."""
    from oshdb_spark.operators.zonal import zonal_polygon_aggregate

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return zonal_polygon_aggregate(
        spark, g,
        [("l_shape", L_POLY), ("holed_square", HOLED_POLY)],
        [F.count("event_id").alias("cnt"), count_uniq_agg("user_id", "uniq_users")],
    )


# segments around/through the L-zone: coords are multiples of 1000 fp
GEO_SEGMENT_EXPRS = [
    "event_id",
    "(event_id % 500) * 1000000 + (event_id % 83) * 1000 AS ax",
    "((event_id * 13) % 500) * 1000000 + (event_id % 79) * 1000 AS ay",
    "(event_id % 500) * 1000000 + (event_id % 83) * 1000"
    " + ((event_id % 41) - 20) * 20000000 AS bx",
    "((event_id * 13) % 500) * 1000000 + (event_id % 79) * 1000"
    " + (((event_id * 7) % 37) - 18) * 20000000 AS by",
]


def _lb_interval_sql(rect: tuple[int, int, int, int], suffix: str) -> str:
    """Liang-Barsky [t0,t1] of segment (axd,ayd)-(bxd,byd) inside a closed
    rect, as SQL columns t0{suffix}, t1{suffix} (degree doubles)."""
    x0, y0, x1, y1 = (v / 1e7 for v in rect)
    return f"""
      CASE WHEN bxd = axd
           THEN CASE WHEN axd >= {x0!r} AND axd <= {x1!r} THEN 0.0 ELSE 2.0 END
           ELSE LEAST(({x0!r} - axd) / (bxd - axd), ({x1!r} - axd) / (bxd - axd))
      END AS tminx{suffix},
      CASE WHEN bxd = axd
           THEN CASE WHEN axd >= {x0!r} AND axd <= {x1!r} THEN 1.0 ELSE -1.0 END
           ELSE GREATEST(({x0!r} - axd) / (bxd - axd), ({x1!r} - axd) / (bxd - axd))
      END AS tmaxx{suffix},
      CASE WHEN byd = ayd
           THEN CASE WHEN ayd >= {y0!r} AND ayd <= {y1!r} THEN 0.0 ELSE 2.0 END
           ELSE LEAST(({y0!r} - ayd) / (byd - ayd), ({y1!r} - ayd) / (byd - ayd))
      END AS tminy{suffix},
      CASE WHEN byd = ayd
           THEN CASE WHEN ayd >= {y0!r} AND ayd <= {y1!r} THEN 1.0 ELSE -1.0 END
           ELSE GREATEST(({y0!r} - ayd) / (byd - ayd), ({y1!r} - ayd) / (byd - ayd))
      END AS tmaxy{suffix}
    """


_Q29_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_SEGMENT_EXPRS)}),
d AS (SELECT event_id,
             CAST(ax AS DOUBLE) / 1e7 AS axd, CAST(ay AS DOUBLE) / 1e7 AS ayd,
             CAST(bx AS DOUBLE) / 1e7 AS bxd, CAST(by AS DOUBLE) / 1e7 AS byd
      FROM g),
t AS (SELECT event_id, axd, ayd, bxd, byd,
             {_lb_interval_sql(_L_R1, "1")},
             {_lb_interval_sql(_L_R2, "2")}
      FROM d),
iv AS (SELECT event_id,
              GREATEST(0.0, tminx1, tminy1) AS t0a, LEAST(1.0, tmaxx1, tmaxy1) AS t1a,
              GREATEST(0.0, tminx2, tminy2) AS t0b, LEAST(1.0, tmaxx2, tmaxy2) AS t1b
       FROM t),
p AS (SELECT event_id,
             (t1a - t0a) > 1e-9 AS ha, (t1b - t0b) > 1e-9 AS hb,
             CASE WHEN (t1a - t0a) > 1e-9 AND (t1b - t0b) > 1e-9
                  THEN (GREATEST(t0a, t0b) < LEAST(t1a, t1b) + 1e-9)
                  ELSE FALSE END AS merged
      FROM iv)
SELECT CAST(CASE WHEN NOT ha AND NOT hb THEN 0
            WHEN ha AND hb AND NOT merged THEN 2
            ELSE 1 END AS INT) AS n_parts,
       COUNT(*) AS cnt
FROM p GROUP BY 1
"""


@_q("polygon_line_clip", _Q29_ORACLE, bench=True)
def q_polygon_line_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General line-vs-non-convex-polygon clipping: each derived segment is
    clipped against the L-shaped AOI (geometry/polyclip._clip_line_general
    — split at ring-edge crossings, keep inside runs) and classified by
    its number of surviving parts (0 = outside, 1 = one run, 2 = crosses
    the concave notch and re-enters).  A segment with BOTH endpoints
    outside that crosses the polygon lands in class 1/2 — exactly the
    case the round-1 vertex-only intersects test missed.  The oracle
    computes the same classes as Liang-Barsky intervals against the two
    rectangles whose union is the L, merging abutting intervals.

    Plan shape: the vectorized batch kernel (one numpy broadcast per
    Arrow batch, geometry/polyclip.segment_clip_part_counts) — tests
    assert it agrees with the generic per-geometry clipper."""
    from oshdb_spark.operators.geometry_ops import segment_clip_parts_udf

    g = _derive(spark, sf_dir, GEO_SEGMENT_EXPRS)
    pu = segment_clip_parts_udf(L_POLY)
    n_parts = pu(
        F.col("ax").cast("double") / 1e7,
        F.col("ay").cast("double") / 1e7,
        F.col("bx").cast("double") / 1e7,
        F.col("by").cast("double") / 1e7,
    )
    return g.withColumn("n_parts", n_parts).groupBy("n_parts").agg(count_agg("cnt"))


# ---------------------------------------------------------------------------
# way -> polygon geometry build + geodesic area (snapshot path)
# ---------------------------------------------------------------------------
#
# 200 square building ways of strictly increasing size at varying
# latitudes; the engine builds their polygons through the full snapshot
# member-resolution + TagInterpreter area-decision path and measures them
# with the spherical-excess formula (Geo.java:172-308).  The oracle
# re-implements the EXACT formula (same wrap-around indexing, same WGS84
# correction) in SQL and compares per-way AREA RANKS — ranks are immune
# to last-ulp libm differences while still pinning the formula: the
# cos^2(midlat) flattening correction reorders ways vs naive size order,
# so a wrong formula shows up as a rank mismatch.

_WPA_N = 200
# per-way derivations (identical arithmetic text on both engines)
_WPA_LON0 = "((w % 20) * 1.5 - 15.0)"
_WPA_LAT0 = "(CAST(w AS DOUBLE) - (w % 20)) / 20 * 2.5 + 10.0"
_WPA_S = "(0.01 + w * 0.0005)"

_WPA_AREA_CTE = f"""
WITH w AS (SELECT UNNEST(GENERATE_SERIES(0, {_WPA_N - 1})) AS w),
geo AS (SELECT w, {_WPA_LON0} AS lon0, {_WPA_LAT0} AS lat0, {_WPA_S} AS s
        FROM w),
ring AS (SELECT w,
    [CAST(ROUND((lon0 - s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lon0 + s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lon0 + s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lon0 - s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lon0 - s) * 1e7) AS BIGINT) / 1e7] AS xs,
    [CAST(ROUND((lat0 - s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lat0 - s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lat0 + s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lat0 + s) * 1e7) AS BIGINT) / 1e7,
     CAST(ROUND((lat0 - s) * 1e7) AS BIGINT) / 1e7] AS ys
  FROM geo),
a AS (SELECT w,
    ABS(LIST_SUM([
        RADIANS(xs[(i + 2) % 5 + 1] - xs[i + 1])
        * ((1.0 - 1.0 / 298.257223563) * TAN(RADIANS(ys[(i + 1) % 5 + 1]))
           / SQRT((1.0 - 1.0 / 298.257223563) * TAN(RADIANS(ys[(i + 1) % 5 + 1]))
                  * (1.0 - 1.0 / 298.257223563) * TAN(RADIANS(ys[(i + 1) % 5 + 1]))
                  + 1.0))
        FOR i IN GENERATE_SERIES(0, 4)]))
    * 0.5 * 6378137.0 * 6378137.0
    * (1.0 - 1.0 / 298.257223563
       * COS(RADIANS((LIST_MAX(ys) + LIST_MIN(ys)) / 2))
       * COS(RADIANS((LIST_MAX(ys) + LIST_MIN(ys)) / 2))) AS area
  FROM ring)
"""

_Q32_ORACLE = f"""{_WPA_AREA_CTE}
SELECT w AS way_id,
       CAST(ROW_NUMBER() OVER (ORDER BY area DESC, w) AS BIGINT) AS area_rank
FROM a
"""


def _wpa_entities(spark: SparkSession) -> DataFrame:
    """200 square building ways (4 corner nodes each) of strictly
    increasing size at varying latitudes — the shared fixture for the
    geodesic-area queries."""
    w = spark.range(_WPA_N).selectExpr("id AS w").selectExpr(
        "w", f"{_WPA_LON0} AS lon0", f"{_WPA_LAT0} AS lat0", f"{_WPA_S} AS s"
    )
    corners = w.selectExpr(
        "w",
        "ARRAY(STRUCT(0 AS k, CAST(ROUND((lon0 - s) * 1e7) AS BIGINT) AS lon,"
        "             CAST(ROUND((lat0 - s) * 1e7) AS BIGINT) AS lat),"
        "      STRUCT(1 AS k, CAST(ROUND((lon0 + s) * 1e7) AS BIGINT) AS lon,"
        "             CAST(ROUND((lat0 - s) * 1e7) AS BIGINT) AS lat),"
        "      STRUCT(2 AS k, CAST(ROUND((lon0 + s) * 1e7) AS BIGINT) AS lon,"
        "             CAST(ROUND((lat0 + s) * 1e7) AS BIGINT) AS lat),"
        "      STRUCT(3 AS k, CAST(ROUND((lon0 - s) * 1e7) AS BIGINT) AS lon,"
        "             CAST(ROUND((lat0 + s) * 1e7) AS BIGINT) AS lat)) AS cs",
    )
    nodes = corners.select("w", F.explode("cs").alias("c")).select(
        F.concat(F.lit("n"), F.col("w")).alias("doc_id"),
        (F.col("w") * 10 + F.col("c.k")).alias("id"),
        F.lit("node").alias("type"),
        F.lit(1).alias("version"),
        F.lit(True).alias("visible"),
        F.lit(100).cast("long").alias("ts"),
        F.lit(1).cast("long").alias("changeset"),
        F.lit(1).alias("uid"),
        F.create_map().cast("map<int,int>").alias("tags"),
        F.col("c.lon").alias("lon"),
        F.col("c.lat").alias("lat"),
        F.lit(None).cast("array<bigint>").alias("refs"),
        F.lit(None)
        .cast("array<struct<type:string,ref:bigint,role:string>>")
        .alias("members"),
    )
    ways = w.select(
        F.concat(F.lit("w"), F.col("w")).alias("doc_id"),
        F.col("w").alias("id"),
        F.lit("way").alias("type"),
        F.lit(1).alias("version"),
        F.lit(True).alias("visible"),
        F.lit(100).cast("long").alias("ts"),
        F.lit(1).cast("long").alias("changeset"),
        F.lit(1).alias("uid"),
        # building (key 2, any value) -> TagInterpreter area decision
        F.create_map(F.lit(2), F.lit(1)).cast("map<int,int>").alias("tags"),
        F.lit(None).cast("long").alias("lon"),
        F.lit(None).cast("long").alias("lat"),
        F.array(
            F.col("w") * 10, F.col("w") * 10 + 1, F.col("w") * 10 + 2,
            F.col("w") * 10 + 3, F.col("w") * 10,
        ).alias("refs"),
        F.lit(None)
        .cast("array<struct<type:string,ref:bigint,role:string>>")
        .alias("members"),
    )
    return nodes.unionByName(ways)


@_q("way_polygon_area", _Q32_ORACLE)
def q_way_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.snapshot import snapshot_view

    snaps = snapshot_view(_wpa_entities(spark), [200])
    return (
        snaps.filter("type = 'way'")
        .withColumn(
            "area_rank",
            F.row_number().over(Window.orderBy(F.col("area").desc(), "id")),
        )
        .select(F.col("id").alias("way_id"), F.col("area_rank").cast("long"))
    )


# token-budget shard packing: shard = floor(exclusive-prefix-sum(tokens)
# / budget) in doc_id order.  The engine computes the prefix sum
# DISTRIBUTED (range partials + driver offsets + within-partition
# window — no single-task global sort); the oracle is the plain global
# window, so the hash gate proves the distributed plan implements
# exactly the global-cumsum semantics.
_SHARD_BUDGET = 1500

_PACK_ORACLE = f"""
WITH t AS (SELECT doc_id,
             LEN(text) - LEN(REPLACE(text, ' ', '')) + 1 AS tok
           FROM documents)
SELECT doc_id,
  CAST(FLOOR((SUM(tok) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - tok)
              / {_SHARD_BUDGET}.0) AS BIGINT) AS shard
FROM t
"""


@_q("token_shard_packing", _PACK_ORACLE)
def q_token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.text import pack_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_shards(docs, _SHARD_BUDGET).select("doc_id", "shard")


# deterministic stratified sampling: md5-prefix threshold (string
# compare — engine-portable, stable under retries/repartitioning, the
# property rand()-based sampling lacks), with a per-source rate map
# (stratified: 'web' at ~16%, everything else at ~8%).
_DS_ORACLE = """
SELECT doc_id, source
FROM documents
WHERE substr(md5('s7|' || CAST(doc_id AS VARCHAR)), 1, 4)
      < (CASE WHEN source = 'web' THEN '28f5' ELSE '147a' END)
"""


@_q("deterministic_sample", _DS_ORACLE)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.text import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with_rate = docs.withColumn(
        "rate_hex",
        F.when(F.col("source") == "web", F.lit("28f5")).otherwise(
            F.lit("147a")
        ),
    )
    out = deterministic_sample(with_rate, salt="s7", rate_col="rate_hex")
    return out.select("doc_id", "source")


# raster->vector zonal aggregation: per-cell event counts (the raster at
# z12) aggregated onto polygon zones with EXACT partial-cell coverage
# weights.  Zone edges sit on quarter-cell offsets (dyadic rationals), so
# every coverage fraction is an exact multiple of 1/16 and the weighted
# sums are IEEE-identical between the engine's clipper+shoelace and the
# oracle's rectangle-overlap arithmetic — a bit-for-bit hash compare of
# a geometric computation.
_RZ_W = "0.087890625"     # 360/4096, exact dyadic z12 cell width
_RZ_Q = "0.02197265625"   # w/4: zone edges at quarter-cell offsets
# zone rects in quarter-cell units (lon: 0..16384, lat: 0..8192); sized
# ~12-15 deg so each zone holds a few dozen raster cells of the sf0.01
# point scatter, with edges at quarter-cell offsets for fractional
# boundary coverage
_RZ_ZONES = {
    "a": (8200, 4100, 8838, 4738),
    "b": (9000, 3000, 9702, 3501),
    "c": (2000, 5500, 2503, 6111),
}


def _rz_deg(qlon: int, qlat: int) -> tuple[float, float]:
    q = float(_RZ_Q)
    return (-180.0 + qlon * q, -90.0 + qlat * q)


_RZ_ZONE_SQL = ", ".join(
    f"('{k}', -180.0 + {x0} * {_RZ_Q}, -90.0 + {y0} * {_RZ_Q},"
    f" -180.0 + {x1} * {_RZ_Q}, -90.0 + {y1} * {_RZ_Q})"
    for k, (x0, y0, x1, y1) in _RZ_ZONES.items()
)

_RZ_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
c AS (SELECT {_cell_sql(12, "lon_fp", "lat_fp")} AS cell_id, COUNT(*) AS cnt
      FROM g GROUP BY 1),
cells AS (SELECT cell_id, cnt,
    -180.0 + (cell_id % 4096) * {_RZ_W} AS cx0,
    -90.0 + (cell_id // 4096) * {_RZ_W} AS cy0
  FROM c WHERE cell_id >= 0),
z(zone_key, zx0, zy0, zx1, zy1) AS (VALUES {_RZ_ZONE_SQL}),
o AS (SELECT zone_key, cnt,
    GREATEST(0.0, LEAST(zx1, cx0 + {_RZ_W}) - GREATEST(zx0, cx0))
      * GREATEST(0.0, LEAST(zy1, cy0 + {_RZ_W}) - GREATEST(zy0, cy0))
      / ({_RZ_W} * {_RZ_W}) AS coverage
  FROM z CROSS JOIN cells),
agg AS (SELECT zone_key, SUM(cnt * coverage) AS wcnt,
          CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM o WHERE coverage > 0 GROUP BY zone_key)
SELECT z.zone_key, agg.wcnt, agg.n_cells
FROM z LEFT JOIN agg USING (zone_key)
"""


@_q("raster_zonal_weighted", _RZ_ORACLE)
def q_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.zonal import raster_zonal_aggregate

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    raster = (
        g.withColumn(
            "cell_id", xy_cell_id_col(12, F.col("lon_fp"), F.col("lat_fp"))
        )
        .filter("cell_id >= 0")
        .groupBy("cell_id")
        .agg(count_agg("cnt"))
    )
    zones = []
    for key, (x0, y0, x1, y1) in _RZ_ZONES.items():
        lon0, lat0 = _rz_deg(x0, y0)
        lon1, lat1 = _rz_deg(x1, y1)
        zones.append((key, {
            "type": "Polygon",
            "coordinates": [[
                [lon0, lat0], [lon1, lat0], [lon1, lat1],
                [lon0, lat1], [lon0, lat0],
            ]],
        }))
    return raster_zonal_aggregate(
        spark, raster, zones, 12,
        [
            F.sum(F.col("cnt") * F.col("coverage")).alias("wcnt"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        ],
    )


# connected-components dedup clustering: candidate pairs -> duplicate
# CLUSTERS (the last step of a dedup pipeline; canonical doc = min id).
# Pairs = exact token-Jaccard links at offsets 25 and 50, which chain
# into components up to ~20 docs — multi-hop transitivity, the case a
# pairwise-only dedup gets wrong.  Engine: alternating large-star /
# small-star (shuffle-bounded, O(log n) rounds — worst-case chains
# included).  Oracle: recursive-CTE min-label propagation in DuckDB.
_CC_ORACLE = """
WITH RECURSIVE
t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks FROM documents),
near AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM t a JOIN t b ON b.doc_id - a.doc_id IN (25, 50)
  WHERE CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
      / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) > 0.3),
edges AS (SELECT u, v FROM near UNION SELECT v AS u, u AS v FROM near),
reach(node, label) AS (
  SELECT u, u FROM edges GROUP BY u
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM comp GROUP BY component
"""


# survivorship on top of the same component structure: every document
# mapped to its canonical representative (component min; itself when
# unlinked) + the keep flag — the deduplicated-corpus step
_SURV_ORACLE = """
WITH RECURSIVE
t AS (SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks FROM documents),
near AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM t a JOIN t b ON b.doc_id - a.doc_id IN (25, 50)
  WHERE CAST(LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE)
      / LEN(LIST_DISTINCT(LIST_CONCAT(a.toks, b.toks))) > 0.3),
edges AS (SELECT u, v FROM near UNION SELECT v AS u, u AS v FROM near),
reach(node, label) AS (
  SELECT u, u FROM edges GROUP BY u
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


@_q("dedup_survivorship", _SURV_ORACLE)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import dedup_survivors, token_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    near = token_jaccard_pairs(docs, offset=25, threshold=0.3).unionByName(
        token_jaccard_pairs(docs, offset=50, threshold=0.3)
    )
    pairs = near.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    out = dedup_survivors(docs.select("doc_id"), pairs)
    return out.select("doc_id", "canonical_id", "is_canonical")


@_q("dedup_connected_components", _CC_ORACLE)
def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.operators.dedup import (
        connected_components,
        token_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # two EQUI-join offset passes (never a range join): same pair set as
    # the oracle's b - a IN (25, 50)
    near = token_jaccard_pairs(docs, offset=25, threshold=0.3).unionByName(
        token_jaccard_pairs(docs, offset=50, threshold=0.3)
    )
    pairs = near.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    cc = connected_components(pairs)
    return cc.groupBy("component").agg(count_agg("n_docs"))


# geometry-metric filter DSL (oshdb-filter GeometryFilterArea,
# GeometryFilter.java:8-34) under the value-hash gate: the fluent chain
# compiles "geometry:polygon and area:(lo..hi)" against the snapshot
# view's built geometries; the oracle recomputes the EXACT geodesic area
# formula in SQL and applies the same range.  The bounds are midpoints
# between adjacent area values (adjacent gaps >= 1%), so last-ulp libm
# differences cannot flip membership.
_MFA_LO = "57484559.528328344"
_MFA_HI = "314585816.0850468"

_MFA_ORACLE = f"""{_WPA_AREA_CTE}
SELECT w AS way_id
FROM a WHERE area >= {_MFA_LO} AND area <= {_MFA_HI}
"""


@_q("metric_filter_area", _MFA_ORACLE)
def q_metric_filter_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oshdb_spark.api import OSHDB, SnapshotView

    db = OSHDB(spark, _wpa_entities(spark))
    out = (
        SnapshotView.on(db)
        .timestamps([200])
        .filter(f"geometry:polygon and area:({_MFA_LO}..{_MFA_HI})")
        .dataframe()
    )
    return out.select(F.col("id").alias("way_id"))


# ---------------------------------------------------------------------------
# grouped collect (MapAggregator.collect, MapAggregator.java:539-548):
# per-group value lists, gated through an order-independent md5 digest of
# the SORTED list so the hash compare is deterministic on both engines
# ---------------------------------------------------------------------------

_GCD_ORACLE = """
SELECT event_type,
       md5(array_to_string(list(user_id ORDER BY user_id, event_id),
                           ',')) AS digest,
       COUNT(*) AS cnt
FROM (SELECT event_type, user_id, event_id FROM events)
GROUP BY event_type
"""


@_q("grouped_collect_digest", _GCD_ORACLE)
def q_grouped_collect_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the grouped-collect reducer surface: collect_list per
    group, canonicalized by sort, digested to a scalar for the value-hash
    gate.  The secondary sort key (event_id) breaks ties between duplicate
    user_ids so both engines canonicalize identically."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pair_sorted = F.sort_array(
        F.collect_list(F.struct("user_id", "event_id"))
    )
    return ev.groupBy("event_type").agg(
        F.md5(
            F.array_join(
                F.transform(pair_sorted, lambda s: s["user_id"].cast("string")),
                ",",
            )
        ).alias("digest"),
        F.count(F.lit(1)).alias("cnt"),
    )


# Bloom-filter anti-join dedup: "which docs were already in the reference
# corpus?" with the reference collapsed to a fixed-size broadcastable bitset.
# Probe key = 30-char content prefix; reference = sources src0..src3, probed
# over ALL docs so the gate exercises both the guaranteed-hit path (reference
# docs probe their own filter: n_hits = k, keep = false -- Bloom filters have
# no false negatives) and the miss path (everything else).  Positions are the
# 16-bit value of the first 4 hex chars of md5('bf{k}|' || key) -- portable
# hex-digit arithmetic, every bit identical across engines.
_BLOOM_HEXPOS = " + ".join(
    f"(instr('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
    for j in range(4)
)

_BLOOM_ORACLE = f"""
WITH ks(k) AS (VALUES (0), (1), (2), (3)),
ref AS (SELECT substr(text, 1, 30) AS key FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')),
rh AS (SELECT md5('bf' || CAST(k AS VARCHAR) || '|' || key) AS h
       FROM ref CROSS JOIN ks),
rp AS (SELECT {_BLOOM_HEXPOS} AS pos FROM rh),
bitset AS (SELECT pos // 63 AS word_idx,
                  bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
           FROM rp GROUP BY 1),
probe AS (SELECT doc_id, substr(text, 1, 30) AS key FROM documents),
ph AS (SELECT doc_id, md5('bf' || CAST(k AS VARCHAR) || '|' || key) AS h
       FROM probe CROSS JOIN ks),
pp AS (SELECT doc_id, {_BLOOM_HEXPOS} AS pos FROM ph),
hits AS (SELECT doc_id,
    SUM(CASE WHEN b.bits IS NOT NULL
              AND (b.bits & (1::BIGINT << CAST(p.pos % 63 AS INT))) != 0
             THEN 1 ELSE 0 END) AS n_hits
  FROM pp p LEFT JOIN bitset b ON p.pos // 63 = b.word_idx
  GROUP BY doc_id)
SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits, n_hits < 4 AS keep
FROM hits
"""


@_q("bloom_reference_antijoin", _BLOOM_ORACLE)
def q_bloom_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: reference corpus -> 1041-row Bloom bitset,
    corpus probed via k broadcast equi-joins (zero shuffle on the probe
    side; see operators/dedup.py bloom_probe).  keep=true is a definite
    not-in-reference."""
    from oshdb_spark.operators.dedup import bloom_reference_antijoin

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    ).select("text")
    out = bloom_reference_antijoin(
        docs.select("doc_id", "text"),
        ref,
        key_expr="substring(text, 1, 30)",
    )
    return out.select("doc_id", "n_hits", "keep")


# Top-k vocabulary: the tokenizer-training precursor.  (tf DESC, token ASC)
# is a total order (token unique per group), so the k-cutoff row set is
# deterministic and hash-comparable across engines.
_VOCAB_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM toks GROUP BY token
ORDER BY tf DESC, token ASC LIMIT 20
"""


@_q("vocab_topk", _VOCAB_ORACLE)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus vocabulary with term + doc frequency; the Spark plan
    must end in TakeOrderedAndProject (heap top-k), not a global sort."""
    from oshdb_spark.operators.text import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, k=20)


# ---------------------------------------------------------------------------
# public surface for __spark_entry__.py
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark_fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: s.spark_fn for n, s in REGISTRY.items() if s.bench}


_PII_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' token ' || md5(CAST(doc_id AS VARCHAR))
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
         AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\b[0-9a-f]{32}\b')) AS BIGINT)
         AS n_secrets,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\b[0-9a-f]{32}\b', '<SECRET>', 'g')) AS redacted_md5
FROM aug
"""


@_q("pii_redact_stats", _PII_ORACLE)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over docs with deterministically injected
    emails / IPv4s / 32-hex secrets (the synthetic corpus has none, so
    both sides inject the same PII as a pure function of doc_id); counts
    + the digest of the masked text are hash-gated."""
    from oshdb_spark.operators.text import pii_scrub

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@ex"),
            (did % 7).cast("string"),
            F.lit(".org"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" token "),
                    F.md5(did.cast("string").cast("binary")),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(aug)


_MIX_ORACLE = """
WITH per AS (
  SELECT source,
         SUM(CASE WHEN text IS NULL THEN 0
                  ELSE len(text) - len(replace(text, ' ', '')) + 1
             END) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per)
SELECT source, n_tokens,
       CAST(ROUND(POW(CAST(n_tokens AS DOUBLE)
                      / CAST(total_tokens AS DOUBLE), 0.3), 9)
            AS DECIMAL(18,9)) AS raw_weight
FROM per CROSS JOIN tot
"""


@_q("source_mixing_weights", _MIX_ORACLE)
def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.3) data-mixing weights per source;
    raw weight is a pure function of two integer token counts, rounded
    to 9 decimals — normalization left to the consumer for exactness."""
    from oshdb_spark.operators.text import source_mixing_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_mixing_weights(docs, alpha=0.3)


_BM25_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN 0
              ELSE len(text) - len(replace(text, ' ', '')) + 1 END AS dl,
         coalesce(text, '') AS text
  FROM documents
),
tok AS (
  SELECT doc_id, dl, unnest(string_split(text, ' ')) AS tok FROM d
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf, MIN(dl) AS dl
  FROM tok WHERE tok IN ('spark', 'window', 'hash')
  GROUP BY doc_id, tok
),
dfv AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM d)
SELECT doc_id,
       COUNT(*) AS n_probe_hits,
       SUM(CAST(ROUND(
            LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
            / (tf + 1.2 * (0.25 + 0.75 * dl
                           / (CAST(total_tokens AS DOUBLE) / n_docs))),
            9) AS DECIMAL(28,9))) AS bm25_score
FROM tf JOIN dfv USING (tok) CROSS JOIN corpus
GROUP BY doc_id
"""


@_q("bm25_probe_scores", _BM25_ORACLE)
def q_bm25_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword relevance against a fixed probe set — per-token
    contributions are pure functions of integer tf/df/dl/N totals,
    rounded to 9 decimals and DECIMAL-summed (partition-order-free)."""
    from oshdb_spark.operators.text import bm25_probe_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_probe_scores(docs, ["spark", "window", "hash"])


_DWITHIN_R = 10_000_000  # 1.0 degree in fixed-point units

_DWITHIN_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)})
SELECT a.event_id AS a_id, b.event_id AS b_id,
       (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
     + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp) AS d2
FROM g a JOIN g b ON a.event_id < b.event_id
  AND b.lon_fp BETWEEN a.lon_fp - {_DWITHIN_R} AND a.lon_fp + {_DWITHIN_R}
  AND b.lat_fp BETWEEN a.lat_fp - {_DWITHIN_R} AND a.lat_fp + {_DWITHIN_R}
WHERE (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
    + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp)
    <= CAST({_DWITHIN_R} AS BIGINT) * {_DWITHIN_R}
"""


@_q("dwithin_pairs", _DWITHIN_ORACLE, bench=True)
def q_dwithin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band self-join: all point pairs within 1 degree planar
    fixed-point distance, via grid-bucket + neighbor-ring equi-join with
    an exact integer predicate (the oracle brute-forces the same
    predicate through DuckDB's inequality join)."""
    from oshdb_spark.operators.knn import dwithin_join

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return dwithin_join(g, _DWITHIN_R, zoom=8)


_SESSION_GAP_US = 50_000_000_000  # ~13.9 hours

_SESSION_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
d AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN LAG(ts_us) OVER w IS NULL
                OR ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT user_id, ts_us,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS BIGINT)
           AS session_id
  FROM d
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_us) AS start_ts, MAX(ts_us) AS end_ts,
       MAX(ts_us) - MIN(ts_us) AS duration_us
FROM s GROUP BY user_id, session_id
"""


@_q("session_stats", _SESSION_ORACLE)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (new session when the per-user event gap
    exceeds ~13.9h) with integer-exact per-session stats."""
    from oshdb_spark.operators.aggregations import session_stats

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return session_stats(g, _SESSION_GAP_US)


_PYRAMID_MAXZ = 6

_PYRAMID_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT CAST({z} AS BIGINT) AS zoom,
       (lon_fp + 1800000000) // {3_600_000_000 >> z} AS cx,
       (lat_fp + 900000000) // {3_600_000_000 >> z} AS cy,
       COUNT(*) AS n
FROM ({{g}}) GROUP BY 2, 3"""
    for z in range(0, _PYRAMID_MAXZ + 1)
).format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("cell_count_pyramid", _PYRAMID_ORACLE)
def q_cell_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom density pyramid (zooms 0..6): one point-sized shuffle
    at the deepest zoom, then rollups of the per-cell count table; the
    oracle recomputes every level independently from the raw points."""
    from oshdb_spark.operators.tiling import cell_count_pyramid

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return cell_count_pyramid(g, max_zoom=_PYRAMID_MAXZ, min_zoom=0)


_TOPK_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
c AS (
  SELECT {_cell_sql(6, "lon_fp", "lat_fp")} AS cell_id, user_id,
         COUNT(*) AS n_events
  FROM g GROUP BY 1, 2
),
r AS (
  SELECT cell_id, user_id, n_events,
         ROW_NUMBER() OVER (PARTITION BY cell_id
                            ORDER BY n_events DESC, user_id) AS rnk
  FROM c
)
SELECT cell_id, user_id, n_events, rnk
FROM r WHERE rnk <= 3
"""


@_q("topk_cell_contributors", _TOPK_ORACLE)
def q_topk_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 contributors per grid cell (the ohsome 'most active mappers
    per tile' query shape): map-side-combinable (cell, user) count, then
    a per-cell window rank with a deterministic user_id tie-break."""
    from pyspark.sql import Window

    from oshdb_spark.operators.tiling import xy_cell_id_col

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    counts = (
        g.withColumn("cell_id", xy_cell_id_col(6, F.col("lon_fp"), F.col("lat_fp")))
        .groupBy("cell_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("cell_id").orderBy(F.desc("n_events"), "user_id")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


_GEO_DWITHIN_R_M = 60_000.0
_TO_RAD_FP = 3.141592653589793 / 180.0 / 1e7
# prefilter bands for the oracle's inequality join (conservative covers)
_GD_DLAT_FP = int(_GEO_DWITHIN_R_M / 110_500 * 1e7) + 1
_GD_DLON_FP = int(_GEO_DWITHIN_R_M / (110_500 * 0.066) * 1e7) + 1

_GEO_DWITHIN_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)})
SELECT a.event_id AS a_id, b.event_id AS b_id,
       CAST(ROUND(2 * 6371000 * ASIN(SQRT(
             SIN((b.lat_fp - a.lat_fp) * {_TO_RAD_FP!r} / 2)
           * SIN((b.lat_fp - a.lat_fp) * {_TO_RAD_FP!r} / 2)
           + COS(a.lat_fp * {_TO_RAD_FP!r}) * COS(b.lat_fp * {_TO_RAD_FP!r})
           * SIN((b.lon_fp - a.lon_fp) * {_TO_RAD_FP!r} / 2)
           * SIN((b.lon_fp - a.lon_fp) * {_TO_RAD_FP!r} / 2)
       )), 6) AS DECIMAL(18,6)) AS dist_m
FROM g a JOIN g b ON a.event_id < b.event_id
  AND b.lat_fp BETWEEN a.lat_fp - {_GD_DLAT_FP} AND a.lat_fp + {_GD_DLAT_FP}
  AND b.lon_fp BETWEEN a.lon_fp - {_GD_DLON_FP} AND a.lon_fp + {_GD_DLON_FP}
WHERE CAST(ROUND(2 * 6371000 * ASIN(SQRT(
             SIN((b.lat_fp - a.lat_fp) * {_TO_RAD_FP!r} / 2)
           * SIN((b.lat_fp - a.lat_fp) * {_TO_RAD_FP!r} / 2)
           + COS(a.lat_fp * {_TO_RAD_FP!r}) * COS(b.lat_fp * {_TO_RAD_FP!r})
           * SIN((b.lon_fp - a.lon_fp) * {_TO_RAD_FP!r} / 2)
           * SIN((b.lon_fp - a.lon_fp) * {_TO_RAD_FP!r} / 2)
       )), 6) AS DECIMAL(18,6)) <= {_GEO_DWITHIN_R_M!r}
"""


@_q("dwithin_geodesic_pairs", _GEO_DWITHIN_ORACLE)
def q_dwithin_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic (haversine) 60 km distance-band self-join with a
    latitude-aware per-row longitude ring; the distance is rounded to
    6 decimal meters on BOTH engines before the threshold compare so
    libm 1-ulp differences cannot flip pair membership."""
    from oshdb_spark.operators.knn import dwithin_join_geodesic

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return dwithin_join_geodesic(g, _GEO_DWITHIN_R_M, zoom=8)


_TRACK_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
s AS (
  SELECT user_id, lon_fp, lat_fp,
         LAG(lon_fp) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS plon,
         LAG(lat_fp) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS plat
  FROM g
)
SELECT user_id,
       COUNT(*) AS n_steps,
       CAST(SUM(CAST(ROUND(2 * 6371000 * ASIN(LEAST(SQRT(
             SIN((lat_fp - plat) * {_TO_RAD_FP!r} / 2)
           * SIN((lat_fp - plat) * {_TO_RAD_FP!r} / 2)
           + COS(plat * {_TO_RAD_FP!r}) * COS(lat_fp * {_TO_RAD_FP!r})
           * SIN((lon_fp - plon) * {_TO_RAD_FP!r} / 2)
           * SIN((lon_fp - plon) * {_TO_RAD_FP!r} / 2)
       ), 1.0)), 3) AS DECIMAL(18,3))) AS DECIMAL(38,3)) AS track_m
FROM s WHERE plon IS NOT NULL
GROUP BY user_id
"""


@_q("track_length_geodesic", _TRACK_ORACLE)
def q_track_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user geodesic trajectory length: lag window over (ts,
    event_id), haversine step rounded to mm and DECIMAL-summed — exact
    under any partition order (the movement analogue of Geo.lengthOf)."""
    from oshdb_spark.operators.aggregations import track_length_geodesic

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return track_length_geodesic(g)


_HAUS_ZOOM = 4
_HAUS_CELL = 3_600_000_000 >> _HAUS_ZOOM
_HAUS_K = 32

_HAUS_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_LOCAL_EXPRS)}),
p0 AS (
  SELECT user_id AS k,
         CAST(lon_fp AS BIGINT) + 1800000000 AS x,
         CAST(lat_fp AS BIGINT) + 900000000 AS y,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS pi
  FROM g
),
p AS (SELECT k, pi, x, y FROM p0 WHERE pi <= {_HAUS_K}),
cent AS (
  SELECT k, COUNT(*) AS n,
         (SUM(x) // COUNT(*)) // {_HAUS_CELL} AS cx,
         (SUM(y) // COUNT(*)) // {_HAUS_CELL} AS cy
  FROM p GROUP BY k
),
pairs AS (
  SELECT a.k AS a_k, b.k AS b_k, a.n AS n_a, b.n AS n_b
  FROM cent a JOIN cent b ON a.cx = b.cx AND a.cy = b.cy AND a.k < b.k
),
cr AS (
  SELECT pr.a_k, pr.b_k, pr.n_a, pr.n_b, pa.pi AS ai, pb.pi AS bi,
         LEAST(ABS(pa.x - pb.x), 3600000000 - ABS(pa.x - pb.x))
           * LEAST(ABS(pa.x - pb.x), 3600000000 - ABS(pa.x - pb.x))
           + (pa.y - pb.y) * (pa.y - pb.y) AS sqd
  FROM pairs pr
  JOIN p pa ON pa.k = pr.a_k
  JOIN p pb ON pb.k = pr.b_k
),
dab AS (
  SELECT a_k, b_k, n_a, n_b, MAX(m) AS h_ab FROM (
    SELECT a_k, b_k, n_a, n_b, ai, MIN(sqd) AS m
    FROM cr GROUP BY a_k, b_k, n_a, n_b, ai
  ) GROUP BY a_k, b_k, n_a, n_b
),
dba AS (
  SELECT a_k, b_k, MAX(m) AS h_ba FROM (
    SELECT a_k, b_k, bi, MIN(sqd) AS m FROM cr GROUP BY a_k, b_k, bi
  ) GROUP BY a_k, b_k
)
SELECT dab.a_k, dab.b_k, dab.n_a, dab.n_b,
       CAST(GREATEST(dab.h_ab, dba.h_ba) AS BIGINT) AS hausdorff_sq
FROM dab JOIN dba ON dab.a_k = dba.a_k AND dab.b_k = dba.b_k
"""


@_q("trajectory_hausdorff", _HAUS_ORACLE)
def q_trajectory_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-similarity self-join: discrete Hausdorff distance
    between per-user tracks (decimated to their first 32 points),
    candidate pairs from zoom-4 centroid-cell buckets, squared planar
    fp distance with dateline wrap — all int64 Column algebra, so the
    result is bit-stable and fully hash-gated."""
    from oshdb_spark.operators.aggregations import trajectory_hausdorff_join

    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS)
    return trajectory_hausdorff_join(
        g,
        bucket_zoom=_HAUS_ZOOM,
        max_points=_HAUS_K,
        ts_col="event_id",
        order_col="event_id",
    ).select(
        "a_k",
        "b_k",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("hausdorff_sq").cast("long").alias("hausdorff_sq"),
    )


_SEGX_ZOOM = 9
_SEGX_CELL = 3_600_000_000 >> _SEGX_ZOOM

_SEGX_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_SEG_EXPRS)}),
seg0 AS (
  SELECT event_id AS id,
         LAG(lon_fp) OVER (PARTITION BY user_id ORDER BY event_id) AS plon,
         LAG(lat_fp) OVER (PARTITION BY user_id ORDER BY event_id) AS plat,
         lon_fp, lat_fp
  FROM g
),
s AS (
  SELECT id,
         CAST(plon AS BIGINT) + 1800000000 AS x1,
         CAST(plat AS BIGINT) + 900000000 AS y1,
         CAST(lon_fp AS BIGINT) + 1800000000 AS x2,
         CAST(lat_fp AS BIGINT) + 900000000 AS y2
  FROM seg0 WHERE plon IS NOT NULL
),
cov AS (
  SELECT id, x1, y1, x2, y2, cx,
         UNNEST(generate_series(LEAST(y1, y2) // {_SEGX_CELL},
                                GREATEST(y1, y2) // {_SEGX_CELL})) AS cy
  FROM (
    SELECT id, x1, y1, x2, y2,
           UNNEST(generate_series(LEAST(x1, x2) // {_SEGX_CELL},
                                  GREATEST(x1, x2) // {_SEGX_CELL})) AS cx
    FROM s
  )
),
cand AS (
  SELECT a.id AS a_id, b.id AS b_id,
         (CAST(a.x2 AS HUGEINT) - a.x1) * (CAST(b.y1 AS HUGEINT) - a.y1)
           - (CAST(a.y2 AS HUGEINT) - a.y1) * (CAST(b.x1 AS HUGEINT) - a.x1) AS o1,
         (CAST(a.x2 AS HUGEINT) - a.x1) * (CAST(b.y2 AS HUGEINT) - a.y1)
           - (CAST(a.y2 AS HUGEINT) - a.y1) * (CAST(b.x2 AS HUGEINT) - a.x1) AS o2,
         (CAST(b.x2 AS HUGEINT) - b.x1) * (CAST(a.y1 AS HUGEINT) - b.y1)
           - (CAST(b.y2 AS HUGEINT) - b.y1) * (CAST(a.x1 AS HUGEINT) - b.x1) AS o3,
         (CAST(b.x2 AS HUGEINT) - b.x1) * (CAST(a.y2 AS HUGEINT) - b.y1)
           - (CAST(b.y2 AS HUGEINT) - b.y1) * (CAST(a.x2 AS HUGEINT) - b.x1) AS o4
  FROM cov a JOIN cov b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
)
SELECT DISTINCT a_id, b_id
FROM cand
WHERE ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
  AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))
"""


_SNAP_ORACLE = f"""
WITH gp AS ({_duck_derive(GEO_LOCAL_EXPRS)}),
gs AS ({_duck_derive(GEO_SEG_EXPRS)}),
seg0 AS (
  SELECT event_id AS id,
         LAG(lon_fp) OVER (PARTITION BY user_id ORDER BY event_id) AS plon,
         LAG(lat_fp) OVER (PARTITION BY user_id ORDER BY event_id) AS plat,
         lon_fp, lat_fp
  FROM gs
),
s AS (
  SELECT id,
         CAST(plon AS BIGINT) + 1800000000 AS x1,
         CAST(plat AS BIGINT) + 900000000 AS y1,
         CAST(lon_fp AS BIGINT) + 1800000000 AS x2,
         CAST(lat_fp AS BIGINT) + 900000000 AS y2
  FROM seg0 WHERE plon IS NOT NULL
),
cov AS (
  SELECT id, x1, y1, x2, y2, cx,
         UNNEST(generate_series(LEAST(y1, y2) // {_SEGX_CELL},
                                GREATEST(y1, y2) // {_SEGX_CELL})) AS cy
  FROM (
    SELECT id, x1, y1, x2, y2,
           UNNEST(generate_series(LEAST(x1, x2) // {_SEGX_CELL},
                                  GREATEST(x1, x2) // {_SEGX_CELL})) AS cx
    FROM s
  )
),
pr AS (
  SELECT event_id AS pid,
         CAST(lon_fp AS BIGINT) + 1800000000 AS px,
         CAST(lat_fp AS BIGINT) + 900000000 AS py
  FROM gp
),
pc AS (
  SELECT pid, px, py, cx, (py // {_SEGX_CELL}) + dy AS cy
  FROM (
    SELECT pid, px, py, (px // {_SEGX_CELL}) + dx AS cx
    FROM (SELECT pid, px, py, UNNEST([-1, 0, 1]) AS dx FROM pr)
  ), (SELECT UNNEST([-1, 0, 1]) AS dy)
),
cand AS (
  SELECT pc.pid, cov.id AS sid,
    (CAST(pc.px AS HUGEINT) - cov.x1) * (CAST(cov.x2 AS HUGEINT) - cov.x1)
      + (CAST(pc.py AS HUGEINT) - cov.y1) * (CAST(cov.y2 AS HUGEINT) - cov.y1) AS dot,
    (CAST(cov.x2 AS HUGEINT) - cov.x1) * (CAST(cov.x2 AS HUGEINT) - cov.x1)
      + (CAST(cov.y2 AS HUGEINT) - cov.y1) * (CAST(cov.y2 AS HUGEINT) - cov.y1) AS len2,
    (CAST(pc.px AS HUGEINT) - cov.x1) * (CAST(pc.px AS HUGEINT) - cov.x1)
      + (CAST(pc.py AS HUGEINT) - cov.y1) * (CAST(pc.py AS HUGEINT) - cov.y1) AS da,
    (CAST(pc.px AS HUGEINT) - cov.x2) * (CAST(pc.px AS HUGEINT) - cov.x2)
      + (CAST(pc.py AS HUGEINT) - cov.y2) * (CAST(pc.py AS HUGEINT) - cov.y2) AS db,
    ((CAST(cov.x2 AS HUGEINT) - cov.x1) * (CAST(pc.py AS HUGEINT) - cov.y1)
      - (CAST(cov.y2 AS HUGEINT) - cov.y1) * (CAST(pc.px AS HUGEINT) - cov.x1))
    * ((CAST(cov.x2 AS HUGEINT) - cov.x1) * (CAST(pc.py AS HUGEINT) - cov.y1)
      - (CAST(cov.y2 AS HUGEINT) - cov.y1) * (CAST(pc.px AS HUGEINT) - cov.x1)) AS crosssq
  FROM pc JOIN cov ON pc.cx = cov.cx AND pc.cy = cov.cy
),
d AS (
  SELECT pid, sid,
         CAST(CASE WHEN len2 = 0 OR dot <= 0 THEN da
                   WHEN dot >= len2 THEN db
                   ELSE crosssq // len2 END AS BIGINT) AS d2
  FROM cand
),
m AS (SELECT pid, MIN(d2) AS d2 FROM d GROUP BY pid)
SELECT d.pid AS point_id, MIN(d.sid) AS seg_id, m.d2
FROM d JOIN m ON d.pid = m.pid AND d.d2 = m.d2
GROUP BY d.pid, m.d2
"""


@_q("nearest_segment_snap", _SNAP_ORACLE)
def q_nearest_segment_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-segment snap (map matching): every locally-clustered
    point snaps to the closest zigzag-track segment found through its
    3x3 neighbor-cell window; exact decimal(38,0)/HUGEINT point-to-
    segment distance with integral-div floor, min-(d2, seg_id) pick —
    bit-stable across engines, hash-gated."""
    from pyspark.sql import Window

    from oshdb_spark.operators.knn import nearest_segment_snap

    pts = _derive(spark, sf_dir, GEO_LOCAL_EXPRS)
    g = _derive(spark, sf_dir, GEO_SEG_EXPRS)
    w = Window.partitionBy("user_id").orderBy("event_id")
    segs = (
        g.select(
            F.col("event_id").alias("seg_id"),
            "user_id",
            F.col("lon_fp").alias("bx"),
            F.col("lat_fp").alias("by"),
            F.lag("lon_fp").over(w).alias("ax"),
            F.lag("lat_fp").over(w).alias("ay"),
        )
        .where(F.col("ax").isNotNull())
        .drop("user_id")
    )
    return nearest_segment_snap(pts, segs, zoom=_SEGX_ZOOM, ring=1)


@_q("segment_intersection", _SEGX_ORACLE)
def q_segment_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proper segment-segment intersection self-join (trajectory
    self-crossing detection): per-user consecutive steps become
    segments, each covers its bbox's zoom-9 cells, cell equi-join +
    decimal(38,0) CCW orientation predicate — integer-exact in both
    engines, hash-gated end to end."""
    from pyspark.sql import Window

    from oshdb_spark.operators.knn import segment_intersection_join

    g = _derive(spark, sf_dir, GEO_SEG_EXPRS)
    w = Window.partitionBy("user_id").orderBy("event_id")
    segs = (
        g.select(
            F.col("event_id").alias("seg_id"),
            "user_id",
            F.col("lon_fp").alias("bx"),
            F.col("lat_fp").alias("by"),
            F.lag("lon_fp").over(w).alias("ax"),
            F.lag("lat_fp").over(w).alias("ay"),
        )
        .where(F.col("ax").isNotNull())
        .drop("user_id")
    )
    return segment_intersection_join(segs, zoom=_SEGX_ZOOM)


_GI_ZOOM = 6
_GI_CELL = 3_600_000_000 >> _GI_ZOOM

_GI_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
c AS (
  SELECT (lon_fp + 1800000000) // {_GI_CELL} AS cx,
         (lat_fp + 900000000) // {_GI_CELL} AS cy,
         COUNT(*) AS x
  FROM g GROUP BY 1, 2
),
m AS (
  SELECT CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(x * x) AS DOUBLE) AS sx2,
         CAST(COUNT(*) AS DOUBLE) AS nn
  FROM c
),
r AS (
  SELECT a.cx, a.cy, a.x,
         CAST(SUM(b.x) AS BIGINT) AS s_i, COUNT(*) AS n_i
  FROM c a JOIN c b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
  GROUP BY 1, 2, 3
)
SELECT cx, cy, x, s_i, n_i,
       CAST(ROUND((s_i - (sx / nn) * n_i)
            / (SQRT(sx2 / nn - (sx / nn) * (sx / nn))
               * SQRT((nn * n_i - n_i * n_i) / (nn - 1.0))), 9)
            AS DECIMAL(28,9)) AS gi_z
FROM r CROSS JOIN m
"""


@_q("gi_star_hotspots", _GI_ORACLE)
def q_gi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-score per occupied zoom-6 cell (3x3
    queen weights incl. self): points shuffle once into cell counts,
    the 9-key neighbor roll-up and the 1-row moments broadcast operate
    on the cell table only; z derives from integer moments through
    IEEE-exact ops so 9dp-rounding hash-compares exactly."""
    from oshdb_spark.operators.tiling import gi_star_hotspots

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return gi_star_hotspots(g, _GI_ZOOM)


_OD_ZOOM = 6
_OD_CELL = 3_600_000_000 >> _OD_ZOOM

_OD_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
s AS (
  SELECT (lon_fp + 1800000000) // {_OD_CELL} AS tcx,
         (lat_fp + 900000000) // {_OD_CELL} AS tcy,
         LAG((lon_fp + 1800000000) // {_OD_CELL})
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS fcx,
         LAG((lat_fp + 900000000) // {_OD_CELL})
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS fcy
  FROM g
)
SELECT fcx, fcy, tcx, tcy, COUNT(*) AS n_steps
FROM s WHERE fcx IS NOT NULL
GROUP BY 1, 2, 3, 4
"""


@_q("od_flow_matrix", _OD_ORACLE)
def q_od_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flows between zoom-6 cells over consecutive
    per-user steps — integer-exact movement analytics (window + one
    map-side-combinable count)."""
    from oshdb_spark.operators.aggregations import od_flow_matrix

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return od_flow_matrix(g, _OD_ZOOM)


# ---------------------------------------------------------------------------
# 23. spatial statistics: IDW surface generation + global Moran's I
# ---------------------------------------------------------------------------

_IDW_ZOOM = 7
_IDW_CELL = 3_600_000_000 >> _IDW_ZOOM
_IDW_HALF = _IDW_CELL // 2

_IDW_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
p AS (
  SELECT lon_fp, lat_fp, val,
         (lon_fp + 1800000000) // {_IDW_CELL} AS cx,
         (lat_fp + 900000000) // {_IDW_CELL} AS cy
  FROM g
),
occ AS (SELECT DISTINCT cx, cy FROM p),
t AS (
  SELECT p.cx + dx.d AS jx, p.cy + dy.d AS jy,
         lon_fp - ((p.cx + dx.d) * {_IDW_CELL} + {_IDW_HALF - 1_800_000_000}) AS ddx,
         lat_fp - ((p.cy + dy.d) * {_IDW_CELL} + {_IDW_HALF - 900_000_000}) AS ddy,
         val
  FROM p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
),
w AS (
  SELECT jx, jy, CAST(ddx * ddx + ddy * ddy AS DOUBLE) AS d2, val
  FROM t WHERE ddx * ddx + ddy * ddy > 0
)
SELECT jx AS cx, jy AS cy, COUNT(*) AS n_pts,
       CAST(SUM(CAST(ROUND(1e12 / d2, 9) AS DECIMAL(28,9)))
            AS DECIMAL(38,9)) AS w_sum,
       CAST(SUM(CAST(ROUND(1e12 / d2 * val, 9) AS DECIMAL(28,9)))
            AS DECIMAL(38,9)) AS wv_sum
FROM w JOIN occ ON occ.cx = w.jx AND occ.cy = w.jy
GROUP BY 1, 2
"""


@_q("idw_interpolation", _IDW_ORACLE)
def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shepard power-2 IDW of the point attribute onto occupied zoom-7
    cell centers with a 3x3 cell-bucketed neighborhood: one map-side-
    combinable shuffle of per-point weight partials; the weight math is
    exact-integer d2 (< 2^53) through correctly-rounded IEEE ops, 9dp-
    rounded and DECIMAL-summed for the hash gate (vector->raster
    surface generation; raster_zonal_weighted is the reverse half)."""
    from oshdb_spark.operators.zonal import idw_grid_interpolation

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return idw_grid_interpolation(g, _IDW_ZOOM)


_KDE_ZOOM = 7
_KDE_CELL = 3_600_000_000 >> _KDE_ZOOM
_KDE_HALF = _KDE_CELL // 2
_KDE_H = 3 * _KDE_CELL // 2  # ring stays 1: ceil((2h - c) / 2c) == 1
_KDE_H2 = _KDE_H * _KDE_H

_KDE_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
p AS (
  SELECT CAST(lon_fp AS BIGINT) AS lon_fp, CAST(lat_fp AS BIGINT) AS lat_fp,
         (lon_fp + 1800000000) // {_KDE_CELL} AS cx,
         (lat_fp + 900000000) // {_KDE_CELL} AS cy
  FROM g
),
t AS (
  SELECT p.cx + dx.d AS jx, p.cy + dy.d AS jy,
         (dx.d = 0 AND dy.d = 0) AS is_self,
         lon_fp - ((p.cx + dx.d) * {_KDE_CELL} + {_KDE_HALF - 1_800_000_000}) AS ddx,
         lat_fp - ((p.cy + dy.d) * {_KDE_CELL} + {_KDE_HALF - 900_000_000}) AS ddy
  FROM p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
)
SELECT jx AS cx, jy AS cy,
       CAST(SUM(CASE WHEN is_self THEN 1 ELSE 0 END) AS BIGINT) AS n_pts,
       CAST(SUM(CAST(GREATEST({_KDE_H2} - (ddx * ddx + ddy * ddy), 0)
                     AS HUGEINT)) AS DECIMAL(38,0)) AS kde_h2
FROM t
GROUP BY 1, 2
HAVING MAX(is_self)
"""


@_q("kde_density", _KDE_ORACLE)
def q_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epanechnikov kernel density surface onto occupied zoom-7 cell
    centers (bandwidth 1.5 cells, ring-1 window): the INTEGER-EXACT
    heat-map sibling of idw_interpolation — per-point term
    max(h^2 - d^2, 0) is pure int64, DECIMAL(38,0)-summed, so the
    surface hash-gates with zero float risk."""
    from oshdb_spark.operators.zonal import kde_density_surface

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return kde_density_surface(g, _KDE_ZOOM, _KDE_H)


_MORAN_ZOOM = 6
_MORAN_CELL = 3_600_000_000 >> _MORAN_ZOOM

_MORAN_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
c AS (
  SELECT (lon_fp + 1800000000) // {_MORAN_CELL} AS cx,
         (lat_fp + 900000000) // {_MORAN_CELL} AS cy,
         COUNT(*) AS x
  FROM g GROUP BY 1, 2
),
m AS (
  SELECT CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(x * x) AS DOUBLE) AS sx2,
         CAST(COUNT(*) AS DOUBLE) AS nn_d,
         COUNT(*) AS nn
  FROM c
),
r AS (
  SELECT a.cx, a.cy, a.x,
         CAST(SUM(b.x) AS BIGINT) AS s_i, COUNT(*) AS n_i
  FROM c a JOIN c b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
                   AND NOT (b.cx = a.cx AND b.cy = a.cy)
  GROUP BY 1, 2, 3
)
SELECT nn,
       CAST(SUM(n_i) AS BIGINT) AS w_conn,
       CAST(SUM(CAST(ROUND((x - sx / nn_d) * (s_i - n_i * (sx / nn_d)), 9)
                     AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS cross_sum,
       CAST(ROUND(sx2 - sx * sx / nn_d, 9) AS DECIMAL(28,9)) AS ssq
FROM r CROSS JOIN m
GROUP BY nn, sx, sx2, nn_d
"""


@_q("moran_i_components", _MORAN_ORACLE)
def q_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I components (queen weights excluding self) over
    zoom-6 cell counts — the global autocorrelation companion to
    gi_star_hotspots, same one-shuffle cell-table plan; single row of
    exact longs + 9dp-rounded DECIMAL cross/ssq terms."""
    from oshdb_spark.operators.tiling import moran_i_global

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return moran_i_global(g, _MORAN_ZOOM)


_RIPLEY_RADII = [2_500_000, 5_000_000, 7_500_000, 10_000_000]
_RIPLEY_RMAX = _RIPLEY_RADII[-1]

_RIPLEY_ORACLE = f"""
WITH g AS ({{g}}),
p AS (
  SELECT (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
       + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp) AS d2
  FROM g a JOIN g b ON a.event_id < b.event_id
    AND b.lon_fp BETWEEN a.lon_fp - {_RIPLEY_RMAX} AND a.lon_fp + {_RIPLEY_RMAX}
    AND b.lat_fp BETWEEN a.lat_fp - {_RIPLEY_RMAX} AND a.lat_fp + {_RIPLEY_RMAX}
  WHERE (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
      + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp)
      <= CAST({_RIPLEY_RMAX} AS BIGINT) * {_RIPLEY_RMAX}
)
SELECT CAST(r.r_fp AS BIGINT) AS r_fp,
       CAST(COUNT(p.d2) AS BIGINT) AS n_pairs
FROM (VALUES {", ".join(f"({r})" for r in _RIPLEY_RADII)}) r(r_fp)
LEFT JOIN p ON p.d2 <= CAST(r.r_fp AS BIGINT) * r.r_fp
GROUP BY 1
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("ripley_k_counts", _RIPLEY_ORACLE)
def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K pair counts at a 4-radius ladder (0.25..1.0 deg):
    one cell-bucketed candidate join at the max radius, then k
    conditional sums in a single 1-row aggregate — the radius ladder
    costs zero extra shuffled rows; exact int64 counts."""
    from oshdb_spark.operators.knn import ripley_k_counts

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return ripley_k_counts(g, _RIPLEY_RADII, zoom=8)


_KNOX_R = 10_000_000  # 1.0 degree
# 21.6 days in micros: the synthetic derive correlates position with
# event_id, so within-1-degree pairs are >= ~21.5 days apart — this tau
# keeps ~1/6 of the close-space pairs (selective in BOTH dimensions)
_KNOX_TAU = 1_866_240_000_000

_KNOX_ORACLE = f"""
WITH g AS ({{g}})
SELECT a.event_id AS a_id, b.event_id AS b_id,
       (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
     + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp) AS d2,
       ABS(a.ts_us - b.ts_us) AS dt_us
FROM g a JOIN g b ON a.event_id < b.event_id
  AND b.lon_fp BETWEEN a.lon_fp - {_KNOX_R} AND a.lon_fp + {_KNOX_R}
  AND b.lat_fp BETWEEN a.lat_fp - {_KNOX_R} AND a.lat_fp + {_KNOX_R}
WHERE (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
    + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp)
    <= CAST({_KNOX_R} AS BIGINT) * {_KNOX_R}
  AND ABS(a.ts_us - b.ts_us) <= {_KNOX_TAU}
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("knox_spacetime_pairs", _KNOX_ORACLE)
def q_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction pairs (close in space AND time):
    the spatial cell-bucket join carries the time band as a residual
    predicate — no second shuffle; exact int64 d2/dt."""
    from oshdb_spark.operators.knn import knox_spacetime_pairs

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return knox_spacetime_pairs(g, _KNOX_R, _KNOX_TAU, zoom=8)


_LISA_ORACLE = f"""
WITH g AS ({{g}}),
c AS (
  SELECT (lon_fp + 1800000000) // {_MORAN_CELL} AS cx,
         (lat_fp + 900000000) // {_MORAN_CELL} AS cy,
         COUNT(*) AS x
  FROM g GROUP BY 1, 2
),
m AS (
  SELECT CAST(SUM(x) AS DOUBLE) AS sx, CAST(COUNT(*) AS DOUBLE) AS nn_d
  FROM c
),
r AS (
  SELECT a.cx, a.cy, a.x,
         CAST(SUM(b.x) AS BIGINT) AS s_i, COUNT(*) AS n_i
  FROM c a JOIN c b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
                   AND NOT (b.cx = a.cx AND b.cy = a.cy)
  GROUP BY 1, 2, 3
)
SELECT cx, cy, x, s_i, n_i,
       CAST(ROUND((x - sx / nn_d) * (s_i - n_i * (sx / nn_d)), 9)
            AS DECIMAL(28,9)) AS lisa_num
FROM r CROSS JOIN m
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("local_moran_lisa", _LISA_ORACLE)
def q_lisa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I (LISA) per zoom-6 cell: the per-cell
    decomposition of moran_i_components' cross_sum (queen weights
    excluding self), exact neighborhood sums + 9dp-rounded DECIMAL
    numerator for HH/LL/HL/LH cluster classification."""
    from oshdb_spark.operators.tiling import local_moran_lisa

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return local_moran_lisa(g, _MORAN_ZOOM)


_XK_ORACLE = f"""
WITH g AS ({{g}}),
ca AS (SELECT * FROM g WHERE val < 50),
cb AS (SELECT * FROM g WHERE val >= 50),
p AS (
  SELECT (ca.lon_fp - cb.lon_fp) * (ca.lon_fp - cb.lon_fp)
       + (ca.lat_fp - cb.lat_fp) * (ca.lat_fp - cb.lat_fp) AS d2
  FROM ca JOIN cb
    ON cb.lon_fp BETWEEN ca.lon_fp - {_RIPLEY_RMAX} AND ca.lon_fp + {_RIPLEY_RMAX}
   AND cb.lat_fp BETWEEN ca.lat_fp - {_RIPLEY_RMAX} AND ca.lat_fp + {_RIPLEY_RMAX}
  WHERE (ca.lon_fp - cb.lon_fp) * (ca.lon_fp - cb.lon_fp)
      + (ca.lat_fp - cb.lat_fp) * (ca.lat_fp - cb.lat_fp)
      <= CAST({_RIPLEY_RMAX} AS BIGINT) * {_RIPLEY_RMAX}
)
SELECT CAST(r.r_fp AS BIGINT) AS r_fp,
       CAST(COUNT(p.d2) AS BIGINT) AS n_pairs
FROM (VALUES {", ".join(f"({r})" for r in _RIPLEY_RADII)}) r(r_fp)
LEFT JOIN p ON p.d2 <= CAST(r.r_fp AS BIGINT) * r.r_fp
GROUP BY 1
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("cross_k_counts", _XK_ORACLE)
def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate cross-K colocation counts between the val<50 and
    val>=50 point classes at the same 4-radius ladder: one cross-class
    cell-bucket join at max(r) + k conditional sums; exact int64."""
    from oshdb_spark.operators.knn import cross_k_counts

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS).withColumn(
        "is_a", F.col("val") < 50
    )
    return cross_k_counts(g, "is_a", _RIPLEY_RADII, zoom=8)


_ROG_ORACLE = """
WITH g AS ({g}),
a AS (
  SELECT user_id, COUNT(*) AS n_pts,
         SUM(CAST(lon_fp AS HUGEINT)) AS sx, SUM(CAST(lat_fp AS HUGEINT)) AS sy,
         SUM(CAST(lon_fp AS HUGEINT) * lon_fp) AS sxx,
         SUM(CAST(lat_fp AS HUGEINT) * lat_fp) AS syy
  FROM g GROUP BY 1
)
SELECT user_id, CAST(n_pts AS BIGINT) AS n_pts,
       CAST(CAST(n_pts AS HUGEINT) * (sxx + syy) - sx * sx - sy * sy
            AS DECIMAL(38,0)) AS rog_num
FROM a
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("radius_of_gyration", _ROG_ORACLE)
def q_rog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user radius of gyration (Gonzalez et al. 2008) as the exact
    integer numerator n*(Sxx+Syy) - Sx^2 - Sy^2 in DECIMAL(38,0): one
    map-side-combinable groupBy over five moments; r_g = sqrt(num)/n."""
    from oshdb_spark.operators.aggregations import radius_of_gyration

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return radius_of_gyration(g, key_col="user_id")


_SIMPSON_ZOOM = 8
_SIMPSON_CELL = 3_600_000_000 >> _SIMPSON_ZOOM

_SIMPSON_ORACLE = f"""
WITH g AS ({{g}}),
cu AS (
  SELECT (lon_fp + 1800000000) // {_SIMPSON_CELL} AS cx,
         (lat_fp + 900000000) // {_SIMPSON_CELL} AS cy,
         user_id, COUNT(*) AS c
  FROM g GROUP BY 1, 2, 3
)
SELECT cx, cy, CAST(SUM(c) AS BIGINT) AS n_visits,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(c * c) AS BIGINT) AS sum_sq
FROM cu GROUP BY 1, 2
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("cell_user_simpson", _SIMPSON_ORACLE)
def q_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell visitor-concentration (Simpson/Herfindahl) moments at
    zoom 8: exact int64 (n_visits, n_users, sum of squared per-visitor
    counts) — entropy's libm-free sibling; two map-side-combinable
    groupBys, the second over the already-reduced (cell, user) table."""
    from oshdb_spark.operators.tiling import cell_user_simpson

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return cell_user_simpson(g, _SIMPSON_ZOOM)


_COVER_CASES = [
    # (bid, minlon, minlat, maxlon, maxlat) in 1e-7 fixed-point; exercises
    # the normal path, out-of-bounds garbage, anti-meridian split, the
    # +180 border snap, the empty minlat>maxlat box, and all-bounds OOB.
    (1, -100_000_000, 300_000_000, 400_000_000, 700_000_000),
    (2, -100_000_000, 300_000_000, 400_000_000, 950_000_000),
    (3, 1_700_000_000, -100_000_000, -1_700_000_000, 100_000_000),
    (4, 1_750_000_000, 0, 1_800_000_000, 50_000_000),
    (5, 0, 100, 100, 50),
    (6, -1_900_000_000, -950_000_000, 1_900_000_000, 950_000_000),
]

_COVER_VALUES = ",\n         ".join(
    f"({b}, {a}, {c}, {d}, {e})" for b, a, c, d, e in _COVER_CASES
)

_COVER_ORACLE = f"""
WITH boxes0(bid, minlon0, minlat0, maxlon0, maxlat0) AS (
  VALUES {_COVER_VALUES}
),
boxes AS (
  SELECT CAST(bid AS BIGINT) AS bid,
         CAST(minlon0 AS BIGINT) AS minlon0, CAST(minlat0 AS BIGINT) AS minlat0,
         CAST(maxlon0 AS BIGINT) AS maxlon0, CAST(maxlat0 AS BIGINT) AS maxlat0
  FROM boxes0
),
valid AS (SELECT * FROM boxes WHERE minlat0 <= maxlat0),
norm AS (
  SELECT bid,
    (minlon0 < -1800000000 OR minlon0 > 1800000000
     OR minlat0 < -900000000 OR minlat0 > 900000000
     OR maxlon0 > 1800000000 OR maxlon0 < -1800000000
     OR maxlat0 > 900000000 OR maxlat0 < -900000000) AS garbage,
    CASE WHEN minlon0 < -1800000000 OR minlon0 > 1800000000 THEN -1800000000 ELSE minlon0 END AS minlon1,
    CASE WHEN minlat0 < -900000000 OR minlat0 > 900000000 THEN -900000000 ELSE minlat0 END AS minlat1,
    CASE WHEN maxlon0 > 1800000000 OR maxlon0 < -1800000000 THEN 1800000000 ELSE maxlon0 END AS maxlon1,
    CASE WHEN maxlat0 > 900000000 OR maxlat0 < -900000000 THEN 900000000 ELSE maxlat0 END AS maxlat1
  FROM valid
),
adj AS (
  SELECT bid, garbage,
    CASE WHEN minlon1 = 1800000000 THEN 1799999999 ELSE minlon1 END AS minlon,
    CASE WHEN maxlon1 = 1800000000 THEN 1799999999 ELSE maxlon1 END AS maxlon,
    CASE WHEN minlat1 = 900000000 THEN 899999999 ELSE minlat1 END AS minlat,
    CASE WHEN maxlat1 = 900000000 THEN 899999999 ELSE maxlat1 END AS maxlat
  FROM norm
),
seg AS (
  SELECT bid, minlon AS slon, CAST(1799999999 AS BIGINT) AS elon, minlat, maxlat
  FROM adj WHERE minlon > maxlon
  UNION ALL
  SELECT bid, CASE WHEN minlon > maxlon THEN -1800000000 ELSE minlon END AS slon,
         maxlon AS elon, minlat, maxlat FROM adj
),
zs AS (SELECT CAST(z AS BIGINT) AS zoom, 3600000000.0 / POWER(2.0, z) AS w,
              CAST(POWER(2.0, z) AS BIGINT) AS zp
       FROM generate_series(0, 14) t(z)),
cols AS (
  SELECT bid, zoom, zp,
    CAST(FLOOR((slon + 1800000000) / w) AS BIGINT) AS colmin0,
    CAST(FLOOR((elon + 1800000000) / w) AS BIGINT) AS colmax,
    CAST(FLOOR((minlat + 900000000) / w) AS BIGINT) AS rowmin0,
    CAST(FLOOR((maxlat + 900000000) / w) AS BIGINT) AS rowmax
  FROM seg CROSS JOIN zs
),
enl AS (
  SELECT bid, zoom, zp,
    CASE WHEN colmin0 > 0 THEN colmin0 - 1 ELSE colmin0 END AS colmin, colmax,
    CASE WHEN rowmin0 > 0 THEN rowmin0 - 1 ELSE rowmin0 END AS rowmin, rowmax
  FROM cols
),
ranges AS (
  SELECT bid, zoom, rr * zp + colmin AS range_start, rr * zp + colmax AS range_end
  FROM enl, LATERAL unnest(generate_series(rowmin, rowmax)) AS t(rr)
  UNION
  SELECT bid, zoom, CAST(-1 AS BIGINT) AS range_start, CAST(-1 AS BIGINT) AS range_end
  FROM norm CROSS JOIN zs WHERE garbage
)
SELECT DISTINCT bid, zoom, range_start, range_end FROM ranges
"""


@_q("cell_cover_ranges", _COVER_ORACLE)
def q_cover_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk XYGridTree.bbox2CellIdRanges (XYGridTree.java:246-274): the
    reference's query-planning range decomposition — normalization,
    garbage range, anti-meridian split, border snap, enlarge rule — as a
    distributed Column-only plan over a bbox case table, independently
    re-derived in SQL by the oracle; tests/test_bbox_cover.py holds the
    third witness (the Python XYGridTree port, itself gated by the
    reference's XYGridTest/XYGridTreeTest vectors)."""
    from oshdb_spark.operators.tiling import bbox_cover_ranges

    df = local_frame(
        spark,
        _COVER_CASES,
        "bid long, minlon long, minlat long, maxlon long, maxlat long",
    )
    return bbox_cover_ranges(df, maxzoom=14, enlarge=True)


# ---------------------------------------------------------------------------
# 24. roundness metric filter (GeometryFilterRoundness, Geo.java:327-346)
# gated through the fluent chain: band filter + per-way rank.  Rank compare
# (the way_polygon_area idiom) is immune to last-ulp libm drift while still
# pinning both formulas (spherical-excess area AND reduced-latitude length):
# the cut constant sits mid-gap between rank 100/101 (gap 4.8e-4, ~1e11 ulp).
# ---------------------------------------------------------------------------

_RND_LO = 0.7847915103610389

_SPHERE_FACT_SQL = "POWER(1.0 - 1.0 / 298.257223563, 1.5)"
_RLAT = lambda i: f"ATAN({_SPHERE_FACT_SQL} * TAN(RADIANS(ys[{i}])))"  # noqa: E731

_WPA_LEN_TERM = f"""
    LIST_SUM([
        SQRT(POWER((RADIANS(xs[i + 1]) - RADIANS(xs[i]))
                   * COS(({_RLAT('i + 1')} + {_RLAT('i')}) / 2), 2)
             + POWER({_RLAT('i + 1')} - {_RLAT('i')}, 2))
        FOR i IN GENERATE_SERIES(1, 4)]) * 6371000.0 AS blen
"""

_RND_ORACLE = f"""{_WPA_AREA_CTE.replace(") AS area", ") AS area,").replace(
    "  FROM ring)", _WPA_LEN_TERM + "  FROM ring)")}
SELECT w AS way_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY 4 * PI() * area / (blen * blen) DESC, w) AS BIGINT)
         AS roundness_rank
FROM a
WHERE 4 * PI() * area / (blen * blen) >= {_RND_LO!r}
"""


@_q("metric_filter_roundness", _RND_ORACLE)
def q_metric_roundness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polsby-Popper roundness (Geo.java:327-346) through the fluent
    metric-filter path: the DSL band filter triggers the lazy Arrow
    metrics attachment (GeometryFilterRoundness analog), the oracle
    re-derives 4*pi*area/perimeter^2 from the reference's spherical-
    excess area and reduced-latitude length formulas in SQL, and the
    gate compares the surviving set + per-way roundness ranks."""
    from oshdb_spark.api import OSHDB, SnapshotView

    db = OSHDB(spark, _wpa_entities(spark))
    out = (
        SnapshotView.on(db)
        .timestamps([200])
        .filter(f"geometry:polygon and geometry.roundness:({_RND_LO!r}..1)")
        .dataframe()
    )
    return out.select(
        F.col("id").alias("way_id"),
        F.row_number()
        .over(Window.orderBy(F.col("g_roundness").desc(), "id"))
        .cast("long")
        .alias("roundness_rank"),
    )


# ---------------------------------------------------------------------------
# 25. compass-bearing histogram (Geo.bearingOf, Geo.java:342-352) — the
# street-orientation analysis layer; integer-exact per-(cell, bin) counts
# ---------------------------------------------------------------------------

_BRG_ZOOM = 6
_BRG_CELL = 3_600_000_000 >> _BRG_ZOOM
_BRG_BINS = 16
_BRG_2PI = 2 * 3.141592653589793
_BRG_W = _BRG_2PI / _BRG_BINS

_BRG_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_SEGMENT_EXPRS)}),
b AS (
  SELECT ((ax + bx + 3600000000) // 2) // {_BRG_CELL} AS cx,
         ((ay + by + 1800000000) // 2) // {_BRG_CELL} AS cy,
         (ATAN2(SIN(bx * {_TO_RAD_FP!r} - ax * {_TO_RAD_FP!r})
                * COS(by * {_TO_RAD_FP!r}),
                COS(ay * {_TO_RAD_FP!r}) * SIN(by * {_TO_RAD_FP!r})
                - SIN(ay * {_TO_RAD_FP!r}) * COS(by * {_TO_RAD_FP!r})
                  * COS(bx * {_TO_RAD_FP!r} - ax * {_TO_RAD_FP!r}))
          + {_BRG_2PI!r}) % {_BRG_2PI!r} AS bearing
  FROM g
)
SELECT cx, cy,
       CAST(FLOOR(bearing / {_BRG_W!r}) AS BIGINT) AS bin,
       COUNT(*) AS n_segments
FROM b GROUP BY 1, 2, 3
"""


@_q("bearing_histogram", _BRG_ORACLE)
def q_bearing_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell 16-bin compass histogram of segment bearings
    (Geo.bearingOf forward azimuth, Geo.java:342-352): the bearing dag
    is identical correctly-rounded libm text on both engines, the
    midpoint cell and counts are integer-exact, and the only shuffle is
    the map-side-combinable (cell, bin) count."""
    from oshdb_spark.operators.aggregations import bearing_histogram

    g = _derive(spark, sf_dir, GEO_SEGMENT_EXPRS)
    return bearing_histogram(g, _BRG_ZOOM, _BRG_BINS)


# ---------------------------------------------------------------------------
# 26. per-cell skew/salting plan + trajectory resampling
# ---------------------------------------------------------------------------

_SKEW_ZOOM = 6
_SKEW_CELL = 3_600_000_000 >> _SKEW_ZOOM
_SKEW_TARGET = 40
_SKEW_MAX = 16
_SKEW_HOT = 4

_SKEW_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
c AS (
  SELECT (lon_fp + 1800000000) // {_SKEW_CELL} AS cx,
         (lat_fp + 900000000) // {_SKEW_CELL} AS cy,
         COUNT(*) AS n_rows
  FROM g GROUP BY 1, 2
),
m AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total, COUNT(*) AS nkeys FROM c)
SELECT cx, cy, n_rows,
       (n_rows * nkeys > {_SKEW_HOT} * total) AS is_hot,
       LEAST(CAST({_SKEW_MAX} AS BIGINT),
             (n_rows + {_SKEW_TARGET - 1}) // {_SKEW_TARGET}) AS salt_factor
FROM c CROSS JOIN m
"""


@_q("cell_skew_profile", _SKEW_ORACLE)
def q_cell_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell salting plan (the distributed generalization of
    plans/skew.pick_salts): row count, integer cross-multiplied
    heavy-hitter flag, and the per-key salt factor for the salted
    cell join — the inspectable form of the north rule's explicit
    dense-urban-cell skew handling; one count shuffle + 1-row
    broadcast, all integer-exact."""
    from oshdb_spark.plans.skew import skew_profile

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    cells = g.select(
        F.expr(f"(lon_fp + 1800000000) DIV {_SKEW_CELL}").alias("cx"),
        F.expr(f"(lat_fp + 900000000) DIV {_SKEW_CELL}").alias("cy"),
    )
    return skew_profile(
        cells,
        ["cx", "cy"],
        target_rows_per_task=_SKEW_TARGET,
        max_salts=_SKEW_MAX,
        hot_multiplier=_SKEW_HOT,
    )


_RSMP_N = 4

_RSMP_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
s AS (
  SELECT user_id, lon_fp, lat_fp,
         LAG(lon_fp) OVER w AS plon,
         LAG(lat_fp) OVER w AS plat,
         CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS seg
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT user_id, seg, CAST(k AS BIGINT) AS k,
       plon + (lon_fp - plon) * (k / {float(_RSMP_N)!r}) AS rlon,
       plat + (lat_fp - plat) * (k / {float(_RSMP_N)!r}) AS rlat
FROM s, LATERAL unnest(generate_series(1, {_RSMP_N - 1})) t(k)
WHERE plon IS NOT NULL
"""


@_q("track_resample", _RSMP_ORACLE)
def q_track_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory densification: the 3 equally-spaced intermediate
    points of every consecutive per-user step, by exact dyadic linear
    interpolation (integer deltas < 2^53 times k/4 — bit-identical
    doubles on every engine); one lag window + bounded explode."""
    from oshdb_spark.operators.aggregations import resample_track

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return resample_track(g, _RSMP_N)


# ---------------------------------------------------------------------------
# 27. per-cell Mann-Kendall trend (emerging hot spots, integer-exact)
# ---------------------------------------------------------------------------

_MK_ZOOM = 6
_MK_CELL = 3_600_000_000 >> _MK_ZOOM
_MK_T0 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00Z (events' range start)
_MK_PERIOD = 4 * 86_400 * 1_000_000  # 4-day bins
_MK_N = 8
_MK_FULL = _MK_N * (_MK_N - 1) * (2 * _MK_N + 5)

_MK_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_POINT_EXPRS)}),
c AS (
  SELECT cx, cy, p, COUNT(*) AS x FROM (
    SELECT (lon_fp + 1800000000) // {_MK_CELL} AS cx,
           (lat_fp + 900000000) // {_MK_CELL} AS cy,
           (ts_us - {_MK_T0}) // {_MK_PERIOD} AS p
    FROM g)
  WHERE p >= 0 AND p < {_MK_N}
  GROUP BY 1, 2, 3
),
cells AS (SELECT DISTINCT cx, cy FROM c),
z AS (
  SELECT cells.cx, cells.cy, pp.p, COALESCE(c.x, 0) AS x
  FROM cells
  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_MK_N - 1})) AS p) pp
  LEFT JOIN c ON c.cx = cells.cx AND c.cy = cells.cy AND c.p = pp.p
),
s AS (
  SELECT a.cx, a.cy,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM z a JOIN z b ON b.cx = a.cx AND b.cy = a.cy AND b.p > a.p
  GROUP BY 1, 2
),
t AS (
  SELECT cx, cy,
         CAST({_MK_FULL} - SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS var18
  FROM (SELECT cx, cy, x, COUNT(*) AS t FROM z GROUP BY 1, 2, 3)
  GROUP BY 1, 2
)
SELECT s.cx, s.cy, s_stat, var18
FROM s JOIN t ON t.cx = s.cx AND t.cy = s.cy
"""


@_q("mann_kendall_trend", _MK_ORACLE)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Mann-Kendall S + tie-corrected 18*Var(S) over 8 four-day
    count bins (the space-time "emerging hot spot" statistic): points
    shuffle once into (cell, period) counts; the zerofilled series
    pivot, the O(n^2) sign-pair walk, and the tie correction are pure
    Column array algebra inside one row per cell — every output an
    exact integer, no doubles in the gate."""
    from oshdb_spark.operators.tiling import mann_kendall_cells

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return mann_kendall_cells(g, _MK_ZOOM, _MK_T0, _MK_PERIOD, _MK_N)


# ---------------------------------------------------------------------------
# 31. clustering: grid-bucketed DBSCAN + deterministic Lloyd k-means
# ---------------------------------------------------------------------------

_DBSCAN_EPS = 25_000  # 2.5e-3 deg fixed-point
_DBSCAN_MINPTS = 4

_DBSCAN_ORACLE = f"""
WITH RECURSIVE
g AS ({{g}}),
p AS (SELECT event_id AS id, lon_fp AS x, lat_fp AS y,
             (lon_fp + 1800000000) // {_DBSCAN_EPS} AS cx,
             (lat_fp + 900000000) // {_DBSCAN_EPS} AS cy FROM g),
pr AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM p a JOIN p b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.id != b.id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_DBSCAN_EPS}::BIGINT * {_DBSCAN_EPS}
),
n AS (SELECT id_a AS id, COUNT(*) AS n_nbrs FROM pr GROUP BY 1),
core AS (SELECT id FROM n WHERE n_nbrs + 1 >= {_DBSCAN_MINPTS}),
ce AS (
  SELECT pr.id_a AS u, pr.id_b AS v
  FROM pr
  JOIN core ca ON ca.id = pr.id_a
  JOIN core cb ON cb.id = pr.id_b
),
reach(node, label) AS (
  SELECT u, u FROM ce GROUP BY u
  UNION
  SELECT e.v, r.label FROM reach r JOIN ce e ON e.u = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
corelbl AS (
  SELECT core.id, COALESCE(comp.component, core.id) AS cluster_id
  FROM core LEFT JOIN comp ON comp.node = core.id
),
borderlbl AS (
  SELECT pr.id_a AS id, MIN(cl.cluster_id) AS cluster_id
  FROM pr JOIN corelbl cl ON cl.id = pr.id_b
  WHERE pr.id_a NOT IN (SELECT id FROM core)
  GROUP BY 1
)
SELECT p.id AS event_id,
       CASE WHEN c.id IS NOT NULL THEN 'core'
            WHEN b.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(c.cluster_id, b.cluster_id) AS cluster_id
FROM p
LEFT JOIN corelbl c ON c.id = p.id
LEFT JOIN borderlbl b ON b.id = p.id
""".format(g=_duck_derive(GEO_LOCAL_EXPRS))


@_q("dbscan_clusters", _DBSCAN_ORACLE)
def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (Ester et al., KDD'96) over the locally-clustered point
    set: eps-grid equi-join for neighbor pairs (no all-pairs), one
    map-side-combinable neighbor count, alternating-star connected
    components over core-core edges, deterministic min-id border
    assignment.  Every output value is an exact integer/string under
    the hash gate."""
    from oshdb_spark.operators.clustering import dbscan

    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS)
    out = dbscan(
        g.select("event_id", "lon_fp", "lat_fp"),
        eps=_DBSCAN_EPS,
        min_pts=_DBSCAN_MINPTS,
        id_col="event_id",
        x_col="lon_fp",
        y_col="lat_fp",
    )
    return out.select(F.col("id").alias("event_id"), "role", "cluster_id")


_KMEANS_K = 10
_KMEANS_ITERS = 3


def _kmeans_cte_parts(k: int, iters: int) -> list[str]:
    """Shared unrolled-Lloyd CTE chain mirroring
    operators/clustering.kmeans_lloyd: exact BIGINT distances over
    1e-6-quantized components, centroid update floor(sum/count + 0.5),
    argmin ties to the smaller cluster id.  Ends with `dfin`, the
    distance table against the final centroids."""
    parts = [
        "x AS (SELECT vec_id AS id, list_transform(embedding,"
        " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xi"
        " FROM embeddings)",
        "xd AS (SELECT id, generate_subscripts(xi, 1) - 1 AS dim,"
        " UNNEST(xi) AS val FROM x)",
        f"init AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster"
        f" FROM (SELECT id FROM x ORDER BY id LIMIT {k}))",
        "c0 AS (SELECT init.cluster, xd.dim, xd.val AS cv"
        " FROM init JOIN xd USING (id))",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i} AS (SELECT xd.id, c.cluster,"
            f" CAST(SUM((xd.val - c.cv) * (xd.val - c.cv)) AS BIGINT) AS d2"
            f" FROM xd JOIN c{i - 1} c ON c.dim = xd.dim GROUP BY 1, 2)"
        )
        parts.append(
            f"a{i} AS (SELECT id, cluster FROM (SELECT id, cluster,"
            f" ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn"
            f" FROM d{i}) WHERE rn = 1)"
        )
        parts.append(
            f"c{i} AS (SELECT a.cluster, xd.dim,"
            f" CAST(FLOOR(CAST(SUM(xd.val) AS DOUBLE) / COUNT(*) + 0.5)"
            f" AS BIGINT) AS cv"
            f" FROM a{i} a JOIN xd USING (id) GROUP BY 1, 2)"
        )
    parts.append(
        f"dfin AS (SELECT xd.id, c.cluster,"
        f" CAST(SUM((xd.val - c.cv) * (xd.val - c.cv)) AS BIGINT) AS d2"
        f" FROM xd JOIN c{iters} c ON c.dim = xd.dim GROUP BY 1, 2)"
    )
    parts.append(
        "afin AS (SELECT id, cluster, d2 FROM (SELECT id, cluster, d2,"
        " ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn"
        " FROM dfin) WHERE rn = 1)"
    )
    return parts


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    return (
        "WITH "
        + ",\n".join(_kmeans_cte_parts(k, iters))
        + """
SELECT id AS vec_id, CAST(cluster AS INT) AS cluster, d2 AS dist_sq
FROM afin
"""
    )


def _semdedup_oracle_sql(k: int, iters: int, num: int, den: int) -> str:
    """SemDeDup pruning on top of the final k-means assignment: a vector
    is pruned when a smaller-id vector in its cluster clears the exact
    integer cosine test den*dot^2 >= num*|a|^2*|b|^2 (dot > 0)."""
    parts = _kmeans_cte_parts(k, iters)
    parts.append("nrm AS (SELECT id, SUM(val * val) AS n2 FROM xd GROUP BY 1)")
    parts.append(
        "pruned AS (SELECT DISTINCT bb.id FROM afin aa JOIN afin bb"
        " ON bb.cluster = aa.cluster AND aa.id < bb.id"
        " JOIN (SELECT a.id AS ia, b.id AS ib, SUM(a.val * b.val) AS dot"
        "       FROM xd a JOIN xd b ON a.dim = b.dim AND a.id < b.id"
        "       GROUP BY 1, 2) p ON p.ia = aa.id AND p.ib = bb.id"
        " JOIN nrm na ON na.id = aa.id JOIN nrm nb ON nb.id = bb.id"
        f" WHERE p.dot > 0 AND {den}::HUGEINT * p.dot * p.dot"
        f" >= {num}::HUGEINT * na.n2 * nb.n2)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT a.id AS vec_id, CAST(a.cluster AS INT) AS cluster,
       p.id IS NULL AS is_kept
FROM afin a LEFT JOIN pruned p ON p.id = a.id
"""
    )


@_q("kmeans_embedding_clusters", _kmeans_oracle_sql(_KMEANS_K, _KMEANS_ITERS))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embeddings table — the
    SemDeDup-style semantic-clustering front end (cluster embeddings,
    then compare only within clusters).  Assignment is map-only against
    driver-collected literal centroids; the update is one map-side-
    combinable groupBy (cluster, dim).  1e-6 quantization makes every
    distance exact BIGINT and the centroid update a single IEEE divide,
    so assignments hash-match DuckDB bit-for-bit."""
    from oshdb_spark.operators.clustering import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_lloyd(emb, k=_KMEANS_K, n_iter=_KMEANS_ITERS)


_SEMDEDUP_NUM, _SEMDEDUP_DEN = 1225, 10_000  # tau^2 = 0.35^2 exactly


@_q(
    "semdedup_prune",
    _semdedup_oracle_sql(_KMEANS_K, _KMEANS_ITERS, _SEMDEDUP_NUM, _SEMDEDUP_DEN),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas 2023) end to end: k-means clusters, then prune
    vectors whose cluster holds a smaller-id vector with cosine > tau.
    The pairwise stage is confined within clusters (one equi-join on the
    cluster id — cost sum(|cluster|^2), never n^2) and the threshold
    test is exact integer arithmetic (DECIMAL(38,0) / HUGEINT), so the
    keep flags hash-match bit-for-bit.  tau = 0.35 is calibrated to the
    synthetic embeddings (max pairwise cosine 0.51); production corpora
    use 0.9+ with the identical plan."""
    from oshdb_spark.operators.clustering import semdedup_within_cluster

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup_within_cluster(
        emb,
        k=_KMEANS_K,
        n_iter=_KMEANS_ITERS,
        tau_sq_num=_SEMDEDUP_NUM,
        tau_sq_den=_SEMDEDUP_DEN,
    )


# ---------------------------------------------------------------------------
# 32. trajectory stop detection (gaps-and-islands stay points)
# ---------------------------------------------------------------------------

_STOP_EPS = 600_000  # 6e-2 deg fixed-point step threshold
_STOP_MINPTS = 4

_STOP_ORACLE = f"""
WITH g AS ({{g}}),
s AS (
  SELECT user_id, ts_us, event_id, lon_fp AS x, lat_fp AS y,
         LAG(lon_fp) OVER w AS px, LAG(lat_fp) OVER w AS py
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
b AS (
  SELECT *, CASE WHEN px IS NULL
                 OR (x - px) * (x - px) + (y - py) * (y - py)
                    > {_STOP_EPS}::BIGINT * {_STOP_EPS}
            THEN 1 ELSE 0 END AS brk
  FROM s
),
seg AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sg
  FROM b
),
agg AS (
  SELECT user_id, sg, COUNT(*) AS n_points,
         MIN(ts_us) AS start_ts, MAX(ts_us) AS end_ts,
         SUM(x) AS sum_x, SUM(y) AS sum_y
  FROM seg GROUP BY 1, 2
  HAVING COUNT(*) >= {_STOP_MINPTS}
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start_ts, sg)
            - 1 AS INT) AS stop_seq,
       n_points, start_ts, end_ts,
       end_ts - start_ts AS duration_us,
       CAST(sum_x AS BIGINT) AS sum_x, CAST(sum_y AS BIGINT) AS sum_y
FROM agg
""".format(g=_duck_derive(GEO_LOCAL_EXPRS + ["{TS_US} AS ts_us"]))


@_q("stop_detection", _STOP_ORACLE)
def q_stop_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory stop/stay-point detection (step-distance variant of
    Li 2008): lag window -> exact integer step distance -> running-sum
    segment id -> per-segment dwell filter.  ONE shuffle; all outputs
    exact integers (centroid as sum_x/sum_y + n — no engine divides)."""
    from oshdb_spark.operators.aggregations import stop_detection

    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS + ["{TS_US} AS ts_us"])
    return stop_detection(g, eps=_STOP_EPS, min_points=_STOP_MINPTS)


# ---------------------------------------------------------------------------
# 33. areal interpolation (dasymetric zone-to-zone value transfer)
# ---------------------------------------------------------------------------

_AI_ZOOM = 5
_AI_CELL = 3_600_000_000 >> _AI_ZOOM

_AI_ORACLE = f"""
WITH g AS ({{g}}),
srcz AS (
  SELECT user_id AS src_id,
         MIN(lon_fp) AS sminx, MIN(lat_fp) AS sminy,
         MAX(lon_fp) AS smaxx, MAX(lat_fp) AS smaxy,
         COUNT(*) AS v
  FROM g GROUP BY 1
),
tgtz AS (
  SELECT DISTINCT (lon_fp + 1800000000) // {_AI_CELL} AS ccx,
                  (lat_fp + 900000000) // {_AI_CELL} AS ccy
  FROM g
),
tgt AS (
  SELECT ccy * 1000 + ccx AS tgt_id,
         ccx * {_AI_CELL} - 1800000000 AS tminx,
         ccy * {_AI_CELL} - 900000000 AS tminy,
         (ccx + 1) * {_AI_CELL} - 1800000001 AS tmaxx,
         (ccy + 1) * {_AI_CELL} - 900000001 AS tmaxy
  FROM tgtz
),
pairs AS (
  SELECT tgt_id,
         LEAST(smaxx, tmaxx) + 1 - GREATEST(sminx, tminx) AS iw,
         LEAST(smaxy, tmaxy) + 1 - GREATEST(sminy, tminy) AS ih,
         (smaxx + 1 - sminx) * (smaxy + 1 - sminy) AS sa,
         v
  FROM srcz JOIN tgt
    ON smaxx >= tminx AND sminx <= tmaxx
   AND smaxy >= tminy AND sminy <= tmaxy
)
SELECT tgt_id, COUNT(*) AS n_src,
       CAST(SUM(iw * ih) AS BIGINT) AS inter_area,
       CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * CAST(iw * ih AS DOUBLE)
                           / CAST(sa AS DOUBLE), 9) AS DECIMAL(28,9)))
            AS DECIMAL(38,9)) AS transfer
FROM pairs WHERE iw > 0 AND ih > 0
GROUP BY 1
""".format(g=_duck_derive(GEO_LOCAL_EXPRS))


@_q("areal_interpolation", _AI_ORACLE)
def q_areal_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dasymetric areal interpolation: per-user activity boxes (value =
    event count) redistributed onto occupied zoom-5 grid cells by exact
    half-open-integer intersection area.  Candidate pairs via the
    cover-cell equi-join (explode factor bounded by box/cell ratio — no
    all-pairs); duplicate pair discoveries collapse via the canonical
    SW-corner-cell filter, not a distinct; the transfer term is
    9dp-rounded + DECIMAL-summed (partition-order-free)."""
    from oshdb_spark.operators.zonal import areal_interpolation

    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS)
    srcz = g.groupBy(F.col("user_id").alias("src_id")).agg(
        F.min("lon_fp").alias("minx"),
        F.min("lat_fp").alias("miny"),
        F.max("lon_fp").alias("maxx"),
        F.max("lat_fp").alias("maxy"),
        F.count(F.lit(1)).alias("value"),
    )
    cells = g.selectExpr(
        f"CAST((lon_fp + 1800000000) DIV {_AI_CELL} AS BIGINT) AS ccx",
        f"CAST((lat_fp + 900000000) DIV {_AI_CELL} AS BIGINT) AS ccy",
    ).distinct()
    tgt = cells.select(
        (F.col("ccy") * 1000 + F.col("ccx")).alias("tgt_id"),
        (F.col("ccx") * _AI_CELL - 1_800_000_000).alias("minx"),
        (F.col("ccy") * _AI_CELL - 900_000_000).alias("miny"),
        ((F.col("ccx") + 1) * _AI_CELL - 1_800_000_001).alias("maxx"),
        ((F.col("ccy") + 1) * _AI_CELL - 900_000_001).alias("maxy"),
    )
    return areal_interpolation(srcz, tgt, zoom=_AI_ZOOM)


# ---------------------------------------------------------------------------
# join-count statistics / interval-overlap join / relation member closure
# ---------------------------------------------------------------------------

_JC_ZOOM = 8
_JC_CELL = 3_600_000_000 >> _JC_ZOOM
_JC_THR = 2

_JC_ORACLE = f"""
WITH g AS ({{g}}),
c AS (
  SELECT (lon_fp + 1800000000) // {_JC_CELL} AS cx,
         (lat_fp + 900000000) // {_JC_CELL} AS cy,
         COUNT(*) >= {_JC_THR} AS black
  FROM g GROUP BY 1, 2
),
p AS (
  SELECT CASE WHEN a.black AND b.black THEN 'BB'
              WHEN NOT a.black AND NOT b.black THEN 'WW'
              ELSE 'BW' END AS pc
  FROM c a JOIN c b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND (a.cx < b.cx OR (a.cx = b.cx AND a.cy < b.cy))
)
SELECT z.pair_class, CAST(COUNT(p.pc) AS BIGINT) AS n_pairs
FROM (VALUES ('BB'), ('BW'), ('WW')) z(pair_class)
LEFT JOIN p ON p.pc = z.pair_class
GROUP BY 1
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("join_count_stats", _JC_ORACLE)
def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-count statistics (Cliff & Ord): queen-adjacent occupied-cell
    pairs at zoom 8 classified BB/BW/WW by an occupancy threshold —
    exact int64, zerofilled; one point shuffle + one cell-table
    neighbor join, exactly-once pairs via the lexicographic guard."""
    from oshdb_spark.operators.tiling import join_count_stats

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return join_count_stats(g, _JC_ZOOM, _JC_THR)


_IV_LEN = "(1 + event_id % 97) * 60000000"
_IV_BUCKET = 98 * 60_000_000

_IV_ORACLE = f"""
WITH g AS ({{g}}),
iv AS (SELECT event_id, user_id, ts_us AS s, ts_us + {_IV_LEN} AS e FROM g)
SELECT a.event_id AS a_id, b.event_id AS b_id,
       CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS BIGINT) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
""".format(g=_duck_derive(["event_id", "user_id", "{TS_US} AS ts_us"]))


@_q("interval_overlap_pairs", _IV_ORACLE)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user validity-interval overlap join (the explicit form of the
    snapshot view's [ts, next_ts) interval semantics): 1-D epoch-bucket
    equi-join + exact residual predicate, exactly-once per pair via the
    overlap-start-bucket rule — no distinct, no window."""
    from oshdb_spark.operators.aggregations import interval_overlap_join

    g = _derive(spark, sf_dir, ["event_id", "user_id", "{TS_US} AS ts_us"])
    iv = g.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + F.expr(_IV_LEN)).alias("end_us"),
    )
    return interval_overlap_join(iv, _IV_BUCKET, key_col="user_id")


# nested-relation member closure: ways from the event-id space (wid ->
# nodes 3w..3w+2), three relation tiers (r1 -> ways+node, r2 -> r1s+node,
# r3 -> r2s+way) with ids offset by 1e6/2e6/3e6; boundary refs to
# never-generated children drop on both sides (inner joins / empty
# recursion).  The oracle re-derives the closure with a recursive CTE.
_CLOSURE_ORACLE = """
WITH RECURSIVE
ev AS (SELECT event_id FROM events),
w AS (SELECT DISTINCT CAST(FLOOR(event_id / 3) AS BIGINT) AS wid FROM ev),
wref AS (SELECT wid, wid * 3 + p.pos AS nref
         FROM w, (SELECT UNNEST([0, 1, 2]) AS pos) p),
k1 AS (SELECT DISTINCT CAST(FLOOR(event_id / 6) AS BIGINT) AS k FROM ev),
k2 AS (SELECT DISTINCT CAST(FLOOR(event_id / 30) AS BIGINT) AS k FROM ev),
k3 AS (SELECT DISTINCT CAST(FLOOR(event_id / 150) AS BIGINT) AS k FROM ev),
rm AS (
  SELECT 1000000 + k AS pid, 'way' AS mtype, 2 * k AS ref FROM k1
  UNION ALL SELECT 1000000 + k, 'way', 2 * k + 1 FROM k1
  UNION ALL SELECT 1000000 + k, 'node', (k * 7919) % 1000 FROM k1
  UNION ALL SELECT 2000000 + k, 'relation', 1000000 + 5 * k FROM k2
  UNION ALL SELECT 2000000 + k, 'relation', 1000000 + 5 * k + 1 FROM k2
  UNION ALL SELECT 2000000 + k, 'node', k FROM k2
  UNION ALL SELECT 3000000 + k, 'relation', 2000000 + 3 * k FROM k3
  UNION ALL SELECT 3000000 + k, 'relation', 2000000 + 3 * k + 1 FROM k3
  UNION ALL SELECT 3000000 + k, 'way', k FROM k3
),
reach(top_id, mtype, ref) AS (
  SELECT pid, mtype, ref FROM rm
  UNION
  SELECT r.top_id, m.mtype, m.ref
  FROM reach r JOIN rm m ON r.mtype = 'relation' AND m.pid = r.ref
),
nodes AS (
  -- explicit DISTINCT: DuckDB 1.0 does not dedupe a plain UNION in a
  -- non-recursive sibling CTE of a WITH RECURSIVE clause
  SELECT DISTINCT top_id, nref FROM (
    SELECT top_id, ref AS nref FROM reach WHERE mtype = 'node'
    UNION ALL
    SELECT reach.top_id, wref.nref
    FROM reach JOIN wref ON reach.mtype = 'way' AND wref.wid = reach.ref
  )
)
SELECT top_id AS rel_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(nref) AS BIGINT) AS sum_ref
FROM nodes GROUP BY 1
"""


@_q("relation_member_closure", _CLOSURE_ORACLE)
def q_relation_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive relation-member closure (the membership core of the
    reference's recursive member resolution,
    OSHDBGeometryBuilderInternal.java:305-358) over a 3-tier nested
    fixture: distinct reachable node refs per relation, aggregated to
    (n_nodes, sum_ref).  Kahn-layered level-at-a-time joins — O(depth)
    shuffles, not O(depth) recursion per row."""
    from oshdb_spark.operators.snapshot import relation_node_closure

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    m = F.lit(None).cast(
        "array<struct<type:string,ref:bigint,role:string>>"
    )
    mem = lambda *parts: F.array(  # noqa: E731
        *[
            F.struct(
                F.lit(t).alias("type"),
                r.cast("long").alias("ref"),
                F.lit("").alias("role"),
            )
            for t, r in parts
        ]
    )
    ways = (
        ev.select(F.floor(F.col("event_id") / 3).cast("long").alias("wid"))
        .distinct()
        .select(
            F.lit("way").alias("type"),
            F.col("wid").alias("id"),
            F.array(
                F.col("wid") * 3, F.col("wid") * 3 + 1, F.col("wid") * 3 + 2
            ).alias("refs"),
            m.alias("members"),
        )
    )

    def _tier(div: int, offset: int, parts_of_k):
        k = (
            ev.select(
                F.floor(F.col("event_id") / div).cast("long").alias("k")
            )
            .distinct()
        )
        return k.select(
            F.lit("relation").alias("type"),
            (F.col("k") + offset).alias("id"),
            F.lit(None).cast("array<bigint>").alias("refs"),
            mem(*parts_of_k(F.col("k"))).alias("members"),
        )

    r1 = _tier(6, 1_000_000, lambda k: [
        ("way", k * 2), ("way", k * 2 + 1), ("node", (k * 7919) % 1000)
    ])
    r2 = _tier(30, 2_000_000, lambda k: [
        ("relation", k * 5 + 1_000_000),
        ("relation", k * 5 + 1_000_001),
        ("node", k),
    ])
    r3 = _tier(150, 3_000_000, lambda k: [
        ("relation", k * 3 + 2_000_000),
        ("relation", k * 3 + 2_000_001),
        ("way", k),
    ])
    entities = ways.select(
        "type", "id", "refs", "members"
    ).unionByName(r1).unionByName(r2).unionByName(r3)
    closure = relation_node_closure(entities)
    return closure.groupBy(F.col("rel_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("node_ref").cast("long").alias("sum_ref"),
    )


_DW_ZOOM = 8
_DW_CELL = 3_600_000_000 >> _DW_ZOOM

_DW_ORACLE = f"""
WITH g AS ({{g}}),
s AS (
  SELECT (lon_fp + 1800000000) // {_DW_CELL} AS cx,
         (lat_fp + 900000000) // {_DW_CELL} AS cy,
         LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           - ts_us AS dt
  FROM g
)
SELECT cx, cy, CAST(SUM(dt) AS BIGINT) AS dwell_us,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM s WHERE dt IS NOT NULL GROUP BY 1, 2
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("cell_dwell_time", _DW_ORACLE)
def q_cell_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted cell presence at zoom 8: each inter-observation
    interval attributed to its earlier point's cell (step-function dwell
    model, the trajectory analogue of snapshot [ts, next_ts) validity);
    one lead-window shuffle + one map-side-combinable groupBy."""
    from oshdb_spark.operators.aggregations import cell_dwell_time

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return cell_dwell_time(g, _DW_ZOOM)


def _dp_oracle_sql(eps_fp: int) -> str:
    """Douglas-Peucker as a DuckDB recursive CTE: the worklist of
    (track, i, j) segments IS the recursion; each recursive step joins
    the active segments against the ordinal-indexed points three ways
    (endpoint A, endpoint B, interior candidates), picks the argmax of
    the exact integer metric (cross^2, or squared distance to A when
    A == B) with the same strict-> / lowest-ordinal tie-break as the
    engine, and emits the two child segments.  Kept points = distinct
    segment endpoints at the fixpoint.  HUGEINT (int128) carries the
    cross^2 products (~1.3e19 > int64 for antimeridian-wide tracks) —
    the oracle twin of the engine's arbitrary-width Python ints."""
    eps2 = int(eps_fp) * int(eps_fp)
    # the per-candidate metric and its threshold test, shared between the
    # WHERE (hit filter) and ORDER BY (argmax) of the recursive term
    seg2 = (
        "(CAST(b2.x - a.x AS HUGEINT) * (b2.x - a.x)"
        " + CAST(b2.y - a.y AS HUGEINT) * (b2.y - a.y))"
    )
    cross = (
        "(CAST(b2.x - a.x AS HUGEINT) * (q.y - a.y)"
        " - CAST(b2.y - a.y AS HUGEINT) * (q.x - a.x))"
    )
    dist2a = (
        "(CAST(q.x - a.x AS HUGEINT) * (q.x - a.x)"
        " + CAST(q.y - a.y AS HUGEINT) * (q.y - a.y))"
    )
    metric = f"CASE WHEN {seg2} = 0 THEN {dist2a} ELSE {cross} * {cross} END"
    hit = (
        f"CASE WHEN {seg2} = 0 THEN {dist2a} > {eps2}"
        f" ELSE {cross} * {cross} > CAST({eps2} AS HUGEINT) * {seg2} END"
    )
    return f"""
WITH RECURSIVE
g AS ({_duck_derive(GEO_LOCAL_EXPRS)}),
p AS (
  SELECT user_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY CAST(event_id AS BIGINT) * 1000, event_id
         ) - 1 AS o,
         CAST(lon_fp AS BIGINT) AS x,
         CAST(lat_fp AS BIGINT) AS y
  FROM g
),
segs(user_id, i, j) AS (
  SELECT user_id, 0, MAX(o) FROM p GROUP BY user_id
  UNION ALL
  SELECT s2.user_id, u.lo, u.hi
  FROM (
    SELECT b.user_id, b.i, b.j, b.best_k
    FROM (
      SELECT s.user_id, s.i, s.j, q.o AS best_k,
             ROW_NUMBER() OVER (
               PARTITION BY s.user_id, s.i, s.j
               ORDER BY {metric} DESC, q.o ASC
             ) AS rn
      FROM segs s
      JOIN p a  ON a.user_id  = s.user_id AND a.o  = s.i
      JOIN p b2 ON b2.user_id = s.user_id AND b2.o = s.j
      JOIN p q  ON q.user_id  = s.user_id AND q.o > s.i AND q.o < s.j
      WHERE s.j - s.i >= 2 AND {hit}
    ) b
    WHERE b.rn = 1
  ) s2, LATERAL (VALUES (s2.i, s2.best_k), (s2.best_k, s2.j)) u(lo, hi)
),
keep AS (
  SELECT DISTINCT user_id, o FROM (
    SELECT user_id, i AS o FROM segs
    UNION ALL
    SELECT user_id, j AS o FROM segs
  ) e
)
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       CAST(p.o AS BIGINT) AS ordinal,
       CAST(p.x AS BIGINT) AS lon_fp,
       CAST(p.y AS BIGINT) AS lat_fp
FROM p JOIN keep ON keep.user_id = p.user_id AND keep.o = p.o
"""


@_q("track_simplify_dp", _dp_oracle_sql(50_000))
def q_track_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker per-user track simplification with the exact
    integer split predicate cross^2 > eps^2*|AB|^2.  The recursion is
    SQL-expressible after all: the oracle drives the segment worklist
    through a DuckDB recursive CTE (see _dp_oracle_sql) with the same
    exact-integer metric and tie-break, so the full hash gate applies;
    determinism + parity are additionally pytest-gated against an
    independent reference implementation
    (tests/test_joincount_interval_closure.py)."""
    from oshdb_spark.operators.aggregations import simplify_track_dp

    g = _derive(spark, sf_dir, GEO_LOCAL_EXPRS).withColumn(
        "ts_us", (F.col("event_id") * 1000).cast("long")
    )
    return simplify_track_dp(g, eps_fp=50_000)


# ---------------------------------------------------------------------------
# space-time K surface / raster focal statistics
# ---------------------------------------------------------------------------

_STK_RADII = [15_000_000, 35_000_000, 50_000_000]
_STK_TAUS = [t * 86_400_000_000 for t in (1, 11, 22)]  # 1/11/22 days in us

_STK_ORACLE = f"""
WITH g AS ({{g}}),
p AS (
  SELECT (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
       + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp) AS d2,
       ABS(a.ts_us - b.ts_us) AS dt
  FROM g a JOIN g b ON a.event_id < b.event_id
    AND b.lon_fp BETWEEN a.lon_fp - {_STK_RADII[-1]} AND a.lon_fp + {_STK_RADII[-1]}
    AND b.lat_fp BETWEEN a.lat_fp - {_STK_RADII[-1]} AND a.lat_fp + {_STK_RADII[-1]}
  WHERE (a.lon_fp - b.lon_fp) * (a.lon_fp - b.lon_fp)
      + (a.lat_fp - b.lat_fp) * (a.lat_fp - b.lat_fp)
      <= CAST({_STK_RADII[-1]} AS BIGINT) * {_STK_RADII[-1]}
    AND ABS(a.ts_us - b.ts_us) <= {_STK_TAUS[-1]}
)
SELECT CAST(l.r_fp AS BIGINT) AS r_fp, CAST(l.tau_us AS BIGINT) AS tau_us,
       CAST(COUNT(p.d2) AS BIGINT) AS n_pairs
FROM (VALUES {", ".join(f"({r}, {t})" for r in _STK_RADII for t in _STK_TAUS)})
     l(r_fp, tau_us)
LEFT JOIN p ON p.d2 <= CAST(l.r_fp AS BIGINT) * l.r_fp AND p.dt <= l.tau_us
GROUP BY 1, 2
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("spacetime_k_counts", _STK_ORACLE)
def q_spacetime_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diggle space-time K surface over a 3x3 (radius, time-lag)
    ladder: ONE knox-style cell-bucketed join at (max r, max tau), nine
    conditional sums in a 1-row aggregate + stack — the 2-D ladder adds
    zero shuffled rows; exact int64, zerofilled."""
    from oshdb_spark.operators.knn import spacetime_k_counts

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    return spacetime_k_counts(g, _STK_RADII, _STK_TAUS, zoom=7)


_FOCAL_ZOOM = 8

_FOCAL_ORACLE = f"""
WITH g AS ({{g}}),
r AS (
  SELECT {_cell_sql(_FOCAL_ZOOM, "lon_fp", "lat_fp")} AS cell_id,
         COUNT(*) AS cnt
  FROM g
  WHERE lon_fp BETWEEN -1800000000 AND 1800000000
    AND lat_fp BETWEEN -900000000 AND 900000000
  GROUP BY 1
),
xy AS (SELECT cell_id, cnt, cell_id % {1 << _FOCAL_ZOOM} AS x,
              cell_id // {1 << _FOCAL_ZOOM} AS y FROM r),
contrib AS (
  SELECT ((s.x + d.dx + {1 << _FOCAL_ZOOM}) % {1 << _FOCAL_ZOOM}) AS tx,
         s.y + d.dy AS ty, s.cnt
  FROM xy s, (SELECT a.dx, b.dy
              FROM (SELECT UNNEST([-1, 0, 1]) AS dx) a,
                   (SELECT UNNEST([-1, 0, 1]) AS dy) b) d
),
f AS (
  SELECT ty * {1 << _FOCAL_ZOOM} + tx AS cell_id,
         SUM(cnt) AS focal_sum, COUNT(*) AS n_cells
  FROM contrib GROUP BY 1
)
SELECT r.cell_id, CAST(r.cnt AS BIGINT) AS value,
       CAST(f.focal_sum AS BIGINT) AS focal_sum,
       CAST(f.n_cells AS BIGINT) AS n_cells
FROM r JOIN f USING (cell_id)
""".format(g=_duck_derive(GEO_POINT_EXPRS))


@_q("raster_focal_sum", _FOCAL_ORACLE)
def q_raster_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-algebra focal sum over the zoom-8 count raster: 9-position
    explode + groupBy + join back to the occupied extent, antimeridian
    x-wrap; both shuffles are raster-cell-sized, never point-sized."""
    from oshdb_spark.operators.zonal import raster_focal_sum

    g = _derive(spark, sf_dir, GEO_POINT_EXPRS)
    raster = (
        g.withColumn(
            "cell_id",
            xy_cell_id_col(_FOCAL_ZOOM, F.col("lon_fp"), F.col("lat_fp")),
        )
        .filter(F.col("cell_id") >= 0)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return raster_focal_sum(raster, _FOCAL_ZOOM)


# per-user convex hull: scrambled (quadratic-residue) coordinates so the
# point set is in general position (the lattice GEO_* fixtures have
# guaranteed collinear triples, which the strict-hull edge
# characterization below cannot gate); user/event subsetting keeps the
# O(n^3) oracle tractable at any sf the driver picks
_HULL_DERIVE_SPARK = [
    "user_id",
    "CAST((event_id * 1103515245 + 12345) % 1800000 AS BIGINT) * 1000"
    " - 900000000 AS lon_fp",
    "CAST((event_id * event_id * 31 + event_id * 7 + 3) % 1700000 AS BIGINT)"
    " * 1000 - 850000000 AS lat_fp",
]
_HULL_FILTER = "user_id < 40 AND event_id % 7 = 0"

_HULL_ORACLE = f"""
WITH raw AS (
  SELECT user_id,
         CAST((event_id * 1103515245 + 12345) % 1800000 AS BIGINT) * 1000
           - 900000000 AS lon,
         CAST((event_id * event_id * 31 + event_id * 7 + 3) % 1700000
              AS BIGINT) * 1000 - 850000000 AS lat
  FROM events WHERE {_HULL_FILTER}
),
g AS (SELECT DISTINCT user_id, lon, lat FROM raw),
e AS (
  -- directed edge (a,b) is on the CCW strict hull iff EVERY other
  -- distinct point of the key is strictly to its left (cross > 0)
  SELECT a.user_id, a.lon AS ax, a.lat AS ay, b.lon AS bx, b.lat AS by
  FROM g a JOIN g b ON a.user_id = b.user_id
   AND (a.lon <> b.lon OR a.lat <> b.lat)
  WHERE NOT EXISTS (
    SELECT 1 FROM g c WHERE c.user_id = a.user_id
      AND (c.lon <> a.lon OR c.lat <> a.lat)
      AND (c.lon <> b.lon OR c.lat <> b.lat)
      AND (b.lon - a.lon) * (c.lat - a.lat)
        - (b.lat - a.lat) * (c.lon - a.lon) <= 0
  )
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(SUM(CAST(ax AS HUGEINT) * by - CAST(bx AS HUGEINT) * ay)
            AS DECIMAL(38,0)) AS area2
FROM e GROUP BY 1
"""


@_q("track_convex_hull", _HULL_ORACLE)
def q_track_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user strict convex hull (monotone chain, exact integer cross
    products): gated as (n_vertices, doubled shoelace area) against an
    independent O(n^3) SQL characterization — an edge is on the hull
    iff all other points are strictly left; the edge cycle's shoelace
    sum is the area."""
    from oshdb_spark.operators.aggregations import track_convex_hull

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    g = ev.filter(_HULL_FILTER).selectExpr(*_HULL_DERIVE_SPARK)
    hull = track_convex_hull(g, key_col="user_id")
    return hull.select("user_id", "n_vertices", "area2").distinct()


_SCC_ZOOM = 9
_SCC_CELL = 3_600_000_000 >> _SCC_ZOOM

_SCC_ORACLE = f"""
WITH g AS ({_duck_derive(GEO_SEG_EXPRS)}),
seg0 AS (
  SELECT event_id AS id,
         LAG(lon_fp) OVER (PARTITION BY user_id ORDER BY event_id) AS plon,
         LAG(lat_fp) OVER (PARTITION BY user_id ORDER BY event_id) AS plat,
         lon_fp, lat_fp
  FROM g
),
s AS (
  SELECT id,
         CAST(plon AS BIGINT) + 1800000000 AS ax,
         CAST(plat AS BIGINT) + 900000000 AS ay,
         CAST(lon_fp AS BIGINT) + 1800000000 AS bx,
         CAST(lat_fp AS BIGINT) + 900000000 AS by
  FROM seg0 WHERE plon IS NOT NULL
),
cand AS (
  SELECT id, ax, ay, bx, by, cx,
         UNNEST(generate_series(LEAST(ay, by) // {_SCC_CELL},
                                GREATEST(ay, by) // {_SCC_CELL})) AS cy
  FROM (
    SELECT id, ax, ay, bx, by,
           UNNEST(generate_series(LEAST(ax, bx) // {_SCC_CELL},
                                  GREATEST(ax, bx) // {_SCC_CELL})) AS cx
    FROM s
  )
),
x AS (
  SELECT id, cx, cy,
    (CAST(bx AS HUGEINT) - ax) * (cy * {_SCC_CELL} - ay)
      - (CAST(by AS HUGEINT) - ay) * (cx * {_SCC_CELL} - ax) AS c1,
    (CAST(bx AS HUGEINT) - ax) * (cy * {_SCC_CELL} - ay)
      - (CAST(by AS HUGEINT) - ay) * ((cx + 1) * {_SCC_CELL} - ax) AS c2,
    (CAST(bx AS HUGEINT) - ax) * ((cy + 1) * {_SCC_CELL} - ay)
      - (CAST(by AS HUGEINT) - ay) * (cx * {_SCC_CELL} - ax) AS c3,
    (CAST(bx AS HUGEINT) - ax) * ((cy + 1) * {_SCC_CELL} - ay)
      - (CAST(by AS HUGEINT) - ay) * ((cx + 1) * {_SCC_CELL} - ax) AS c4
  FROM cand
)
SELECT id AS seg_id, CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy
FROM x
WHERE LEAST(c1, c2, c3, c4) <= 0 AND GREATEST(c1, c2, c3, c4) >= 0
"""


@_q("segment_cell_cover", _SCC_ORACLE)
def q_segment_cell_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment traversed-cell set at zoom 9 (closed-cell
    straddle test, DECIMAL-exact cross products, pure Catalyst): the
    refinement of the bbox cover the segment-intersection join buckets
    with — diagonal steps report only the cells the line truly
    crosses."""
    from oshdb_spark.operators.tiling import segment_cell_cover

    g = _derive(spark, sf_dir, GEO_SEG_EXPRS)
    w = Window.partitionBy("user_id").orderBy("event_id")
    segs = (
        g.select(
            F.col("event_id").alias("seg_id"),
            F.lag("lon_fp").over(w).alias("x1"),
            F.lag("lat_fp").over(w).alias("y1"),
            F.col("lon_fp").alias("x2"),
            F.col("lat_fp").alias("y2"),
        )
        .filter(F.col("x1").isNotNull())
    )
    return segment_cell_cover(segs, _SCC_ZOOM)
