"""Aggregation operators: reducers + grouped (aggregateBy*) variants.

Reference: MapReducer terminal reducers
(/root/reference/oshdb-api/src/main/java/org/heigit/ohsome/oshdb/api/mapreducer/MapReducer.java:834-1283)
and MapAggregator grouped variants (MapAggregator.java:78-890):

  * count/sum/average/weightedAverage/uniq/countUniq map 1:1 onto Spark
    aggregate functions (partial + final aggregation == the reference's
    per-cell accumulator + cross-cell combiner, Kernels.java:62-74);
  * countUniq is EXACT (HashSet union in the reference) -> countDistinct,
    with approx_count_distinct exposed separately as the scale path;
  * estimatedQuantile uses a t-digest in the reference (compression=1000,
    TdigestReducer.java:14-40); Spark's percentile_approx uses a different
    sketch (KLL-like) — we expose both percentile_approx (default) and an
    exact percentile for parity testing;
  * aggregateByTimestamp (snapshot) groups by the snapshot timestamp;
    the contribution variant FLOORS each contribution timestamp to the
    containing interval of the requested timestamp list
    (MapReducer.java:678-732) — out-of-range rows raise in the reference;
    we drop pre-first rows and floor the rest (timestamps beyond the last
    boundary belong to the last interval in snapshot-zerofill semantics);
  * zerofill: requested keys absent from the data appear with the
    identity value (MapAggregator.java:880-889) — LEFT join from the key
    frame + coalesce;
  * chained aggregateBy == multi-column groupBy (OSHDBCombinedIndex).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from oshdb_spark.session import local_frame

# ---------------------------------------------------------------------------
# timestamp bucketing
# ---------------------------------------------------------------------------


def floor_to_timestamps(ts_col: Column, timestamps: list[int]) -> Column:
    """Map a timestamp to the greatest list element <= it (TreeMap.floorKey).

    Small sorted literal list -> a JVM-side filtered-array lookup:
    element_at(filter(list, t <= ts), -1); null when ts precedes the list.
    """
    arr = F.array(*[F.lit(int(t)).cast("long") for t in sorted(timestamps)])
    candidates = F.filter(arr, lambda t: t <= ts_col)
    return F.when(F.size(candidates) > 0, F.element_at(candidates, -1))


def aggregate_by_timestamp_snapshot(
    snapshots: DataFrame, value_agg: list[Column], group_extra: list[str] | None = None
) -> DataFrame:
    keys = ["snap_ts"] + (group_extra or [])
    return snapshots.groupBy(*keys).agg(*value_agg)


def aggregate_by_timestamp_contribution(
    contributions: DataFrame,
    timestamps: list[int],
    value_agg: list[Column],
    group_extra: list[str] | None = None,
) -> DataFrame:
    """Contributions bucketed into [t_i, t_i+1) intervals; the last list
    element is the exclusive end (zerofill drops it: MapReducer.java:1775-1783)."""
    ts_sorted = sorted(timestamps)
    bucketed = contributions.withColumn(
        "interval_ts", floor_to_timestamps(F.col("ts"), ts_sorted[:-1])
    ).filter(
        F.col("interval_ts").isNotNull() & (F.col("ts") < F.lit(int(ts_sorted[-1])))
    )
    keys = ["interval_ts"] + (group_extra or [])
    return bucketed.groupBy(*keys).agg(*value_agg)


# ---------------------------------------------------------------------------
# zerofill
# ---------------------------------------------------------------------------


def zerofill(
    result: DataFrame,
    spark: SparkSession,
    keys: dict[str, list],
    fill: dict[str, object],
) -> DataFrame:
    """Complete the result with identity rows for absent key combinations.

    keys: column -> full list of requested key values (cartesian across
    columns, like the reference's combined-index zerofill).  Each key frame
    takes the type of the result's own key column, so filling never widens
    a key (an ``int`` column stays ``int``); an empty list fills nothing.
    fill: value column -> identity value (0 for counts/sums, None, ...).

    The key frames are driver-side constants (``session.local_frame``,
    the reference fills in driver memory, MapAggregator.java:880-889):
    they plan as JVM local relations and start no Python worker.

    FULL join: zerofill only INSERTS identity rows for absent requested
    combinations (MapAggregator's insert-zerofill) — observed keys outside
    the requested list survive (MapAggregateByIndexTest.testZerofill: the
    result keeps 617308093 alongside the filled -1).
    """
    frames = None
    for col, values in keys.items():
        kdf = local_frame(
            spark,
            [(v,) for v in values],
            StructType([StructField(col, result.schema[col].dataType)]),
        )
        frames = kdf if frames is None else frames.crossJoin(kdf)
    out = frames.join(result, list(keys), "full")
    for col, identity in fill.items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(identity)))
    return out


# ---------------------------------------------------------------------------
# reducers (aliases keep result column names stable for the oracle compare)
# ---------------------------------------------------------------------------


def count_agg(name: str = "cnt") -> Column:
    return F.count(F.lit(1)).alias(name)


def sum_agg(col: str, name: str | None = None) -> Column:
    return F.sum(col).alias(name or f"sum_{col}")


def avg_agg(col: str, name: str | None = None) -> Column:
    return F.avg(col).alias(name or f"avg_{col}")


def weighted_avg_agg(value: str, weight: str, name: str = "weighted_avg") -> Column:
    """Sum(v*w)/Sum(w) — WeightedValue semantics (MapReducer.java:1118-1137)."""
    return (
        F.sum(F.col(value) * F.col(weight)) / F.sum(F.col(weight))
    ).alias(name)


def uniq_agg(col: str, name: str | None = None) -> Column:
    return F.collect_set(col).alias(name or f"uniq_{col}")


def count_uniq_agg(col: str, name: str | None = None) -> Column:
    """EXACT distinct count (reference uses HashSet union, not a sketch)."""
    return F.countDistinct(col).alias(name or f"count_uniq_{col}")


def approx_count_uniq_agg(col: str, rsd: float = 0.05, name: str | None = None) -> Column:
    """The scale path: HyperLogLog++ sketch (mergeable, 100TB-friendly)."""
    return F.approx_count_distinct(col, rsd).alias(name or f"approx_uniq_{col}")


def quantile_agg(col: str, q: float, name: str | None = None) -> Column:
    """estimatedQuantile analogue via percentile_approx (different sketch
    than the reference's t-digest; accuracy=10000 keeps error comparable)."""
    return F.percentile_approx(col, q, 10000).alias(name or f"q{int(q*100)}_{col}")


def exact_quantile_agg(col: str, q: float, name: str | None = None) -> Column:
    return F.expr(f"percentile({col}, {q})").alias(name or f"q{int(q*100)}_{col}_exact")


def quantiles_agg(col: str, qs: list[float], name: str | None = None) -> Column:
    """estimatedQuantiles analogue (MapAggregator.estimatedQuantiles,
    MapAggregator.java:714-736): one sketch pass, an array of results."""
    arr = F.array(*[F.lit(float(q)) for q in qs])
    return F.percentile_approx(col, arr, F.lit(10000)).alias(
        name or f"quantiles_{col}"
    )


def generic_reduce(df, identity_supplier, accumulator, combiner):
    """Arbitrary-monoid reduce over a DataFrame — the reference's generic
    reduce(identitySupplier, accumulator, combiner) contract
    (MapReducer.java:834-935; per-cell fold + cross-cell combine,
    Kernels.java:62-74).

    Spark shape: mapInPandas folds each PARTITION into one pickled state
    (the map-side partial, one Arrow pass, no per-row Python beyond the
    user's own accumulator), then the driver combines the per-partition
    partials — a bounded list (one blob per partition), never the rows.

      accumulator(state, batch: pandas.DataFrame) -> state
      combiner(state, state) -> state

    The accumulator MUST be associative-compatible with combiner and the
    identity (same contract as the reference: reduce(identity, combine)
    merges partials in arbitrary order).
    """
    import pickle

    import pandas as _pd

    def partials(batches):
        state = identity_supplier()
        for pdf in batches:
            state = accumulator(state, pdf)
        yield _pd.DataFrame({"p": [pickle.dumps(state)]})

    parts = df.mapInPandas(partials, "p binary").collect()
    out = identity_supplier()
    for r in parts:
        out = combiner(out, pickle.loads(bytes(r["p"])))
    return out


def generic_reduce_by(df, keys: list[str], identity_supplier, accumulator, combiner):
    """Grouped arbitrary-monoid reduce — MapAggregator.reduce
    (MapAggregator.java:455-531: per-cell fold keyed by the aggregation
    index, cross-cell combine per key).

    Spark shape: mapInPandas folds each partition into one pickled state
    PER KEY seen in that partition (map-side partials, no shuffle of the
    rows), then the driver combines per-key partials.  Driver traffic is
    one blob per (partition, key) — the same bounded-result contract as
    the reference, whose SortedMap result must also fit on the caller.

    Returns {key: state} (scalar key for a single group column, tuple for
    combined indices).  The accumulator receives pandas sub-frames
    (same contract as generic_reduce).
    """
    import pickle

    import pandas as _pd

    def partials(batches):
        states: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for kv, grp in pdf.groupby(keys, dropna=False, sort=False):
                kk = kv if isinstance(kv, tuple) else (kv,)
                prev = states.get(kk)
                states[kk] = accumulator(
                    prev if prev is not None else identity_supplier(), grp
                )
        yield _pd.DataFrame(
            {
                "k": [pickle.dumps(k) for k in states],
                "p": [pickle.dumps(v) for v in states.values()],
            }
        )

    parts = df.mapInPandas(partials, "k binary, p binary").collect()
    out: dict = {}
    for r in parts:
        k = pickle.loads(bytes(r["k"]))
        s = pickle.loads(bytes(r["p"]))
        out[k] = combiner(out[k], s) if k in out else combiner(identity_supplier(), s)
    if len(keys) == 1:
        out = {k[0]: v for k, v in out.items()}
    return out


def sessionize(
    events: DataFrame,
    gap_us: int,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
) -> DataFrame:
    """Gap-based session segmentation per key: a new session starts at
    the first event and whenever the time since the previous event
    exceeds ``gap_us`` — the per-user analogue of the contribution
    view's changeset squashing (GroupByChangesetIds semantics,
    MapReducer.java:678-732 interval flooring family), and the standard
    web-analytics sessionization operator.

    Returns the event frame with a dense per-key ``session_id`` (1-based
    running count of session starts).  Session assignment depends only
    on the ordered multiset of timestamps — equal-timestamp ties have a
    zero gap and land in the same session under any tie order — so the
    output is deterministic; ``order_col`` pins the tie order anyway so
    the event-level frame is reproducible row-for-row.

    Scale shape: one shuffle (partitionBy key), two window passes over
    it (lag + running sum) with no driver involvement; per-key state is
    a single partition — the usual long-tail-user caveat applies and is
    the same skew class the salted-join helpers cover.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    prev = F.lag(ts_col).over(w)
    is_new = F.when(
        prev.isNull() | ((F.col(ts_col) - prev) > F.lit(int(gap_us))), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn(
        "session_id", F.sum(is_new).over(run).cast("long")
    )


def session_stats(
    events: DataFrame,
    gap_us: int,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-session aggregate over :func:`sessionize`: event count,
    start/end timestamps and duration — all integer-exact."""
    s = sessionize(events, gap_us, key_col, ts_col, order_col)
    return s.groupBy(key_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        (F.max(ts_col) - F.min(ts_col)).alias("duration_us"),
    )


def interval_overlap_join(
    intervals: DataFrame,
    bucket_us: int,
    key_col: str | None = None,
    id_col: str = "event_id",
    start_col: str = "start_us",
    end_col: str = "end_us",
) -> DataFrame:
    """Temporal interval-overlap self-join: every unordered pair of
    intervals (same ``key_col`` when given) whose closed intervals
    ``[start, end]`` intersect — the explicit form of the validity-
    interval semantics the snapshot/contribution views use implicitly
    (an OSH entity version is valid [ts, next_ts); CellIterator
    intersects those with the query window,
    CellIterator.java:708-745) and the standard co-presence /
    concurrent-sessions operator.

    Distributed shape — the 1-D analogue of the dwithin cell-bucket
    join: each interval explodes to the epoch buckets of width
    ``bucket_us`` it touches, pairs meet by hash equi-join on
    (key, bucket), and the exact predicate refines.  Exactly-once
    WITHOUT a distinct: a qualifying pair is emitted only in the bucket
    containing ``greatest(a.start, b.start)`` — that instant lies inside
    both intervals, so both sides explode into its bucket (existence),
    and it pins one bucket (uniqueness).  ``bucket_us`` is a pure
    fan-out knob (longest-interval width keeps the explode <= 2 per
    row); correctness holds for ANY positive value.

    Returns ``(a_id, b_id, overlap_us:long)`` with ``a_id < b_id``;
    overlap_us = min(ends) - max(starts) >= 0 (0 = they touch).
    """
    w = int(bucket_us)
    if w <= 0:
        raise ValueError("bucket_us must be positive")
    keys = [key_col] if key_col else []
    sides = []
    for tag in ("a", "b"):
        sides.append(
            intervals.select(
                *keys,
                F.col(id_col).alias(f"{tag}_id"),
                F.col(start_col).cast("long").alias(f"{tag}_s"),
                F.col(end_col).cast("long").alias(f"{tag}_e"),
            ).withColumn(
                "bk",
                # integer DIV, not floor(x / w): double division loses
                # exactness for 64-bit timestamps with small buckets.
                # Truncation is a consistent monotone bucket map, which
                # is all the exactly-once argument needs (home lies
                # between both sides' bucket bounds by monotonicity).
                F.explode(
                    F.sequence(
                        F.expr(f"{tag}_s DIV {w}"),
                        F.expr(f"{tag}_e DIV {w}"),
                    )
                ),
            )
        )
    a, b = sides
    home = F.expr(f"greatest(a_s, b_s) DIV {w}")
    return (
        a.join(b, keys + ["bk"])
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("a_s") <= F.col("b_e"))
            & (F.col("b_s") <= F.col("a_e"))
            & (F.col("bk") == home)
        )
        .select(
            "a_id",
            "b_id",
            (
                F.least(F.col("a_e"), F.col("b_e"))
                - F.greatest(F.col("a_s"), F.col("b_s"))
            ).alias("overlap_us"),
        )
    )


def track_length_geodesic(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Per-key geodesic track length: order each key's points by
    ``(ts, order)``, sum the haversine distance of consecutive steps —
    the trajectory analogue of Geo.lengthOf (geometry/geo.py:25, same
    R_mean sphere), and the movement-analytics sibling of
    :func:`session_stats`.

    One shuffle (the window partition); the step distance is a pure
    double function of four fixed-point ints, rounded to 3 decimal
    meters (mm) per step and DECIMAL-summed so the result is exact
    under any partition order and any libm 1-ulp drift (mm granularity
    dominates the worst-case asin error amplification near-antipodal
    steps can reach).  Keys with a single point have no step and are
    absent.  Returns ``(key, n_steps:long, track_m:decimal(38,3))``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    p = events.select(key_col, ts_col, order_col, lon_col, lat_col)
    p = p.withColumn("_plon", F.lag(lon_col).over(w)).withColumn(
        "_plat", F.lag(lat_col).over(w)
    )
    to_rad = 3.141592653589793 / 180.0 / 1e7
    la1 = F.col("_plat") * F.lit(to_rad)
    la2 = F.col(lat_col) * F.lit(to_rad)
    dla = (F.col(lat_col) - F.col("_plat")) * F.lit(to_rad)
    dlo = (F.col(lon_col) - F.col("_plon")) * F.lit(to_rad)
    h = F.sin(dla / 2) * F.sin(dla / 2) + F.cos(la1) * F.cos(la2) * F.sin(
        dlo / 2
    ) * F.sin(dlo / 2)
    # clamp sqrt(h) at 1.0: float error can push h a ulp past 1 for
    # antipodal steps and asin would go NaN (same clamp in the oracle)
    step = F.lit(2.0 * 6_371_000.0) * F.asin(F.least(F.sqrt(h), F.lit(1.0)))
    step_mm = F.round(step, 3).cast("decimal(18,3)")
    return (
        p.where(F.col("_plon").isNotNull())
        .select(key_col, step_mm.alias("_step"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.sum("_step").cast("decimal(38,3)").alias("track_m"),
        )
    )


def od_flow_matrix(
    events: DataFrame,
    zoom: int,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Origin-destination flow matrix: for every consecutive per-key
    step (same (ts, order) window as :func:`track_length_geodesic`),
    count transitions between zoom-``zoom`` grid cells — the classic
    movement-analytics aggregate over the engine's cell lattice.

    Two shuffles total (the per-key window, then the map-side-
    combinable (from, to) count), both integer-exact; self-loops
    (step stays in its cell) are kept — they carry dwell information.
    Returns ``(fcx, fcy, tcx, tcy, n_steps)``, all long.
    """
    from pyspark.sql import Window

    cell_fp = 3_600_000_000 >> zoom
    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    p = events.select(
        key_col,
        ts_col,
        order_col,
        F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("tcx"),
        F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("tcy"),
    )
    p = p.withColumn("fcx", F.lag("tcx").over(w)).withColumn(
        "fcy", F.lag("tcy").over(w)
    )
    return (
        p.where(F.col("fcx").isNotNull())
        .groupBy("fcx", "fcy", "tcx", "tcy")
        .agg(F.count(F.lit(1)).alias("n_steps"))
    )


def bearing_histogram(
    segments: DataFrame,
    zoom: int,
    n_bins: int = 16,
) -> DataFrame:
    """Per-cell compass-bearing histogram over line segments — the
    street-orientation / grid-order analysis built on Geo.bearingOf
    (Geo.java:342-352: great-circle forward azimuth via
    atan2(sin dlon * cos lat2, cos lat1 sin lat2 - sin lat1 cos lat2 cos
    dlon), normalized to [0, 2pi)).

    Input: (ax, ay, bx, by) 1e-7 fixed-point segment endpoints.
    Each segment lands in the zoom cell of its midpoint and the compass
    bin floor(bearing / (2pi/n_bins)); output is the integer-exact
    (cx, cy, bin, n_segments) table — one map-side-combinable shuffle,
    no Python, no UDF.

    Determinism: the bearing expression is a fixed dag of correctly-
    rounded libm ops over exact inputs; bins are only ulp-sensitive for
    bearings within ~1e-13 rad of a bin edge, and the exactly-on-edge
    constructions (due-north: sin(0)=0, atan2(+-0, +x) = +-0) are
    IEEE-exact identically on every engine.  Zero-length segments get
    bearing atan2(0, 0) = 0 (bin 0), matching the reference's behavior
    for degenerate input.
    """
    pi = 3.141592653589793
    to_rad = pi / 180.0 / 1e7  # fixed-point 1e-7 degrees -> radians
    cell_fp = 3_600_000_000 >> zoom
    x1 = F.col("ax") * F.lit(to_rad)
    y1 = F.col("ay") * F.lit(to_rad)
    x2 = F.col("bx") * F.lit(to_rad)
    y2 = F.col("by") * F.lit(to_rad)
    yy = F.sin(x2 - x1) * F.cos(y2)
    xx = F.cos(y1) * F.sin(y2) - F.sin(y1) * F.cos(y2) * F.cos(x2 - x1)
    bearing = (F.atan2(yy, xx) + F.lit(2 * pi)) % F.lit(2 * pi)
    return (
        segments.select(
            # shift BEFORE halving so the dividend stays non-negative
            # (DIV truncates toward zero, the oracle's // floors --
            # identical only for non-negative operands); endpoint coords
            # are multiples of 1000 so the halving is exact
            F.expr(
                f"((ax + bx + 3600000000) DIV 2) DIV {cell_fp}"
            ).alias("cx"),
            F.expr(
                f"((ay + by + 1800000000) DIV 2) DIV {cell_fp}"
            ).alias("cy"),
            F.floor(bearing / F.lit(2 * pi / n_bins)).alias("bin"),
        )
        .groupBy("cx", "cy", "bin")
        .agg(F.count(F.lit(1)).alias("n_segments"))
    )


def resample_track(
    points: DataFrame,
    n_subdiv: int = 4,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Trajectory densification: emit the n_subdiv-1 equally-spaced
    intermediate points of every consecutive per-user step (linear
    interpolation in coordinate space) — the resampling stage upstream
    of map matching / stay-point detection.

    Plan shape: one lag window (the only shuffle) + a bounded
    explode(sequence) — no Python, no UDF.

    Determinism: with n_subdiv a power of two the interpolated
    coordinate plon + (lon - plon) * (k/n) is EXACT double arithmetic
    (the delta is an integer < 2^53, k/n is a dyadic rational), so the
    output hashes identically on every engine and partition order.

    Returns (user, seg, k, rlon, rlat): seg numbers the step within the
    user's track (1-based, ordered by (ts, order_col)), k in
    [1, n_subdiv-1] the subdivision index.
    """
    if n_subdiv & (n_subdiv - 1):
        raise ValueError("n_subdiv must be a power of two for exact doubles")
    from pyspark.sql import Window

    w = Window.partitionBy("user").orderBy("__ts", "__ord")
    stepped = (
        points.select(
            F.col(user_col).alias("user"),
            F.col(ts_col).alias("__ts"),
            F.col(order_col).alias("__ord"),
            F.col(lon_col).alias("lon"),
            F.col(lat_col).alias("lat"),
        )
        .withColumn("plon", F.lag("lon").over(w))
        .withColumn("plat", F.lag("lat").over(w))
        .withColumn("seg", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("plon").isNotNull())
    )
    frac = F.col("k") / F.lit(float(n_subdiv))
    return stepped.withColumn(
        "k0", F.explode(F.sequence(F.lit(1), F.lit(n_subdiv - 1)))
    ).withColumn("k", F.col("k0").cast("long")).select(
        F.col("user").alias(user_col),
        "seg",
        "k",
        (F.col("plon") + (F.col("lon") - F.col("plon")) * frac).alias("rlon"),
        (F.col("plat") + (F.col("lat") - F.col("plat")) * frac).alias("rlat"),
    )


def stop_detection(
    events: DataFrame,
    eps: int,
    min_points: int,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    x_col: str = "lon_fp",
    y_col: str = "lat_fp",
) -> DataFrame:
    """Trajectory stop (stay-point) detection via gaps-and-islands:
    maximal runs of consecutive per-key steps each shorter than ``eps``,
    kept when the run has >= ``min_points`` points.

    The classic stay-point scan (Li et al. 2008) advances a sequential
    anchor, which resists parallel/SQL expression; this is the
    step-distance variant used for stop detection in movement analytics
    (consecutive-step threshold + minimum dwell), and it is pure window
    algebra: lag -> exact integer step distance^2 -> break flag ->
    running-sum segment id -> one map-side-combinable per-segment agg.
    ONE shuffle (the per-key window); every output is an exact integer
    (centroid reported as sum_x/sum_y + n so no engine divides).

    Returns (key, stop_seq:int, n_points, start_ts, end_ts,
    duration_us, sum_x, sum_y) — stop_seq numbers a key's kept stops in
    time order (dense, 0-based).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    p = events.select(
        key_col,
        ts_col,
        order_col,
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    p = (
        p.withColumn("_px", F.lag("_x").over(w))
        .withColumn("_py", F.lag("_y").over(w))
        .withColumn(
            "_break",
            F.when(
                F.col("_px").isNull()
                | (
                    (F.col("_x") - F.col("_px")) * (F.col("_x") - F.col("_px"))
                    + (F.col("_y") - F.col("_py"))
                    * (F.col("_y") - F.col("_py"))
                    > F.lit(int(eps) * int(eps)).cast("long")
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_seg",
            F.sum("_break").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    segs = (
        p.groupBy(key_col, "_seg")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.sum("_x").alias("sum_x"),
            F.sum("_y").alias("sum_y"),
        )
        .filter(F.col("n_points") >= int(min_points))
    )
    w2 = Window.partitionBy(key_col).orderBy("start_ts", "_seg")
    return segs.select(
        key_col,
        (F.row_number().over(w2) - 1).alias("stop_seq"),
        "n_points",
        "start_ts",
        "end_ts",
        (F.col("end_ts") - F.col("start_ts")).alias("duration_us"),
        "sum_x",
        "sum_y",
    )


def trajectory_hausdorff_join(
    events: DataFrame,
    bucket_zoom: int = 6,
    max_points: int = 32,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Trajectory-similarity self-join: discrete Hausdorff distance
    between per-key tracks, integer-exact, with cell-bucketed candidate
    generation — the movement-analytics sibling of
    :func:`track_length_geodesic` and the trajectory analogue of the
    engine's DWithin joins (operators/knn.py:145).

    Pipeline (all JVM-side Column algebra, no UDF):

      1. decimate each key's track to its first ``max_points`` points by
         ``(ts, order)`` (a deterministic sketch; bounds the per-pair
         cross at ``max_points**2`` rows);
      2. candidate pairs = keys whose *centroid* falls in the same
         zoom-``bucket_zoom`` grid cell (floor-divided integer mean over
         non-negative offset coords, so Spark ``DIV`` == DuckDB ``//``);
         a coarser/finer zoom trades recall vs pair count, exactly like
         the LSH band policy in operators/dedup.py;
      3. one (pair x points_a x points_b) equi-join cross per candidate
         pair; squared planar fp distance with dateline-wrapped
         longitude (``least(|dx|, 3.6e9 - |dx|)``) so the bigint square
         cannot overflow anywhere on the globe;
      4. directed distances d(a->b) = max over a-points of the min over
         b-points (and symmetrically), Hausdorff = greatest of the two.

    Everything is int64 arithmetic -> bit-stable under any partition
    order and engine (the driver hash gate covers it).  Scale posture:
    pair count is bounded by the per-bucket key count (dense buckets can
    be salted or capped exactly like lsh_capped_pairs); the cross is
    bounded by construction; the two directed aggregations are map-side
    combinable.  Returns ``(a_key, b_key, n_a, n_b,
    hausdorff_sq:bigint)``.
    """
    from pyspark.sql import Window

    cell_fp = 3_600_000_000 >> bucket_zoom
    order_cols = [ts_col] + ([order_col] if order_col != ts_col else [])
    w = Window.partitionBy("k").orderBy(*order_cols)
    pts = (
        events.select(
            F.col(key_col).alias("k"),
            (F.col(lon_col).cast("long") + F.lit(1_800_000_000)).alias("x"),
            (F.col(lat_col).cast("long") + F.lit(900_000_000)).alias("y"),
            *[F.col(c) for c in order_cols],
        )
        .withColumn("pi", F.row_number().over(w))
        .where(F.col("pi") <= int(max_points))
        .select("k", "pi", "x", "y")
    )
    cent = pts.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"(sum(x) DIV count(1)) DIV {cell_fp}").alias("cx"),
        F.expr(f"(sum(y) DIV count(1)) DIV {cell_fp}").alias("cy"),
    )
    a = cent.select(
        F.col("k").alias("a_k"), F.col("n").alias("n_a"), "cx", "cy"
    )
    b = cent.select(
        F.col("k").alias("b_k"), F.col("n").alias("n_b"), "cx", "cy"
    )
    pairs = a.join(b, ["cx", "cy"]).where(F.col("a_k") < F.col("b_k")).select(
        "a_k", "b_k", "n_a", "n_b"
    )
    pa = pts.select(
        F.col("k").alias("a_k"),
        F.col("pi").alias("ai"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    )
    pb = pts.select(
        F.col("k").alias("b_k"),
        F.col("pi").alias("bi"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    dl = F.abs(F.col("ax") - F.col("bx"))
    dx = F.least(dl, F.lit(3_600_000_000) - dl)
    dy = F.col("ay") - F.col("by")
    cross = (
        pairs.join(pa, "a_k")
        .join(pb, "b_k")
        .select(
            "a_k",
            "b_k",
            "n_a",
            "n_b",
            "ai",
            "bi",
            (dx * dx + dy * dy).alias("sqd"),
        )
    )
    d_ab = (
        cross.groupBy("a_k", "b_k", "n_a", "n_b", "ai")
        .agg(F.min("sqd").alias("m"))
        .groupBy("a_k", "b_k", "n_a", "n_b")
        .agg(F.max("m").alias("h_ab"))
    )
    d_ba = (
        cross.groupBy("a_k", "b_k", "bi")
        .agg(F.min("sqd").alias("m"))
        .groupBy("a_k", "b_k")
        .agg(F.max("m").alias("h_ba"))
    )
    return d_ab.join(d_ba, ["a_k", "b_k"]).select(
        "a_k",
        "b_k",
        "n_a",
        "n_b",
        F.greatest("h_ab", "h_ba").alias("hausdorff_sq"),
    )


def radius_of_gyration(
    points: DataFrame,
    key_col: str = "user_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Per-key radius of gyration, THE human-mobility range statistic
    (Gonzalez, Hidalgo & Barabasi, Nature 2008): r_g = sqrt(mean squared
    planar distance of a user's points to their centroid).  Returned in
    the engine's exact-integer decomposition:

        rog_num = n * (sum(x^2) + sum(y^2)) - sum(x)^2 - sum(y)^2

    so that ``r_g = sqrt(rog_num) / n`` (fixed-point degree units) — the
    numerator is an exact integer (DECIMAL(38,0): per-term x^2 fits
    int64 but the sums don't at scale, and the final form stays well
    under 10^38 for any per-key cardinality the fixed-point domain
    admits), making the per-key output hash-gateable with zero float
    risk; the caller takes the one sqrt/divide.

    Plan shape: ONE map-side-combinable groupBy over five integer
    moments — the cheapest possible distributed form; no window, no
    join, no second pass.  Skew-safe: per-key state is 5 numbers.

    Returns ``(key, n_pts:long, rog_num:decimal(38,0))``.
    """
    d = "decimal(38,0)"
    x = F.col(lon_col).cast("long")
    y = F.col(lat_col).cast("long")
    agg = points.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(x.cast(d)).alias("sx"),
        F.sum(y.cast(d)).alias("sy"),
        F.sum((x * x).cast(d)).alias("sxx"),
        F.sum((y * y).cast(d)).alias("syy"),
    )
    num = (
        F.col("n_pts").cast(d) * (F.col("sxx") + F.col("syy"))
        - F.col("sx") * F.col("sx")
        - F.col("sy") * F.col("sy")
    )
    return agg.select(
        F.col("key").alias(key_col),
        "n_pts",
        num.cast(d).alias("rog_num"),
    )


def cell_dwell_time(
    events: DataFrame,
    zoom: int,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Time-weighted cell presence: for each grid cell, the total time
    all keys SPENT there, attributing each inter-observation interval to
    the cell of its earlier point (the standard step-function dwell
    model) — the movement-analytics complement of plain visit counts
    (a cell with 3 long stays beats one with 300 drive-throughs) and the
    trajectory analogue of the snapshot view's [ts, next_ts) validity
    attribution (same lead-window construction as
    snapshot.with_validity).

    Plan shape: ONE shuffle for the per-key lead window, then a
    map-side-combinable groupBy on the (small) cell key.  Each key's
    last observation has no next point and contributes no interval —
    exact int64 throughout.

    Returns ``(cx, cy, dwell_us:long, n_intervals:long)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    cell_fp = 3_600_000_000 >> zoom
    stepped = events.select(
        F.expr(f"({lon_col} + 1800000000) DIV {cell_fp}").alias("cx"),
        F.expr(f"({lat_col} + 900000000) DIV {cell_fp}").alias("cy"),
        (F.lead(ts_col).over(w) - F.col(ts_col)).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return stepped.groupBy("cx", "cy").agg(
        F.sum("dt").cast("long").alias("dwell_us"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
    )


def simplify_track_dp(
    events: DataFrame,
    eps_fp: int,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Douglas-Peucker trajectory simplification per key with an EXACT
    integer split predicate: a point P splits segment AB iff
    ``cross(B-A, P-A)^2 > eps^2 * |AB|^2`` (perpendicular distance
    without the division; A == B degenerates to squared distance to A).
    The per-segment argmax compares ``cross^2`` directly — same
    denominator, so no ratios, no floats, no ties-by-rounding; exact
    ties break to the lowest ordinal for determinism.  Products reach
    ~1.3e19 for antimeridian-wide tracks (> int64), so the inner loop
    uses Python ints (exact at any width) — inherently ragged recursive
    control flow, the same accepted class as relation ring assembly
    (BENCH.md §R5.3), bounded per track, not per corpus.

    Scale shape: one shuffle (groupBy key into applyInPandas); each
    track simplifies independently, O(n log n) expected.  Keys are
    trajectories — the usual long-tail skew caveat, same class the
    salted-join helpers cover.

    Returns the kept observations ``(key, ordinal:long, lon, lat)``
    with ``ordinal`` = 0-based position in the (ts, order)-sorted
    track; endpoints always survive.
    """
    import pandas as pd

    eps2 = int(eps_fp) * int(eps_fp)

    def _dp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__ts", "__ord"], kind="mergesort")
        xs = [int(v) for v in pdf["__x"]]
        ys = [int(v) for v in pdf["__y"]]
        n = len(xs)
        if n <= 2:
            keep = list(range(n))
        else:
            keep_mask = [False] * n
            keep_mask[0] = keep_mask[-1] = True
            stack = [(0, n - 1)]
            while stack:
                i, j = stack.pop()
                if j - i < 2:
                    continue
                ax, ay, bx, by = xs[i], ys[i], xs[j], ys[j]
                dx, dy = bx - ax, by - ay
                seg2 = dx * dx + dy * dy
                best, best_k = -1, -1
                for k in range(i + 1, j):
                    px, py = xs[k] - ax, ys[k] - ay
                    if seg2 == 0:
                        # degenerate AB: squared distance to A, compared
                        # against eps^2 directly
                        metric = px * px + py * py
                        thr_hit = metric > eps2
                    else:
                        c = dx * py - dy * px
                        metric = c * c
                        thr_hit = metric > eps2 * seg2
                    if thr_hit and metric > best:
                        best, best_k = metric, k
                if best_k >= 0:
                    keep_mask[best_k] = True
                    stack.append((i, best_k))
                    stack.append((best_k, j))
            keep = [k for k in range(n) if keep_mask[k]]
        key_val = pdf["__key"].iloc[0]
        return pd.DataFrame(
            {
                "__key": [key_val] * len(keep),
                "ordinal": keep,
                "lon_out": [xs[k] for k in keep],
                "lat_out": [ys[k] for k in keep],
            }
        )

    prepped = events.select(
        F.col(key_col).alias("__key"),
        F.col(ts_col).alias("__ts"),
        F.col(order_col).alias("__ord"),
        F.col(lon_col).cast("long").alias("__x"),
        F.col(lat_col).cast("long").alias("__y"),
    )
    out = prepped.groupBy("__key").applyInPandas(
        _dp,
        schema="__key long, ordinal long, lon_out long, lat_out long",
    )
    return out.select(
        F.col("__key").alias(key_col),
        "ordinal",
        F.col("lon_out").alias(lon_col),
        F.col("lat_out").alias(lat_col),
    )


def track_convex_hull(
    points: DataFrame,
    key_col: str = "user_id",
    lon_col: str = "lon_fp",
    lat_col: str = "lat_fp",
) -> DataFrame:
    """Per-key convex hull (Andrew's monotone chain, CLRS 33.3) with
    STRICT turns — collinear boundary points are dropped, so every
    emitted vertex is an extreme point — plus the exact doubled hull
    area (shoelace over the CCW cycle).  The activity-footprint /
    catchment primitive of movement analytics, and the convex
    counterpart of :func:`radius_of_gyration`'s dispersion scalar.

    EXACT integer arithmetic end to end: the turn predicate is a cross
    product of coordinate deltas and the area is the shoelace sum, both
    in Python ints (products exceed int64 for antimeridian-wide hulls —
    same documented rationale as :func:`simplify_track_dp`).  Keys whose
    distinct points are all collinear have no 2-D hull and are dropped
    (area would be 0; the SQL-oracle edge definition agrees).

    Scale shape: one shuffle (groupBy key into applyInPandas); each
    key's hull is O(n log n).  Returns one row per hull VERTEX:
    ``(key, ordinal:long, lon, lat, n_vertices:long, area2:decimal)``
    with the CCW cycle starting at the lexicographically smallest
    vertex and area2 = 2x the enclosed area (fp^2 units) repeated on
    every row of the key.
    """
    import pandas as pd

    def _cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = sorted(
            {(int(x), int(y)) for x, y in zip(pdf["__x"], pdf["__y"])}
        )
        out_rows = []
        if len(pts) >= 3:
            lower: list = []
            for p in pts:
                while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
                    lower.pop()
                lower.append(p)
            upper: list = []
            for p in reversed(pts):
                while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
                    upper.pop()
                upper.append(p)
            hull = lower[:-1] + upper[:-1]  # CCW, starts at min vertex
            if len(hull) >= 3:
                area2 = 0
                for (ax, ay), (bx, by) in zip(hull, hull[1:] + hull[:1]):
                    area2 += ax * by - bx * ay
                key_val = pdf["__key"].iloc[0]
                for i, (x, y) in enumerate(hull):
                    out_rows.append((key_val, i, x, y, len(hull), area2))
        return pd.DataFrame(
            out_rows,
            columns=[
                "__key", "ordinal", "lon_out", "lat_out", "n_vertices",
                "area2",
            ],
        )

    prepped = points.select(
        F.col(key_col).alias("__key"),
        F.col(lon_col).cast("long").alias("__x"),
        F.col(lat_col).cast("long").alias("__y"),
    )
    out = prepped.groupBy("__key").applyInPandas(
        _hull,
        schema=(
            "__key long, ordinal long, lon_out long, lat_out long,"
            " n_vertices long, area2 decimal(38,0)"
        ),
    )
    return out.select(
        F.col("__key").alias(key_col),
        "ordinal",
        F.col("lon_out").alias(lon_col),
        F.col("lat_out").alias(lat_col),
        "n_vertices",
        "area2",
    )
