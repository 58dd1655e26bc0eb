"""Fluent query API — the engine's equivalent of the reference's
OSMEntitySnapshotView / OSMContributionView MapReducer chain.

Reference surface (oshdb-api/.../OSMEntitySnapshotView.java:12-14,
MapReducer.java:229-557 fluent setters, MapAggregator.java:78-890 grouped
reducers).  Every setter returns a modified copy (the reference marks them
@Contract(pure = true)); terminal reducers trigger execution.

    from oshdb_spark.api import OSHDB, SnapshotView, ContributionView

    db = OSHDB.from_docs(spark, docs_df)
    result = (SnapshotView.on(db)
        .area_of_interest(bbox=(minlon, minlat, maxlon, maxlat))   # degrees
        .timestamps("2014-01-01", "2016-01-01", "P1Y")
        .filter("type:way and building=*")
        .aggregate_by_timestamp()
        .count())            # -> DataFrame (snap_ts, cnt), zerofilled

Spark-first execution shape: the chain only builds a logical DataFrame plan
(filter pushdown, type-set narrowing, partial aggregation all land in
Catalyst); nothing runs until a terminal reducer.  Global reducers return
Python scalars (like the reference), grouped reducers return key-sorted
DataFrames (the reference's SortedMap).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oshdb_spark.filters.dsl import (
    ALL_TYPES,
    AndOp,
    ContributionColFilter,
    Node,
    NotOp,
    OrOp,
    TagTranslator,
    TypeFilter,
    parse_filter,
)
from oshdb_spark.geometry.taginterpreter import TagInterpreter
from oshdb_spark.operators.aggregations import (
    count_uniq_agg,
    quantile_agg,
    weighted_avg_agg,
    zerofill,
)
from oshdb_spark.operators.contribution import contribution_view
from oshdb_spark.operators.snapshot import snapshot_view
from oshdb_spark.timestamps import parse_iso, timestamps as make_timestamps


from oshdb_spark.sources.store import OSHDBTableNotFoundError  # noqa: F401  (public surface)


class OSHDBInvalidTimestampError(ValueError):
    """A custom aggregate-by-timestamp indexer produced a timestamp outside
    the requested time interval (OSHDBInvalidTimestampException,
    MapReducer.java:715-733)."""


class OSHDBTimeoutError(TimeoutError):
    """A terminal reducer exceeded ``OSHDB.timeout()`` — the analog of the
    reference's OSHDBTimeoutException (OSHDBDatabase.java:51-77,
    MapReducerJdbc.java:47-53)."""


def _flush_python_workers(spark: SparkSession, tries: int = 3) -> None:
    """Probe every pooled Python worker with a trivial Arrow-UDF job so a
    worker poisoned by a cancelled/interrupted task dies here (inside a
    sacrificial job) instead of failing the caller's next query.  Only
    invoked on the timeout path — zero cost for normal queries."""

    def _probe(batches):
        yield from batches

    n = max(int(spark.sparkContext.defaultParallelism), 1)
    for _ in range(tries):
        try:
            spark.range(n * 2).repartition(n).mapInPandas(
                _probe, "id long"
            ).count()
            return
        except Exception:  # poisoned worker consumed; retry the probe
            continue


def _run_with_timeout(spark: SparkSession, seconds, fn):
    """Run a terminal action under a cancellable Spark job group.

    A daemon timer cancels every job in the group once the budget elapses
    (``interruptOnCancel`` interrupts running task threads) — the Spark
    analogue of the reference's query timeout, which aborts the cell scan
    between cells (MapReducerJdbc.java:47-53).  The session stays usable
    afterwards; only this query's jobs are cancelled."""
    if not seconds or seconds <= 0:
        return fn()
    import threading
    import uuid

    sc = spark.sparkContext
    group = f"oshdb-timeout-{uuid.uuid4().hex[:8]}"
    fired = threading.Event()
    done = threading.Event()

    def _cancel_loop():
        # one-shot cancelJobGroup only kills jobs RUNNING at fire time; a
        # multi-job pipeline (probe jobs, then the main reduce) could start
        # its next job after the cancel landed on nothing.  Loop until the
        # action returns so any job submitted past the deadline dies too.
        if done.wait(float(seconds)):
            return
        fired.set()
        while not done.is_set():
            sc.cancelJobGroup(group)
            done.wait(0.25)

    sc.setJobGroup(group, "oshdb_spark terminal reducer",
                   interruptOnCancel=True)
    canceller = threading.Thread(target=_cancel_loop, daemon=True)
    canceller.start()
    try:
        return fn()
    except Exception as e:
        if fired.is_set():
            raise OSHDBTimeoutError(
                f"query exceeded timeout of {seconds}s (job group {group} "
                "cancelled)"
            ) from e
        raise
    finally:
        done.set()
        # clear the group so later queries on this thread aren't cancellable
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
        if fired.is_set():
            # interrupting Arrow-UDF tasks can release a mid-protocol
            # Python worker back to the reuse pool; the NEXT UDF job then
            # crashes on the poisoned worker.  A real cluster retries the
            # task (maxFailures=4) and self-heals, but local[N] runs with
            # maxFailures=1, so probe-flush the pool here: each probe task
            # either proves a pooled worker healthy or consumes the broken
            # one (failed workers are killed, not returned).
            _flush_python_workers(spark)


class OSHDB:
    """Database handle: a normalized entities DataFrame + keytables.

    The Spark analogue of OSHDBDatabase (api/db/OSHDBDatabase.java:26):
    holds the session, the (Iceberg/parquet-backed) entities table and the
    tag dictionary used to int-code DSL filters.
    """

    def __init__(
        self,
        spark: SparkSession,
        entities: DataFrame,
        translator: TagTranslator | None = None,
        interpreter: TagInterpreter | None = None,
    ):
        self.spark = spark
        self.entities = entities
        self.translator = translator or TagTranslator()
        self.interpreter = interpreter
        self.timeout_s: float | None = None

    def timeout(self, seconds: float | None) -> "OSHDB":
        """Wall-clock budget for terminal reducers; exceeded -> the query's
        job group is cancelled and OSHDBTimeoutError raised
        (OSHDBDatabase.timeoutInMilliseconds, OSHDBDatabase.java:51-77).
        ``None`` (default) disables the budget."""
        self.timeout_s = seconds
        return self

    @classmethod
    def from_docs(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        translator: TagTranslator | None = None,
        interpreter: TagInterpreter | None = None,
    ) -> "OSHDB":
        """Build from the interleaved (doc_id, spans) table (BASELINE.json:15)."""
        from oshdb_spark.sources.entities import extract_entities

        return cls(spark, extract_entities(docs), translator, interpreter)

    @classmethod
    def from_store(
        cls,
        spark: SparkSession,
        path: str,
        translator: TagTranslator | None = None,
        interpreter: TagInterpreter | None = None,
        as_of_batch: int | None = None,
    ) -> "OSHDB":
        """Connect to a tiled entities store written by
        ``sources.store.write_entities_table`` — the `new OSHDBH2(path)`
        analog.  A missing or empty table raises OSHDBTableNotFoundError,
        the reference's contract for querying a database without its
        tables/caches (MapReduceOSHDBJdbcMissingTablesTest,
        MapReduceOSHDBIgniteMissingCacheTest).  ``as_of_batch`` opens the
        table at a past ingest snapshot (sources.store.read_entities_table
        time travel; ``sources.store.snapshots(path)`` lists them)."""
        from oshdb_spark.sources.store import read_entities_table

        return cls(
            spark,
            read_entities_table(spark, path, as_of_batch=as_of_batch),
            translator,
            interpreter,
        )

    @classmethod
    def with_osm_config(
        cls,
        spark: SparkSession,
        entities: DataFrame,
        translator: TagTranslator,
    ) -> "OSHDB":
        """Production constructor for real OSM keytables: the interpreter
        is built from the bundled osm-polygon-features config
        (geometry/polygon_features.py) through the given translator — what
        `new DefaultTagInterpreter(tagTranslator)` does in the reference
        (DefaultTagInterpreter.java:47-56).  The plain constructor keeps
        the synthetic int-coded allowlist for fixture data, which has no
        string keyspace to resolve the config against."""
        from oshdb_spark.geometry.polygon_features import osm_tag_interpreter

        return cls(
            spark, entities, translator, osm_tag_interpreter(translator)
        )


# ---------------------------------------------------------------------------
# filter plumbing
# ---------------------------------------------------------------------------


def _conjuncts(node: Node):
    if isinstance(node, AndOp):
        yield from _conjuncts(node.left)
        yield from _conjuncts(node.right)
    else:
        yield node


def _type_only(node: Node) -> bool:
    """True when ``node`` tests nothing but the entity type, so it holds
    exactly on the rows of ``node.osm_types()``."""
    if isinstance(node, TypeFilter):
        return True
    if isinstance(node, (AndOp, OrOp)):
        return _type_only(node.left) and _type_only(node.right)
    return False


def _has_contrib_selector(node: Node) -> bool:
    if isinstance(node, ContributionColFilter):
        return True
    if isinstance(node, (AndOp, OrOp)):
        return _has_contrib_selector(node.left) or _has_contrib_selector(node.right)
    if isinstance(node, NotOp):
        return _has_contrib_selector(node.child)
    return False


@dataclass(frozen=True)
class _ViewState:
    view: str  # 'snapshot' | 'contribution'
    ts: tuple[int, ...] = ()
    bbox_deg: tuple[float, float, float, float] | None = None
    polygon: tuple | None = None  # hashable-frozen GeoJSON-ish dict
    filters: tuple[Node, ...] = ()
    raw_filters: tuple[Column, ...] = ()
    transforms: tuple[Callable[[DataFrame], DataFrame], ...] = ()


class _MapReducer:
    """Shared fluent core.  Every setter returns a copy."""

    _VIEW: str = "snapshot"

    def __init__(self, db: OSHDB, state: _ViewState | None = None):
        self.db = db
        self.state = state or _ViewState(view=self._VIEW)

    @classmethod
    def on(cls, db: OSHDB) -> "_MapReducer":
        return cls(db)

    def _with(self, **kw) -> "_MapReducer":
        return type(self)(self.db, dataclasses.replace(self.state, **kw))

    # -- construction-time filters (MapReducer.java:229-557) ---------------

    def area_of_interest(
        self,
        bbox: "tuple[float, float, float, float] | BoundingBox | None" = None,
        polygon: dict | None = None,
    ) -> "_MapReducer":
        """bbox = (minlon, minlat, maxlon, maxlat) in degrees or a
        geometry.bbox.BoundingBox (OSHDBBoundingBox); polygon = a
        GeoJSON-like dict.  Polygon must not override a previously set bbox
        and vice versa (CHANGELOG 1.2.0 "#512"): both combine by
        intersection — we keep whichever is set and intersect semantics via
        sequential refinement."""
        if polygon is not None:
            from oshdb_spark.geometry.model import bounds

            b = bounds(polygon)
            eff = self.state.bbox_deg
            if eff is None:
                eff = b
            else:
                eff = (
                    max(eff[0], b[0]), max(eff[1], b[1]),
                    min(eff[2], b[2]), min(eff[3], b[3]),
                )
            return self._with(bbox_deg=eff, polygon=_freeze(polygon))
        if bbox is not None:
            from oshdb_spark.geometry.bbox import BoundingBox

            if isinstance(bbox, BoundingBox):
                # OSHDBBoundingBox value type (OSHDBBoundingBox.java) —
                # convert fixed-point ints to the engine's degree tuple.
                bbox = bbox.degrees()
            eff = self.state.bbox_deg
            if eff is not None:
                bbox = (
                    max(eff[0], bbox[0]), max(eff[1], bbox[1]),
                    min(eff[2], bbox[2]), min(eff[3], bbox[3]),
                )
            return self._with(bbox_deg=tuple(bbox))
        return self

    def timestamps(self, *args) -> "_MapReducer":
        """timestamps([t...]) | timestamps(start, end) |
        timestamps(start, end, "P1M") — ISO strings or epoch micros
        (OSHDBTimestamps, MapReducer.java:280-386)."""
        if len(args) == 1 and isinstance(args[0], (list, tuple)):
            ts = sorted(parse_iso(t) for t in args[0])
        elif len(args) == 2:
            ts = make_timestamps(args[0], args[1])
        elif len(args) == 3:
            ts = make_timestamps(args[0], args[1], args[2])
        else:
            raise ValueError("timestamps() takes a list, (start, end) or (start, end, period)")
        return self._with(ts=tuple(ts))

    def filter(self, f: str | Node | Column) -> "_MapReducer":
        """Semantic filter: DSL string (oshdb-filter grammar), a parsed AST
        Node, or a raw Column predicate (the escape hatch —
        MapReducer.filter(SerializablePredicate))."""
        if isinstance(f, str):
            f = parse_filter(f, self.db.translator)
        if isinstance(f, Node):
            return self._with(filters=self.state.filters + (f,))
        return self._with(raw_filters=self.state.raw_filters + (f,))

    def osm_type(self, *types: str) -> "_MapReducer":
        node = None
        for t in types:
            n = TypeFilter(t)
            node = n if node is None else OrOp(node, n)
        return self.filter(node)

    def osm_tag(self, key: str, value: str | None = None) -> "_MapReducer":
        from oshdb_spark.filters.dsl import TagEquals, TagEqualsAny

        if value is None:
            return self.filter(TagEqualsAny(key, self.db.translator))
        return self.filter(TagEquals(key, value, self.db.translator))

    def flat_map(
        self, expr: Column, name: str = "value", keep: list[str] | tuple = ()
    ) -> "_MapReducer":
        """MapReducer.flatMap (MapReducer.java:529-560): one output row per
        element of the array ``expr`` evaluates to (zero elements -> row
        dropped), alongside the ``keep`` columns.  Catalyst explode — the
        per-row callback of the reference becomes a generator expression."""
        cols = list(keep)
        return self.transform(
            lambda df: df.select(*cols, F.explode(expr).alias(name))
        )

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "_MapReducer":
        """map()/flatMap() escape hatch: an arbitrary DataFrame->DataFrame
        stage appended after the view materializes (MapReducer.java:430-476).
        Use Column expressions / pandas UDFs inside — never per-row Python."""
        return self._with(transforms=self.state.transforms + (fn,))

    def map(self, fn: Callable[[DataFrame], DataFrame]) -> "_MapReducer":
        """Reference-name alias of :meth:`transform` (MapReducer.map,
        :430-448) — the per-ROW lambda of the reference becomes a
        DataFrame->DataFrame stage here (set-at-a-time, not row-at-a-time),
        which is the whole point of the Spark re-architecture."""
        return self.transform(fn)

    def for_each(self, action: Callable) -> None:
        """Apply ``action`` to every result row (MapReducer.forEach,
        :1354-1360).  Like the reference this is a terminal consumer with
        no return value; rows stream through the driver lazily."""
        for row in self.stream():
            action(row)

    def estimated_median(self, col: str):
        """estimatedMedian (MapReducer.java:1061-1069) =
        estimatedQuantile(0.5)."""
        return self.estimated_quantile(col, 0.5)

    def is_cancelable(self) -> bool:
        """Whether queries on this backend can be canceled
        (MapReducer.isCancelable, OSHDBDatabase; the Ignite backends return
        false for some compute modes).  The Spark backend always supports
        job-group cancellation — it is what the timeout path uses
        (OSHDB.timeout)."""
        return True

    def tag_interpreter(self, interpreter: TagInterpreter) -> "_MapReducer":
        """Override the TagInterpreter used for geometry building
        (MapReducer.tagInterpreter, :220-228) for this query chain only;
        the OSHDB handle is not mutated."""
        db = OSHDB(
            self.db.spark, self.db.entities, self.db.translator, interpreter
        )
        db.timeout_s = self.db.timeout_s
        return type(self)(db, self.state)

    # -- narrowing ---------------------------------------------------------

    def _type_set(self) -> frozenset[str]:
        types = ALL_TYPES
        for node in self.state.filters:
            types = types & node.osm_types()
        return types

    def _entities(self) -> DataFrame:
        """Entities pruned to the narrowed type set PLUS member dependencies
        (ways resolve node refs, relations resolve ways and nodes — the
        reference co-stores member histories in the OSH blob, so scanning
        only grid_way still sees node data; we keep the member types)."""
        ents = self.db.entities
        types = set(self._type_set())
        if "relation" in types:
            types |= {"way", "node"}
        elif "way" in types:
            types |= {"node"}
        if types != set(ALL_TYPES):
            ents = ents.filter(F.col("type").isin(sorted(types)))
        return ents

    def _osh_prefilter(self, ents: DataFrame, nodes) -> DataFrame:
        """applyOSH-style full-history prune (oshdb-filter
        FilterInternal.applyOSH): drop entities NONE of whose versions can
        satisfy the filter's per-version upper bound, before the expensive
        member-resolution / geometry-build machinery ever sees them.  At
        scale this is the dominant prune for selective tag queries — the
        reference gets it per OSH blob; columnar, it is ANY-over-versions
        via a window over (type, id), the SAME hash partitioning every
        state builder shuffles on next (exchange reuse makes it ride an
        existing shuffle).  Member-dependency types are exempt: a node
        kept only to resolve a way's refs must survive even when it can't
        match the filter itself.

        NOT valid under include_old_style_multipolygons (a relation
        inherits its outer way's tags there, so its own versions' tags
        are not an upper bound) — that flag lives on the operator-level
        views only; if it is ever exposed here, skip this prune.
        """
        from pyspark.sql import Window

        from oshdb_spark.filters.dsl import osh_prefilter

        # a type-only conjunct bounds nothing: every prunable type below
        # lies in the narrowed set, the intersection of every conjunct's
        # type set, which _entities() has already filtered on
        ub = None
        for n in nodes:
            for conj in _conjuncts(n):
                if _type_only(conj):
                    continue
                c = osh_prefilter(conj)
                if c is not None:
                    ub = c if ub is None else (ub & c)
        if ub is None:
            return ents
        targets = set(self._type_set())
        prunable = set()
        for t in targets:
            needed_as_member = (
                ("way" in targets or "relation" in targets)
                if t == "node"
                else ("relation" in targets) if t == "way" else False
            )
            if not needed_as_member:
                prunable.add(t)
        if not prunable:
            return ents
        w = Window.partitionBy("type", "id")
        keep = F.max(ub.cast("int")).over(w) == 1
        return (
            ents.withColumn(
                "__osh_keep",
                F.when(F.col("type").isin(sorted(prunable)), keep).otherwise(
                    F.lit(True)
                ),
            )
            .filter("__osh_keep")
            .drop("__osh_keep")
        )

    # -- materialization ---------------------------------------------------

    def dataframe(self) -> DataFrame:
        df = self._materialize()
        for fn in self.state.transforms:
            df = fn(df)
        return df

    def _materialize(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def _attach_metric_columns(self, df: DataFrame) -> DataFrame:
        """Attach g_vertices/g_outers/g_inners/g_roundness/g_squareness
        columns (one Arrow pass) iff the compiled filter tree references a
        derived geometry metric — lazy geometry evaluation, columnar style
        (LazyEvaluatedObject / GeometryFilter subclasses)."""
        from oshdb_spark.filters.dsl import metrics_needed

        needed: set[str] = set()
        for n in self.state.filters:
            needed |= metrics_needed(n)
        if not needed:
            return df
        from oshdb_spark.operators.geometry_ops import geometry_metrics_udf

        geom = (
            F.col("geom") if "geom" in df.columns
            else F.lit(None).cast("binary")
        )
        m = geometry_metrics_udf()(geom, F.col("wkt"))
        for c in ("g_vertices", "g_outers", "g_inners", "g_roundness",
                  "g_squareness"):
            df = df.withColumn(c, m[c])
        return df

    def _apply_polygon(self, df: DataFrame) -> DataFrame:
        if self.state.polygon is None:
            return df
        from oshdb_spark.geometry.model import bounds as _bounds
        from oshdb_spark.operators.geometry_ops import (
            clip_polygon_udf,
            intersects_polygon_udf,
        )

        poly = _thaw(self.state.polygon)
        geom = (
            F.col("geom") if "geom" in df.columns
            else F.lit(None).cast("binary")
        )
        if "minx" in df.columns:
            # JVM-side bbox-overlap gate (bboxOutsidePolygon pre-filter,
            # CellIterator.java:529-531): the exact intersects UDF decodes
            # only candidate rows; the bbox columns are internal-only
            pb = _bounds(poly)
            cand = (
                F.col("minx").isNotNull()
                & (F.col("maxx") >= float(pb[0]))
                & (F.col("minx") <= float(pb[2]))
                & (F.col("maxy") >= float(pb[1]))
                & (F.col("miny") <= float(pb[3]))
            )
            hit = intersects_polygon_udf(poly)(
                F.when(cand, geom), F.when(cand, F.col("wkt"))
            )
            df = df.filter(cand & F.coalesce(hit, F.lit(False))).drop(
                "minx", "miny", "maxx", "maxy"
            )
        else:
            df = df.filter(intersects_polygon_udf(poly)(geom, F.col("wkt")))
        # geometryClipped-to-polygon (OSHDBGeometryBuilder.getGeometryClipped,
        # :110-137): exact for arbitrary (Multi)Polygon AOIs — convex fast
        # path or triangle-decomposed general clip (geometry/polyclip); the
        # clipped WKT is materialized from the packed result in one pass
        from oshdb_spark.operators.geometry_ops import to_wkt_udf

        cu = clip_polygon_udf(poly)
        df = (
            df.withColumn("pc", cu(geom, F.col("wkt")))
            .withColumn("clipped_wkt", to_wkt_udf()(F.col("pc.clipped_geom")))
            .withColumn("clipped_area", F.col("pc.clipped_area"))
            .withColumn("clipped_length", F.col("pc.clipped_length"))
            .drop("pc")
        )
        return df

    # -- terminal reducers (global; MapReducer.java:1000-1283) -------------

    def _action(self, fn):
        """Run a driver-side terminal action under the db's query timeout
        (no-op when OSHDB.timeout() is unset)."""
        return _run_with_timeout(self.db.spark, self.db.timeout_s, fn)

    def _agg_scalar(self, agg: Column):
        row = self._action(
            lambda: self.dataframe().agg(agg.alias("v")).collect()
        )[0]
        return row["v"]

    def count(self) -> int:
        return int(self._agg_scalar(F.count(F.lit(1))))

    def reduce(self, identity_supplier, accumulator, combiner):
        """Arbitrary-monoid reduce (MapReducer.reduce(identitySupplier,
        accumulator, combiner), MapReducer.java:834-935): the accumulator
        folds Arrow batches per partition, the combiner merges the
        per-partition partials driver-side.  See
        operators/aggregations.generic_reduce."""
        from oshdb_spark.operators.aggregations import generic_reduce

        return self._action(
            lambda: generic_reduce(
                self.dataframe(), identity_supplier, accumulator, combiner
            )
        )

    def sum(self, col: str | Column):
        return self._agg_scalar(F.sum(col))

    def average(self, col: str | Column):
        return self._agg_scalar(F.avg(col))

    def weighted_average(self, value: str, weight: str):
        return self._agg_scalar(
            F.sum(F.col(value) * F.col(weight)) / F.sum(F.col(weight))
        )

    def count_uniq(self, col: str | Column) -> int:
        return int(self._agg_scalar(F.countDistinct(col)))

    def count_uniq_approx(self, col: str | Column, rsd: float = 0.02) -> int:
        """HyperLogLog++ estimate of countUniq (beyond-reference scale
        path; the reference's countUniq — MapReducer.java:956-974,
        countUniq = reduce over Set::add — is exact and so is
        :meth:`count_uniq`).  At 100-TB scale an exact distinct shuffles
        every distinct key; the HLL sketch is a fixed-size partial that
        combines map-side, so the shuffle carries one sketch per
        partition regardless of cardinality.  ``rsd`` is the target
        relative standard deviation (Spark's approx_count_distinct)."""
        return int(self._agg_scalar(F.approx_count_distinct(col, rsd)))

    def uniq(self, col: str | Column) -> set:
        return set(self._agg_scalar(F.collect_set(col)))

    def estimated_quantile(self, col: str, q: float):
        return self._agg_scalar(F.percentile_approx(col, q, 10000))

    def estimated_quantiles(self, col: str, qs: list[float]) -> list:
        return list(self._agg_scalar(F.percentile_approx(col, qs, 10000)))

    def stream(self):
        """Lazily iterate result rows (MapReducer.stream, :1310-1432)."""
        return self.dataframe().toLocalIterator()

    def group_by_entity(self) -> DataFrame:
        """All rows of one OSM entity as a timestamp-sorted list
        (MapReducer.groupByEntity, :585-623)."""
        df = self.dataframe()
        ts_col = "snap_ts" if "snap_ts" in df.columns else "ts"
        payload = [c for c in df.columns if c not in ("type", "id")]
        collected = F.collect_list(F.struct(F.col(ts_col).alias("__ts"), *payload))
        # comparator on __ts only: the struct contains map columns which are
        # not naturally orderable
        ordered = F.array_sort(
            collected,
            lambda a, b: F.when(a["__ts"] < b["__ts"], F.lit(-1))
            .when(a["__ts"] > b["__ts"], F.lit(1))
            .otherwise(F.lit(0)),
        )
        return df.groupBy("type", "id").agg(ordered.alias("rows"))

    # -- grouped reducers --------------------------------------------------

    def aggregate_by_timestamp(
        self, indexer: Column | str | None = None
    ) -> "MapAggregator":
        """Automatic (snapshot ts / contribution interval floor) or CUSTOM
        time index (MapReducer.aggregateByTimestamp(indexer),
        MapReducer.java:703-733): a custom ``indexer`` column is validated
        against the requested interval — a value outside
        [first, last] fails the query (OSHDBInvalidTimestampException
        parity, surfaced via raise_error at execution) — then floored to
        the requested timestamp list."""
        key = "snap_ts" if self._VIEW == "snapshot" else "interval_ts"
        if self._VIEW == "snapshot":
            zf = list(self.state.ts)
        else:
            zf = list(self.state.ts)[:-1]  # interval starts (MapReducer.java:1775-1783)

        if indexer is not None:
            ts_list = list(self.state.ts)
            raw = F.col(indexer) if isinstance(indexer, str) else indexer

            def bucket_custom(df: DataFrame) -> DataFrame:
                from oshdb_spark.operators.aggregations import floor_to_timestamps

                bad = (
                    raw.isNull()
                    | (raw < F.lit(int(ts_list[0])))
                    | (raw > F.lit(int(ts_list[-1])))
                )
                return df.withColumn(
                    key,
                    F.when(
                        bad,
                        F.raise_error(
                            F.lit(
                                "Aggregation timestamp outside of time query interval."
                            )
                        ).cast("long"),
                    ).otherwise(floor_to_timestamps(raw, zf)),
                )

            return MapAggregator(
                self, keys=[key], zerofill_keys={key: zf}, pre=bucket_custom
            )

        agg = MapAggregator(self, keys=[key], zerofill_keys={key: zf})

        if self._VIEW == "contribution":
            ts_list = list(self.state.ts)

            def bucket(df: DataFrame) -> DataFrame:
                from oshdb_spark.operators.aggregations import floor_to_timestamps

                return df.withColumn(
                    "interval_ts", floor_to_timestamps(F.col("ts"), ts_list[:-1])
                ).filter(
                    F.col("interval_ts").isNotNull()
                    & (F.col("ts") < F.lit(int(ts_list[-1])))
                )

            agg = MapAggregator(self, keys=["interval_ts"], zerofill_keys={"interval_ts": zf}, pre=bucket)
        return agg

    def aggregate_by(
        self, col: str | Column, name: str | None = None, keys: list | None = None
    ) -> "MapAggregator":
        """Arbitrary indexer (MapReducer.aggregateBy, :637-660); ``keys``
        enables zerofill for the requested key list."""
        if isinstance(col, str):
            name = name or col
            expr = F.col(col)
        else:
            if name is None:
                raise ValueError("aggregate_by(Column) requires name=")
            expr = col

        def pre(df: DataFrame) -> DataFrame:
            return df.withColumn(name, expr)

        return MapAggregator(
            self,
            keys=[name],
            zerofill_keys={name: keys} if keys is not None else None,
            pre=pre,
        )

    def aggregate_by_geometry(
        self, zones: dict[str, dict], clip: bool = False
    ) -> "MapAggregator":
        """Zonal split (aggregateByGeometry, MapReducer.java:748-784 +
        GeometrySplitter): the small zone dict is evaluated per feature via
        the vectorized intersects kernel; one row per (zone, feature);
        zerofill over all zone keys.

        ``clip=True`` additionally clips each feature to each matched zone
        (GeometrySplitter.java:120-137 clips via FastPolygonOperations) into
        ``zone_clipped_wkt/area/length``; zones may be arbitrary
        (Multi)Polygons — non-convex/holed zones route through the
        triangle-decomposed general clipper (geometry/polyclip)."""
        zone_items = sorted(zones.items())

        def pre(df: DataFrame) -> DataFrame:
            from oshdb_spark.operators.zonal import zone_clip_udf, zones_match_udf

            # ONE Arrow pass regardless of zone count: ZoneIndex candidate
            # lookup (the STRtree of GeometrySplitter.java:46-95) + exact
            # intersects on candidates, emitting the matched keys as an
            # array that explodes to one row per (zone, feature); the UDFs
            # decode the packed geom bytes, not WKT (text parse only on
            # node fast-path rows that carry no geom)
            geom = (
                F.col("geom") if "geom" in df.columns
                else F.lit(None).cast("binary")
            )
            df = df.withColumn(
                "zone_key",
                F.explode(zones_match_udf(zone_items)(geom, F.col("wkt"))),
            )
            if clip:
                cu = zone_clip_udf(zone_items)
                df = (
                    df.withColumn("__zc", cu(geom, F.col("wkt"), F.col("zone_key")))
                    .withColumn("zone_clipped_wkt", F.col("__zc.clipped_wkt"))
                    .withColumn("zone_clipped_area", F.col("__zc.clipped_area"))
                    .withColumn("zone_clipped_length", F.col("__zc.clipped_length"))
                    .drop("__zc")
                )
            return df

        return MapAggregator(
            self,
            keys=["zone_key"],
            zerofill_keys={"zone_key": [k for k, _ in zone_items]},
            pre=pre,
        )


def _freeze(obj):
    if isinstance(obj, dict):
        return tuple(sorted((k, _freeze(v)) for k, v in obj.items()))
    if isinstance(obj, (list, tuple)):
        return tuple(_freeze(v) for v in obj)
    return obj


def _thaw(obj):
    if isinstance(obj, tuple) and obj and isinstance(obj[0], tuple) and len(obj[0]) == 2 and isinstance(obj[0][0], str):
        return {k: _thaw(v) for k, v in obj}
    if isinstance(obj, tuple):
        return [_thaw(v) for v in obj]
    return obj


class SnapshotView(_MapReducer):
    """OSMEntitySnapshotView: entity state at each query timestamp."""

    _VIEW = "snapshot"

    def _materialize(self) -> DataFrame:
        if not self.state.ts:
            raise ValueError("snapshot view requires timestamps(...)")
        df = snapshot_view(
            self._osh_prefilter(self._entities(), self.state.filters),
            list(self.state.ts),
            bbox_deg=self.state.bbox_deg,
            interpreter=self.db.interpreter,
            keep_bbox=self.state.polygon is not None,
            types=self._type_set(),
        )
        df = self._attach_metric_columns(df)
        # version/geometry predicate on the UNCLIPPED state
        # (FilterExpression.java:87-89)
        for node in self.state.filters:
            df = df.filter(node.osm_column())
        for c in self.state.raw_filters:
            df = df.filter(c)
        return self._apply_polygon(df)


class ContributionView(_MapReducer):
    """OSMContributionView: one row per modification in the interval."""

    _VIEW = "contribution"

    def _materialize(self) -> DataFrame:
        if len(self.state.ts) < 2:
            raise ValueError("contribution view requires timestamps(start, end)")
        t0, t1 = min(self.state.ts), max(self.state.ts)
        # split: tag/type/geometry selectors participate in aliveness
        # (filtered creations/deletions, CellIterator.java:642-659);
        # changeset:/contributor: selectors post-filter the contribution rows
        # (FilterParser.java:52 — only valid on the contribution view)
        alive_nodes, post_nodes = [], []
        for node in self.state.filters:
            for c in _conjuncts(node):
                (post_nodes if _has_contrib_selector(c) else alive_nodes).append(c)
        from oshdb_spark.filters.dsl import metrics_needed

        # derived geometry metrics (vertices/outers/inners/roundness/
        # squareness) participate in aliveness like any other geometry
        # predicate (FilterExpression.java:98-113): contribution_view
        # attaches the metric columns to every event state when needed
        needs_metrics = any(metrics_needed(c) for c in alive_nodes)
        from oshdb_spark.filters.dsl import compile_with_packed_geom

        # event states carry PACKED way/relation geometry (null wkt), so
        # geometry:-type selectors compile against the packed header byte
        match = None
        for n in alive_nodes:
            c = compile_with_packed_geom(n)
            match = c if match is None else (match & c)
        # the AOI participates in ALIVENESS: a geometry moving out of the
        # bbox/polygon is a DELETION, moving in a CREATION
        # (CellIterator.java:665-679 "geometry became empty in AOI").
        # JVM-side three-way classification against the state bbox columns
        # (CellIterator.java:417-459 short-circuits): fully inside -> alive,
        # fully outside / empty -> not, and the Python clip UDF sees only
        # BORDER rows (null-gated Arrow batch) — the same single-pass shape
        # as the snapshot view's clip stage
        clip_col = None
        if self.state.bbox_deg is not None and self.state.polygon is None:
            from oshdb_spark.operators.geometry_ops import clip_udf

            bminx, bminy, bmaxx, bmaxy = (
                float(v) for v in self.state.bbox_deg
            )
            has_b = F.col("minx").isNotNull()
            inside = (
                (F.col("minx") >= bminx) & (F.col("miny") >= bminy)
                & (F.col("maxx") <= bmaxx) & (F.col("maxy") <= bmaxy)
            )
            outside = (
                (F.col("maxx") < bminx) | (F.col("minx") > bmaxx)
                | (F.col("maxy") < bminy) | (F.col("miny") > bmaxy)
            )
            # border rows are always ways/relations (a node's degenerate
            # bbox is never border), so the clip gate reads packed bytes.
            # ONE clipped-geometry column serves both aliveness (clip
            # empty <=> outside the AOI) and GEOMETRY_CHANGE detection —
            # the reference classifies on the CLIPPED geometry
            # (CellIterator.java:685-697), so a member change entirely
            # outside the box yields an empty-activity contribution.
            # 1-byte marker for outside/empty rows; packed bytes (border)
            # or the unclipped binary (fully inside, clip == identity).
            border = has_b & ~inside & ~outside
            cu = clip_udf(self.state.bbox_deg)
            clip_col = (
                F.when(border, cu(F.when(border, F.col("geom")))["clipped_geom"])
                .when(
                    has_b & inside,
                    F.coalesce(F.col("geom"), F.col("wkt").cast("binary")),
                )
                .otherwise(F.lit(b"\x00"))
            )
            # classify materializes clip_col as __clip_bin before applying
            # the aliveness match, so the clip UDF runs exactly once
            aoi = F.length(F.col("__clip_bin")) > 5
            match = aoi if match is None else (match & aoi)
        if self.state.polygon is not None:
            # polygon AOI: SAME materialize-clipped-binary-then-compare
            # shape as the bbox path — GEOMETRY_CHANGE compares the
            # geometries CLIPPED to the polygon (CellIterator.java:685-697),
            # so a member change entirely outside the AOI yields an
            # empty-activity contribution, and aliveness is clip-non-empty
            # (CellIterator.java:665-679).  JVM-side envelope gate (the
            # bboxOutsidePolygon pre-filter, CellIterator.java:529-531)
            # keeps the Python clipper off rows that can't overlap; the
            # effective bbox (envelope, or a narrower user bbox — AOIs
            # combine by intersection, CHANGELOG 1.2.0 "#512") feeds both
            # the gate and the clipper's pre-clip.
            from oshdb_spark.geometry.model import bounds as _bounds
            from oshdb_spark.operators.geometry_ops import clip_polygon_udf

            poly = _thaw(self.state.polygon)
            pb = _bounds(poly)
            eff = self.state.bbox_deg or tuple(float(v) for v in pb)
            pre_bbox = None
            if (
                eff[0] > pb[0] or eff[1] > pb[1]
                or eff[2] < pb[2] or eff[3] < pb[3]
            ):
                pre_bbox = eff
            cand = (
                F.col("minx").isNotNull()
                & (F.col("maxx") >= float(eff[0]))
                & (F.col("minx") <= float(eff[2]))
                & (F.col("maxy") >= float(eff[1]))
                & (F.col("miny") <= float(eff[3]))
            )
            cpu = clip_polygon_udf(poly, pre_bbox=pre_bbox)
            # 1-byte marker for envelope-disjoint rows; packed (possibly
            # typed-empty, 5-byte) clip output for candidates.  classify
            # materializes this once as __clip_bin (one Arrow pass).
            clip_col = (
                F.when(
                    cand,
                    cpu(
                        F.when(cand, F.col("geom")),
                        F.when(cand, F.col("wkt")),
                    )["clipped_geom"],
                )
                .otherwise(F.lit(b"\x00"))
            )
            aoi = F.length(F.col("__clip_bin")) > 5
            match = aoi if match is None else (match & aoi)
        types = self._type_set()
        df = contribution_view(
            self._osh_prefilter(self._entities(), alive_nodes),
            t0,
            t1,
            interpreter=self.db.interpreter,
            types=types,
            osm_filter=match,
            attach_metrics=needs_metrics,
            clip_col=clip_col,
        )
        for n in post_nodes:
            df = df.filter(n.osm_column())
        for c in self.state.raw_filters:
            df = df.filter(c)
        if self.state.polygon is not None:
            # polygon output clip (getGeometryClipped to the AOI polygon):
            # typed EMPTY for envelope-disjoint rows, the exact polygon
            # clipper on candidates only (bbox in/out short-circuits inside
            # the UDF); same cand/poly/pre_bbox as the aliveness stage
            from oshdb_spark.operators.geometry_ops import to_wkt_udf

            empty_wkt = F.concat(
                F.regexp_extract("wkt", "^[A-Z]+", 0), F.lit(" EMPTY")
            )
            df = (
                df.withColumn(
                    "c",
                    cpu(F.when(cand, F.col("geom")), F.when(cand, F.col("wkt"))),
                )
                .withColumn(
                    "clipped_wkt",
                    F.when(~cand, empty_wkt).otherwise(
                        to_wkt_udf()(F.col("c.clipped_geom"))
                    ),
                )
                .drop("c")
            )
        elif self.state.bbox_deg is not None:
            # single-pass output clip: identity for fully-inside rows,
            # typed EMPTY for fully-outside, Python only on border rows
            # (always ways/relations, so the clip UDF reads packed bytes
            # and the WKT materializes from the packed result)
            from oshdb_spark.operators.geometry_ops import clip_udf, to_wkt_udf

            bminx, bminy, bmaxx, bmaxy = (
                float(v) for v in self.state.bbox_deg
            )
            has_b = F.col("minx").isNotNull()
            inside = (
                (F.col("minx") >= bminx) & (F.col("miny") >= bminy)
                & (F.col("maxx") <= bmaxx) & (F.col("maxy") <= bmaxy)
            )
            outside = (
                (F.col("maxx") < bminx) | (F.col("minx") > bmaxx)
                | (F.col("maxy") < bminy) | (F.col("miny") > bmaxy)
            )
            border = has_b & ~inside & ~outside
            empty_wkt = F.concat(
                F.regexp_extract("wkt", "^[A-Z]+", 0), F.lit(" EMPTY")
            )
            cu = clip_udf(self.state.bbox_deg)
            df = (
                df.withColumn("c", cu(F.when(border, F.col("geom"))))
                .withColumn(
                    "clipped_wkt",
                    F.when(~has_b | inside, F.col("wkt"))
                    .when(outside, empty_wkt)
                    .otherwise(to_wkt_udf()(F.col("c.clipped_geom"))),
                )
                .drop("c")
            )
        return df


class MapAggregator:
    """Grouped reducers with zerofill (MapAggregator.java:78-890).

    Chain further ``aggregate_by`` calls for combined (nested) indices
    (OSHDBCombinedIndex) — multi-column groupBy natively.
    """

    def __init__(
        self,
        parent: _MapReducer,
        keys: list[str],
        zerofill_keys: dict[str, list] | None,
        pre: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.parent = parent
        self.keys = keys
        self.zerofill_keys = zerofill_keys or {}
        self.pres = [pre] if pre else []

    def aggregate_by(
        self, col: str | Column, name: str | None = None, keys: list | None = None
    ) -> "MapAggregator":
        if isinstance(col, str):
            name = name or col
            expr = F.col(col)
        else:
            if name is None:
                raise ValueError("aggregate_by(Column) requires name=")
            expr = col
        out = MapAggregator(self.parent, self.keys + [name], dict(self.zerofill_keys))
        out.pres = self.pres + [lambda df: df.withColumn(name, expr)]
        if keys is not None:
            out.zerofill_keys[name] = keys
        return out

    def aggregate_by_timestamp(self, indexer: Column | str | None = None) -> "MapAggregator":
        """Append the time index to an existing aggregation (the
        aggregateBy(...).aggregateByTimestamp(...) chain order of
        MapAggregator.java:258-290 — combined indices commute)."""
        inner = self.parent.aggregate_by_timestamp(indexer)
        out = MapAggregator(
            self.parent,
            self.keys + inner.keys,
            {**self.zerofill_keys, **inner.zerofill_keys},
        )
        out.pres = self.pres + inner.pres
        return out

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "MapAggregator":
        """Row-level map AFTER the aggregation index is set
        (MapAggregator.map, MapAggregator.java:551-563) — same rows, same
        groups, extra/mapped value columns."""
        out = MapAggregator(self.parent, list(self.keys), dict(self.zerofill_keys))
        out.pres = self.pres + [fn]
        return out

    def _df(self) -> DataFrame:
        df = self.parent.dataframe()
        for p in self.pres:
            df = p(df)
        return df

    def _reduce(self, aggs: list[Column], fills: dict[str, object]) -> DataFrame:
        res = self._df().groupBy(*self.keys).agg(*aggs)
        if self.zerofill_keys and set(self.zerofill_keys) == set(self.keys):
            res = zerofill(res, self.parent.db.spark, self.zerofill_keys, fills)
        return res.orderBy(*self.keys)

    def count(self, name: str = "cnt") -> DataFrame:
        return self._reduce([F.count(F.lit(1)).alias(name)], {name: 0})

    def sum(self, col: str, name: str | None = None) -> DataFrame:
        name = name or f"sum_{col}"
        return self._reduce([F.sum(col).alias(name)], {name: 0})

    def average(self, col: str, name: str | None = None) -> DataFrame:
        name = name or f"avg_{col}"
        return self._reduce([F.avg(col).alias(name)], {})

    def weighted_average(
        self, value: str, weight: str, name: str = "weighted_avg"
    ) -> DataFrame:
        return self._reduce([weighted_avg_agg(value, weight, name)], {})

    def count_uniq(self, col: str, name: str | None = None) -> DataFrame:
        name = name or f"count_uniq_{col}"
        return self._reduce([count_uniq_agg(col, name)], {name: 0})

    def count_uniq_approx(
        self, col: str, rsd: float = 0.02, name: str | None = None
    ) -> DataFrame:
        """Per-group HyperLogLog++ countUniq (see
        :meth:`_MapReducer.count_uniq_approx`): fixed-size sketch partials
        instead of a per-distinct-key shuffle."""
        name = name or f"approx_uniq_{col}"
        return self._reduce(
            [F.approx_count_distinct(col, rsd).alias(name)], {name: 0}
        )

    def uniq(self, col: str, name: str | None = None) -> DataFrame:
        name = name or f"uniq_{col}"
        return self._reduce(
            [F.collect_set(col).alias(name)], {}
        )

    def estimated_quantile(self, col: str, q: float, name: str | None = None) -> DataFrame:
        name = name or f"q{int(q * 100)}_{col}"
        return self._reduce([quantile_agg(col, q, name)], {})

    def estimated_quantiles(
        self, col: str, qs: list[float], name: str | None = None
    ) -> DataFrame:
        """Per-group quantile list in ONE sketch pass
        (MapAggregator.estimatedQuantiles, MapAggregator.java:714-736)."""
        from oshdb_spark.operators.aggregations import quantiles_agg

        name = name or f"quantiles_{col}"
        return self._reduce([quantiles_agg(col, qs, name)], {})

    def collect(self, col: str, name: str | None = None) -> DataFrame:
        """Per-group list of values (MapAggregator.collect,
        MapAggregator.java:539-548)."""
        name = name or f"collect_{col}"
        return self._reduce([F.collect_list(col).alias(name)], {})

    def reduce(self, identity_supplier, accumulator, combiner) -> dict:
        """Grouped arbitrary-monoid reduce (MapAggregator.reduce,
        MapAggregator.java:455-531): {group key: folded state}, zerofilled
        with fresh identities for absent requested keys.  See
        operators/aggregations.generic_reduce_by for the distributed
        shape (per-partition per-key partials, driver combine)."""
        from oshdb_spark.operators.aggregations import generic_reduce_by

        df = self._df()
        out = _run_with_timeout(
            self.parent.db.spark,
            self.parent.db.timeout_s,
            lambda: generic_reduce_by(
                df, self.keys, identity_supplier, accumulator, combiner
            ),
        )
        if self.zerofill_keys and set(self.zerofill_keys) == set(self.keys):
            import itertools

            combos = itertools.product(
                *[self.zerofill_keys[k] for k in self.keys]
            )
            for combo in combos:
                key = combo[0] if len(self.keys) == 1 else combo
                if key not in out:
                    out[key] = identity_supplier()
        return out

    def collect_map(self, value_df: DataFrame | None = None, reducer: str = "count") -> dict:
        """SortedMap-style result: {key(-tuple): value} from a 2+-column
        grouped result DataFrame."""
        df = value_df if value_df is not None else self.count()
        rows = _run_with_timeout(
            self.parent.db.spark, self.parent.db.timeout_s, df.collect
        )
        out = {}
        for r in rows:
            key = tuple(r[k] for k in self.keys)
            val = r[df.columns[-1]]
            out[key[0] if len(key) == 1 else key] = val
        return dict(sorted(out.items(), key=lambda kv: (kv[0] is None, kv[0])))
