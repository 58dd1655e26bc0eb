"""The three benchmark workloads.

Each workload drives the engine only through its public entry points
(``pipeline``, ``api``, ``operators``, ``sources``, ``streaming``) and has:

* ``generate()``  — inputs from the seed (repeated during set-up);
* ``prepare()``   — the rest of set-up: store ETL, oracles, warm-up;
* ``measure(s)``  — the untraced closed loop, for ``s`` seconds;
* ``cycle()``     — one fixed round of operations (the traced run's unit);
* ``trace_cycle(tracer)`` — the same round re-composed from layer calls,
  with ``localCheckpoint`` at every layer boundary;
* ``check()``     — oracle comparisons not already done inline.

Every operation outcome is recorded as attempted/failed; a wrong answer is
a failure.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
from hostenv import tree_cpu_s
from pyspark.sql import functions as F

SCALES = {
    # tile_join docs (before the seeded 7/8 sample), aoi features, etl features
    "full": {"tile_docs": 40_000, "aoi_features": 600, "etl_features": 1000},
    "tiny": {"tile_docs": 6_000, "aoi_features": 120, "etl_features": 150},
}

T0 = 1262304000  # 2010-01-01, start of the generator's history
YEAR = 365 * 86400
TS6 = [T0 + k * 2 * YEAR for k in range(6)]


def bbox_osm(b):
    return tuple(int(round(v * 1e7)) for v in b)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def clocked(fn):
    """``(result, wall s, CPU s)`` of one call; the CPU time is that of the
    whole process tree (driver, JVM, Python workers) over the call."""
    c, t = tree_cpu_s(), time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t
    return out, wall, tree_cpu_s() - c


def mix(samples: dict, docs: int) -> tuple[float, float]:
    """From each operation type's median (``samples`` maps type -> the
    samples of one run): their geometric mean, where every type weighs the
    same whatever its cost; and ``docs`` over their arithmetic mean, the
    rate of a mix with one operation of each type.  Both are steadier than
    one median over a pooled set of unlike operations, whose middle sample
    jumps between types from run to run."""
    meds = [median(v) for v in samples.values()]
    return float(np.exp(np.mean(np.log(meds)))), docs / statistics.mean(meds)


def contract(walls: dict, cpus: dict, docs: int) -> tuple[dict, list]:
    """The end-to-end metrics every workload emits, from the CPU seconds
    per operation, and the same two figures from the walls as report lines."""
    cpu_gm, cpu_rate = mix(cpus, docs)
    wall_gm, wall_rate = mix(walls, docs)
    return ({"op_cpu_gmean_s": cpu_gm, "docs_per_cpu_s": cpu_rate},
            [("op_p50_gmean_s", wall_gm, "s"), ("docs_per_s", wall_rate, "docs/s")])


def perturb(v):
    if isinstance(v, dict) and v:
        k = sorted(v)[0]
        return {**v, k: perturb(v[k])}
    if isinstance(v, list):
        return v[1:] + [-1]
    return v + 1


def repeats(seconds: float, nominal_s: float) -> int:
    """How many times to repeat a unit of work of ``nominal_s`` seconds (as
    measured on a 4-core host) to fill ``seconds``.  The count depends only
    on the arguments, never on a clock, so every run of a workload measures
    the same number of samples and a slow window cannot drop one."""
    return max(1, int(seconds // nominal_s))


class Outcomes:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, scale: str, cores: int,
                 corrupt: bool = False):
        self.spark = spark
        self.seed = seed
        self.work = os.path.join(work, self.name)
        self.size = SCALES[scale]
        self.cores = cores
        self.corrupt = corrupt  # perturb one answer so the checks must fail
        self.out = Outcomes()
        os.makedirs(self.work, exist_ok=True)

    def rng(self, *salt) -> np.random.Generator:
        return np.random.default_rng([self.seed, *salt])

    def _maybe_corrupt(self, value):
        """The first answer checked is perturbed when ``corrupt`` is set."""
        if self.corrupt:
            self.corrupt = False
            return perturb(value)
        return value

    def check(self) -> None:
        pass


# ---------------------------------------------------------------------------
# tile_join: extraction + tiling + spatial join on Spark-synthesized nodes
# ---------------------------------------------------------------------------


class TileJoin(Workload):
    """``pipeline.tile_assign_throughput`` and ``tile_join_throughput`` over
    ``sources.docs.synthesize_bench_docs`` docs and a seeded AOI."""

    name = "tile_join"
    PAIR_S = 5.0  # one assign + one join, warm

    def generate(self) -> None:
        from oshdb_spark.sources.docs import synthesize_bench_docs

        keep = F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(8)) != 0
        docs = (
            synthesize_bench_docs(self.spark, self.size["tile_docs"])
            .filter(keep)
            .repartition(2 * self.cores)
            .localCheckpoint()
        )
        self.n_docs = docs.count()
        self.docs = docs
        r = self.rng(0)
        cx, cy = r.uniform(-100, 100), r.uniform(-40, 40)
        hw, hh = r.uniform(30, 60), r.uniform(15, 35)
        self.bbox = (max(cx - hw, -180.0), max(cy - hh, -90.0),
                     min(cx + hw, 180.0), min(cy + hh, 90.0))

    def prepare(self) -> None:
        from oshdb_spark.operators.tiling import cell_rect_filter, xy_insert_cell_col
        from oshdb_spark.sources.entities import extract_entities

        # oracle: the all-JVM Column insert-cell path on the same nodes
        b = bbox_osm(self.bbox)
        nodes = extract_entities(self.docs).filter(
            (F.col("type") == "node")
            & (F.col("lon") >= b[0]) & (F.col("lon") <= b[2])
            & (F.col("lat") >= b[1]) & (F.col("lat") <= b[3]))
        c = xy_insert_cell_col(F.col("lon"), F.col("lat"), F.col("lon"), F.col("lat"))
        # checkpoint before the cell predicate: pushed through the
        # projection it would inline one copy of the CASE per reference
        tiled = nodes.withColumn("c", c).select(
            F.col("c.cell_zoom").alias("cell_zoom"),
            F.col("c.cell_id").alias("cell_id")).localCheckpoint()
        ref = tiled.filter(cell_rect_filter(b)).groupBy("cell_zoom").count().collect()
        self.expected = {int(r["cell_zoom"]): int(r["count"]) for r in ref}
        # warm-up, one checked run of each path on all the docs: JIT,
        # codegen and the Python workers of the insert-cell kernel
        for kind in ("assign", "join"):
            self._run(kind)

    @staticmethod
    def _path(kind: str):
        from oshdb_spark.pipeline import tile_assign_throughput, tile_join_throughput

        return tile_assign_throughput if kind == "assign" else tile_join_throughput

    def _run(self, kind: str) -> tuple[float, float]:
        fn = self._path(kind)
        self.spark.catalog.clearCache()
        rows, wall, cpu = clocked(lambda: fn(self.spark, self.docs, self.bbox).collect())
        self._check_rows(kind, rows)
        return wall, cpu

    def _check_rows(self, kind: str, rows) -> None:
        got: dict[int, int] = {}
        for r in rows:
            got[int(r[0])] = got.get(int(r[0]), 0) + int(r[-1])
        got = self._maybe_corrupt(got)
        self.out.record(got == self.expected, f"{kind}: {got} != {self.expected}")

    def measure(self, seconds: float) -> dict:
        walls = {"assign": [], "join": []}
        cpus = {"assign": [], "join": []}
        for _ in range(repeats(seconds, self.PAIR_S)):
            for kind in walls:
                wall, cpu = self._run(kind)
                walls[kind].append(wall)
                cpus[kind].append(cpu)
        assign_rate = self.n_docs / median(walls["assign"])
        join_rate = self.n_docs / median(walls["join"])
        metrics, lines = contract(walls, cpus, self.n_docs)
        return {
            "contract": metrics,
            "report": lines + [
                ("assign_docs_per_s", assign_rate, "docs/s"),
                ("join_docs_per_s", join_rate, "docs/s"),
                ("n_docs", self.n_docs, "docs"),
                ("assign_walls", walls["assign"], "s"),
                ("join_walls", walls["join"], "s"),
                ("assign_cpus", cpus["assign"], "s"),
                ("join_cpus", cpus["join"], "s"),
            ],
        }

    def cycle(self) -> None:
        for kind in ("assign", "join"):
            self._run(kind)

    def trace_cycle(self, tr) -> dict:
        from oshdb_spark.operators.tiling import (
            cell_rect_filter,
            lifetime_bboxes,
            xy_insert_cell_udf,
        )
        from oshdb_spark.sources.entities import extract_entities

        b = bbox_osm(self.bbox)
        c = {"extract.rows": 0, "insert_cell_udf.rows": 0,
             "cell_prune.rows_in": 0, "cell_prune.rows_out": 0}
        in_box = ((F.col("maxlon") >= b[0]) & (F.col("minlon") <= b[2])
                  & (F.col("maxlat") >= b[1]) & (F.col("minlat") <= b[3]))
        for kind in ("assign", "join"):
            self.spark.catalog.clearCache()
            with tr.span("op." + kind):
                with tr.span("extract"):
                    ents = extract_entities(self.docs).localCheckpoint()
                    c["extract.rows"] += ents.count()
                if kind == "assign":
                    boxes = ents.filter(F.col("type") == "node").select(
                        "type", "id",
                        F.col("lon").alias("minlon"), F.col("lat").alias("minlat"),
                        F.col("lon").alias("maxlon"), F.col("lat").alias("maxlat"))
                else:
                    with tr.span("lifetime_bboxes"):
                        boxes = lifetime_bboxes(ents).localCheckpoint()
                        boxes.count()
                with tr.span("insert_cell_udf"):
                    udf = xy_insert_cell_udf()
                    tiled = boxes.withColumn(
                        "c", udf("minlon", "minlat", "maxlon", "maxlat")
                    ).select("type", "id", "minlon", "minlat", "maxlon", "maxlat",
                             F.col("c.cell_zoom").alias("cell_zoom"),
                             F.col("c.cell_id").alias("cell_id")).localCheckpoint()
                    n_tiled = tiled.count()
                    c["insert_cell_udf.rows"] += n_tiled
                with tr.span("cell_prune"):
                    pruned = tiled.filter(cell_rect_filter(b)).filter(in_box)
                    pruned = pruned.localCheckpoint()
                    c["cell_prune.rows_in"] += n_tiled
                    c["cell_prune.rows_out"] += pruned.count()
                with tr.span("aggregate"):
                    keys = ["cell_zoom"] if kind == "assign" else ["cell_zoom", "type"]
                    rows = pruned.groupBy(*keys).agg(F.count(F.lit(1))).collect()
                self._check_rows(kind, rows)
        self.spark.catalog.clearCache()
        c["cell_prune.keep_ratio"] = c["cell_prune.rows_out"] / max(c["cell_prune.rows_in"], 1)
        return c


# ---------------------------------------------------------------------------
# aoi_queries: analyst traffic through OSHDB.from_store
# ---------------------------------------------------------------------------

TAG_KEYS = {"building": 2, "highway": 3, "name": 7, "amenity": 8, "area": 1}
NODES = "type:node"
BUILDINGS = "type:way and building=*"

# one client, closed loop, one query of each type per round.  The type
# order is fixed and the snapshot filters alternate between rounds; the
# AOIs, query points, zone splits and timestamps are seeded per position
ROUND = ("snapshot_bbox", "knn", "snapshot_polygon", "zonal", "contribution")
AOI_LADDER = ("hot", "city", "sparse", "continental")


def points_in_polygon(x, y, ring) -> np.ndarray:
    """Even-odd ray casting over one closed ring (oracle, boundary ignored)."""
    inside = np.zeros(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        cross = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= cross & (x < xi)
    return inside


class AoiQueries(Workload):
    """A seeded mix of snapshot, contribution, kNN and zonal queries issued by
    one closed-loop client against a store ETL'd once in set-up."""

    name = "aoi_queries"
    ROUND_S = 15.0  # one query of each type, warm

    def generate(self) -> None:
        from oshdb_spark.sources.docs import write_docs_parquet

        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.docs_pdf, self.world = write_docs_parquet(
            self.docs_path, n_features=self.size["aoi_features"], seed=self.seed
        )

    def prepare(self) -> None:
        from oshdb_spark.api import OSHDB
        from oshdb_spark.filters.dsl import TagTranslator
        from oshdb_spark.sources.entities import extract_entities
        from oshdb_spark.sources.store import write_entities_table

        self.tr = TagTranslator(keys=TAG_KEYS)
        self.store = os.path.join(self.work, "store")
        docs = self.spark.read.parquet(self.docs_path)
        write_entities_table(extract_entities(docs), self.store, n_buckets=8)
        self.db = OSHDB.from_store(self.spark, self.store, translator=self.tr)
        self.db_docs = OSHDB.from_docs(self.spark, docs, translator=self.tr)
        self.store_docs = len(self.docs_pdf)
        n = self.world.nodes
        self.nodes = n.assign(event_id=n["id"] * 1000 + n["version"])
        self.queries = [self._params(j) for j in range(4 * len(ROUND))]
        self.issued: list[tuple[dict, object, float, float]] = []
        self.traced: list[tuple[dict, object]] = []
        # warm-up: one round of every query type on parameters of its own
        # (first plans, codegen, the Python workers of the geometry UDFs),
        # so that no timed query pays a first-run cost
        self.warm = [(q, self._execute(q, self.db))
                     for q in (self._params(j, salt=2) for j in range(len(ROUND)))]

    # -- query parameters ---------------------------------------------------

    def _aoi(self, r, kind: str) -> tuple[float, float, float, float]:
        from oshdb_spark.sources.docs import CITIES

        if kind == "hot":
            cx, cy = CITIES[0][0] + r.uniform(-0.05, 0.05), CITIES[0][1] + r.uniform(-0.05, 0.05)
            hw = hh = r.uniform(0.05, 0.15)
        elif kind == "city":
            city = CITIES[1 + int(r.integers(0, len(CITIES) - 1))]
            cx, cy = city[0] + r.uniform(-0.05, 0.05), city[1] + r.uniform(-0.05, 0.05)
            hw = hh = r.uniform(0.1, 0.3)
        elif kind == "sparse":
            cx, cy = r.uniform(-170, 170), r.uniform(-60, 60)
            hw = hh = r.uniform(2, 10)
        else:
            cx, cy = r.uniform(-120, 120), r.uniform(-40, 40)
            hw, hh = r.uniform(40, 60), r.uniform(20, 30)
        return (max(cx - hw, -179.5), max(cy - hh, -85.5),
                min(cx + hw, 179.5), min(cy + hh, 85.5))

    def _params(self, j: int, salt: int = 1) -> dict:
        op, rnd = ROUND[j % len(ROUND)], j // len(ROUND)
        r = self.rng(salt, j)
        ts1 = [T0 + int(r.integers(1, 10)) * YEAR]
        q = {"j": j, "op": op, "filter": NODES, "ts": ts1}
        if op == "snapshot_bbox":
            q["filter"], q["ts"] = (NODES, TS6) if rnd % 2 == 0 else (BUILDINGS, ts1)
            q["bbox"] = self._aoi(r, AOI_LADDER[rnd % len(AOI_LADDER)])
        elif op == "contribution":
            q["filter"] = "type:node" if rnd % 2 == 0 else None
            q["bbox"] = self._aoi(r, ("city", "hot")[rnd % 2])
        elif op == "snapshot_polygon":
            q["filter"] = BUILDINGS if rnd % 2 == 0 else NODES
            b = self._aoi(r, ("hot", "city")[rnd % 2])
            cx, cy = (b[0] + b[2]) / 2, (b[1] + b[3]) / 2
            rad = (b[2] - b[0]) / 2
            ang = np.sort(r.uniform(0, 2 * np.pi, 7))
            rr = rad * r.uniform(0.5, 1.0, 7)
            ring = [[float(cx + a * np.cos(t)), float(cy + a * np.sin(t))]
                    for a, t in zip(rr, ang)]
            q["polygon"] = {"type": "Polygon", "coordinates": [ring + [ring[0]]]}
        elif op == "knn":
            q["filter"] = None
            pts = []
            for qid in range(4):
                b = self._aoi(r, ("hot", "city", "sparse", "sparse")[qid])
                pts.append((qid, int(round((b[0] + b[2]) / 2 * 1e7)),
                            int(round((b[1] + b[3]) / 2 * 1e7))))
            q["points"], q["k"] = pts, 5
        elif op == "zonal":
            a, b = np.sort(r.uniform(-150, 150, 2))
            cuts = [-179.5, float(a), float(b), 179.5]
            q["zones"] = {
                f"z{i}": {"type": "Polygon", "coordinates": [[
                    [cuts[i], -85.5], [cuts[i + 1], -85.5], [cuts[i + 1], 85.5],
                    [cuts[i], 85.5], [cuts[i], -85.5]]]}
                for i in range(3)
            }
        return q

    # -- execution ----------------------------------------------------------

    def _view(self, q: dict, db):
        from oshdb_spark.api import ContributionView, SnapshotView

        if q["op"] == "contribution":
            return (ContributionView.on(db).area_of_interest(bbox=q["bbox"])
                    .timestamps(TS6[0], TS6[-1]))
        v = SnapshotView.on(db).timestamps(q["ts"]).filter(q["filter"])
        if q["op"] == "snapshot_bbox":
            v = v.area_of_interest(bbox=q["bbox"])
        elif q["op"] == "snapshot_polygon":
            v = v.area_of_interest(polygon=q["polygon"])
        return v

    def _knn_points(self, db):
        return db.entities.filter(F.col("type") == "node").select(
            (F.col("id") * 1000 + F.col("version")).alias("event_id"),
            F.col("lon").alias("lon_fp"), F.col("lat").alias("lat_fp"))

    def _execute(self, q: dict, db):
        """Run one query to a plain Python answer."""
        if q["op"] == "knn":
            from oshdb_spark.operators.knn import knn_join

            rows = knn_join(self.spark, self._knn_points(db), q["points"], k=q["k"]).collect()
            return self._knn_answer(rows)
        v = self._view(q, db)
        if q["op"] == "contribution":
            return v.count()
        if q["op"] == "zonal":
            rows = v.aggregate_by_geometry(q["zones"]).count().collect()
            return {r["zone_key"]: int(r["cnt"]) for r in rows}
        rows = v.aggregate_by_timestamp().count().collect()
        return {int(r["snap_ts"]): int(r["cnt"]) for r in rows}

    @staticmethod
    def _knn_answer(rows) -> dict:
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            out.setdefault(int(r["qid"]), []).append(int(r["neighbor_id"]))
        return out

    def _timed(self, q: dict) -> None:
        ans, wall, cpu = clocked(lambda: self._execute(q, self.db))
        self.issued.append((q, ans, wall, cpu))

    def measure(self, seconds: float) -> dict:
        for j in range(repeats(seconds, self.ROUND_S) * len(ROUND)):
            self._timed(self.queries[j % len(self.queries)])
        walls = [w for _, _, w, _ in self.issued]
        by_op = {op: [w for q, _, w, _ in self.issued if q["op"] == op] for op in ROUND}
        cpu_by_op = {op: [c for q, _, _, c in self.issued if q["op"] == op] for op in ROUND}
        metrics, report = contract(by_op, cpu_by_op, self.store_docs)
        report += [("query_p50_s", median(walls), "s"), tail_line(walls)]
        for op in ROUND:
            report.append((f"q.{op}.p50_s", median(by_op[op]), "s"))
            report.append((f"q.{op}.cpu_p50_s", median(cpu_by_op[op]), "s"))
        report += [("queries", len(walls), "count"),
                   ("store_docs", self.store_docs, "docs")]
        return {"contract": metrics, "report": report}

    def cycle(self) -> None:
        for q in self.queries[: len(ROUND)]:
            self._timed(q)

    # -- oracles ------------------------------------------------------------

    def _node_snapshot(self, t: int):
        n = self.nodes[self.nodes["ts"] <= t].sort_values(["id", "ts", "version"])
        n = n.groupby("id").tail(1)
        n = n[n["visible"]]
        return n["lon"].to_numpy() / 1e7, n["lat"].to_numpy() / 1e7

    def _oracle(self, q: dict):
        """Ground truth without Spark, or None when only the unstored
        ``OSHDB.from_docs`` path can answer."""
        if q["op"] == "knn":
            lon = self.nodes["lon"].to_numpy()
            lat = self.nodes["lat"].to_numpy()
            eid = self.nodes["event_id"].to_numpy()
            out = {}
            for qid, qx, qy in q["points"]:
                a = (lon - qx) / 1e7
                b = (lat - qy) / 1e7
                order = np.lexsort((eid, a * a + b * b))[: q["k"]]
                out[qid] = [int(v) for v in eid[order]]
            return out
        if q["op"] == "contribution" or q["filter"] != NODES:
            return None
        if q["op"] == "zonal":
            x, y = self._node_snapshot(q["ts"][0])
            return {k: int(points_in_polygon(x, y, z["coordinates"][0]).sum())
                    for k, z in q["zones"].items()}
        out = {}
        for t in q["ts"]:
            x, y = self._node_snapshot(t)
            if q["op"] == "snapshot_bbox":
                b = q["bbox"]
                hit = (x >= b[0]) & (x <= b[2]) & (y >= b[1]) & (y <= b[3])
            else:
                hit = points_in_polygon(x, y, q["polygon"]["coordinates"][0])
            out[t] = int(hit.sum())
        return out

    def check(self) -> None:
        """Node, kNN and zonal answers against numpy/pandas ground truth,
        every one of them.  Way and contribution answers against the
        unstored ``OSHDB.from_docs`` path, which costs a full extra query
        each: done in traced runs (and so in the smoke check), once for
        each query of the traced round, and every answer to that query is
        compared with it."""
        traced = {id(q) for q, _ in self.traced}
        wants: dict[int, object] = {}  # one oracle answer per query
        for q, ans in [(q, a) for q, a, _, _ in self.issued] + self.warm + self.traced:
            if id(q) not in wants:
                want = self._oracle(q)
                if want is None and id(q) in traced:
                    want = self._execute(q, self.db_docs)
                wants[id(q)] = want
            if wants[id(q)] is not None:
                self._compare(q, ans, wants[id(q)])

    def _compare(self, q: dict, ans, want) -> None:
        got = self._maybe_corrupt(ans)
        self.out.record(got == want, f"query {q['j']} {q['op']}: {got} != {want}")

    # -- traced round -------------------------------------------------------

    def trace_cycle(self, tr) -> dict:
        from oshdb_spark.api import OSHDB
        from oshdb_spark.operators.knn import knn_join

        c = {"store.read.files_scanned": 0, "store.read.rows_scanned": 0,
             "results": 0, "snapshot.rows_out": 0, "geometry_udf.rows": 0,
             "zonal.candidates": 0, "zonal.matches": 0, "knn.results": 0}
        api_spans, answers = [], []
        for q in self.queries[: len(ROUND)]:
            layer = {"snapshot_bbox": "snapshot", "snapshot_polygon": "snapshot"}.get(
                q["op"], q["op"])
            with tr.span("op." + q["op"]):
                with tr.span("store.read"):
                    raw = OSHDB.from_store(self.spark, self.store).entities
                    c["store.read.files_scanned"] += len(raw.inputFiles())
                    ents = raw.localCheckpoint()
                    c["store.read.rows_scanned"] += ents.count()
                db = OSHDB(self.spark, ents, self.tr)
                if q["op"] == "knn":
                    with tr.span("knn"):
                        with tr.span("knn.histogram"):
                            df = knn_join(self.spark, self._knn_points(db),
                                          q["points"], k=q["k"])
                        rows = df.collect()
                    ans = self._knn_answer(rows)
                    c["knn.results"] += len(rows)
                else:
                    with tr.span(layer) as s:
                        ans = self._execute(q, db)
                    api_spans.append(s["id"])
                if layer in ("snapshot", "zonal"):
                    # rows the view hands to the aggregation: the snapshot
                    # output, and the candidates the zone kernel tests
                    with tr.span("trace.aux"):
                        df = self._view(q, db).dataframe()
                        by_type = dict(df.groupBy("type").count().collect())
                    n_out = sum(by_type.values())
                    if layer == "snapshot":
                        c["snapshot.rows_out"] += n_out
                        c["geometry_udf.rows"] += n_out - by_type.get("node", 0)
                    else:
                        c["zonal.candidates"] += n_out
                        c["zonal.matches"] += sum(ans.values())
                if isinstance(ans, dict):
                    c["results"] += sum(len(v) if isinstance(v, list) else v
                                        for v in ans.values())
                else:
                    c["results"] += int(ans)
                answers.append((q, ans))
        self.traced = answers
        c["api_spans"] = api_spans
        return c


def tail_line(walls: list[float]):
    """The highest of p99/p95/p90/p75/p50 with at least ten samples above it."""
    n = len(walls)
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        if n * (1 - q) >= 10:
            v = float(np.quantile(walls, q))
            return (f"query_tail_s[p{int(q * 100)},n={n}]", v, "s")
    return (f"query_tail_s[n={n}, needs >= 20 for p50]", None, "s")


# ---------------------------------------------------------------------------
# etl_ingest: the write side of the store
# ---------------------------------------------------------------------------


class EtlIngest(Workload):
    """Batch ETL (``store.write_entities_table`` + manifest) and
    ``streaming.incremental_ingest`` over the same seeded rich-world docs."""

    name = "etl_ingest"
    PAIR_S = 7.0  # one batch ETL + one streamed ingest, warm
    N_FILES = 4
    FILES_PER_TRIGGER = 2
    BUCKETS = 8

    def generate(self) -> None:
        import pyarrow.parquet as pq

        from oshdb_spark.sources.docs import write_docs_parquet

        one = os.path.join(self.work, "docs.parquet")
        write_docs_parquet(one, n_features=self.size["etl_features"], seed=self.seed)
        table = pq.read_table(one)
        os.remove(one)
        self.docs_dir = os.path.join(self.work, "docs")
        shutil.rmtree(self.docs_dir, ignore_errors=True)
        os.makedirs(self.docs_dir)
        step = -(-table.num_rows // self.N_FILES)
        for i in range(self.N_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(self.docs_dir, f"part-{i}.parquet"))
        self.input_bytes = dir_bytes(self.docs_dir)[0]

    def prepare(self) -> None:
        from oshdb_spark.sources.entities import extract_entities

        self.docs = self.spark.read.parquet(self.docs_dir)
        self.n_docs = extract_entities(self.docs).count()
        self.rep = 0
        self.kept: dict[str, str] = {}
        # warm-up: one batch ETL (extraction, tiling, the bucketed write)
        self._batch(self._fresh("warmup"))
        shutil.rmtree(os.path.join(self.work, "warmup"), ignore_errors=True)

    def _fresh(self, tag: str) -> str:
        d = os.path.join(self.work, tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def _batch(self, d: str) -> None:
        from oshdb_spark.sources.entities import extract_entities
        from oshdb_spark.sources.store import write_entities_table

        write_entities_table(extract_entities(self.spark.read.parquet(self.docs_dir)),
                             os.path.join(d, "store"), n_buckets=self.BUCKETS)

    def _stream(self, d: str):
        from oshdb_spark.streaming import incremental_ingest, stream_docs

        q = incremental_ingest(
            stream_docs(self.spark, self.docs_dir,
                        max_files_per_trigger=self.FILES_PER_TRIGGER),
            os.path.join(d, "store"), os.path.join(d, "ckpt"), n_buckets=self.BUCKETS)
        q.awaitTermination()
        return q

    def _run(self, kind: str) -> tuple[float, float]:
        d = self._fresh(f"{kind}-{self.rep}")
        self.rep += 1
        _, wall, cpu = clocked(lambda: (self._batch if kind == "etl" else self._stream)(d))
        if kind in self.kept:
            shutil.rmtree(d)
        else:
            self.kept[kind] = d  # checked after the loop
        return wall, cpu

    def measure(self, seconds: float) -> dict:
        walls = {"etl": [], "stream": []}
        cpus = {"etl": [], "stream": []}
        for _ in range(repeats(seconds, self.PAIR_S)):
            for kind in walls:
                wall, cpu = self._run(kind)
                walls[kind].append(wall)
                cpus[kind].append(cpu)
        self.store_bytes, self.store_files = dir_bytes(
            os.path.join(self.kept["etl"], "store"))
        ratio = self.store_bytes / self.input_bytes
        stream_rate = self.n_docs / median(walls["stream"])
        metrics, lines = contract(walls, cpus, self.n_docs)
        return {
            "contract": metrics,
            "report": lines + [
                ("etl_docs_per_s", self.n_docs / median(walls["etl"]), "docs/s"),
                ("stream_docs_per_s", stream_rate, "docs/s"),
                ("store_bytes_per_input_byte", ratio, "ratio"),
                ("n_docs", self.n_docs, "docs"),
                ("etl_walls", walls["etl"], "s"),
                ("stream_walls", walls["stream"], "s"),
                ("etl_cpus", cpus["etl"], "s"),
                ("stream_cpus", cpus["stream"], "s"),
            ],
        }

    def cycle(self) -> None:
        for kind in ("etl", "stream"):
            self._run(kind)

    def check(self) -> None:
        from oshdb_spark.sources.entities import verify_span_equality
        from oshdb_spark.sources.store import read_entities_table, snapshots

        for kind, d in sorted(self.kept.items()):
            store = os.path.join(d, "store")
            ents = read_entities_table(self.spark, store)
            n = self._maybe_corrupt(ents.count())
            self.out.record(n == self.n_docs, f"{kind}: {n} rows != {self.n_docs}")
            bad = verify_span_equality(self.docs, ents)
            self.out.record(bad == 0, f"{kind}: {bad} span-sequence violations")
            if kind == "stream":
                want = -(-self.N_FILES // self.FILES_PER_TRIGGER)
                got = len(snapshots(store))
                self.out.record(got == want, f"stream: {got} batches != {want}")

    def trace_cycle(self, tr) -> dict:
        from oshdb_spark.operators.tiling import lifetime_bboxes
        from oshdb_spark.sources.entities import extract_entities
        from oshdb_spark.sources.store import (
            read_entities_table,
            write_entities_table,
            write_manifest,
        )

        c = {"extract.rows": 0}
        d = self._fresh("trace")
        store = os.path.join(d, "store")
        with tr.span("op.etl"):
            with tr.span("extract"):
                ents = extract_entities(self.spark.read.parquet(self.docs_dir))
                ents = ents.localCheckpoint()
                c["extract.rows"] += ents.count()
            # standalone: write_entities_table recomputes it internally
            with tr.span("lifetime_bboxes"):
                lifetime_bboxes(ents).localCheckpoint().count()
            self.spark.catalog.clearCache()
            with tr.span("store.write"):
                write_entities_table(ents, store, n_buckets=self.BUCKETS, manifest=False)
            with tr.span("store.manifest"):
                write_manifest(store)
        c["store.write.bytes"], c["store.write.files"] = dir_bytes(store)
        n = read_entities_table(self.spark, store).count()
        self.out.record(n == self.n_docs, f"traced etl: {n} rows != {self.n_docs}")
        with tr.span("op.stream"):
            with tr.span("stream"):
                q = self._stream(self._fresh("trace-stream"))
        prog = q.recentProgress
        c["stream.batches"] = len(prog)
        c["stream.batch_s"] = (
            median([p["durationMs"]["triggerExecution"] / 1000.0 for p in prog])
            if prog else 0.0)
        return c


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                files += 1
    return total, files


WORKLOADS = {w.name: w for w in (TileJoin, AoiQueries, EtlIngest)}
