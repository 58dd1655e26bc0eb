"""Tiled entities table: the engine's storage layout (ETL output).

Reference layout: grid_node/grid_way/grid_relation tables keyed by
(level, id) with one serialized cell blob per row
(/root/reference/oshdb-util/src/main/java/org/heigit/ohsome/oshdb/util/TableNames.java:7-60,
MapReducerJdbc.java:64-93 `select data from grid_xyz where level = ? and id
between ? and ?`).

Our layout: ONE table, parquet/Iceberg,
  * hash-bucketed directory partitioning on ``pt = pmod(xxhash64(cell_id),
    n_buckets)`` — bounded partition count at any scale (a raw
    ``cell_zoom/cell_id`` layout would create one directory per non-empty
    cell: millions of tiny files at 10^12 docs);
  * rows sorted by (cell_zoom, cell_id) within files, so parquet row-group
    min/max stats make the cell-range predicate skip whole row groups —
    the moral equivalent of the reference's `id between ?` index scan;
  * `type` kept as a column (the union-all over three tables in the
    reference, MapReducerJdbc.java:70-71, becomes a column filter).

Queries read it back with ``read_pruned(bbox)``: partition pruning on pt
is not applicable for range queries (hash bucketing trades that away for
bounded file counts — Iceberg would give both via its metadata tree), so
pruning happens at row-group level via the sorted cell columns; the
rect predicate (operators/tiling.cell_rect_filter) lands in parquet
PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oshdb_spark.operators.tiling import assign_cells, cell_rect_filter

DEFAULT_BUCKETS = 64
MANIFEST_NAME = "_oshdb_manifest.json"


class OSHDBTableNotFoundError(FileNotFoundError):
    """The entities table backing a view is absent — the analog of the
    reference's OSHDBTableNotFoundException, raised for missing H2 tables /
    Ignite caches (MapReduceOSHDBJdbcMissingTablesTest,
    MapReduceOSHDBIgniteMissingCacheTest: every view and stream over a
    database without its tables must fail with THIS type, not a raw
    backend error)."""


def _require_table(path: str) -> None:
    import os

    base = path.rstrip("/")
    if not os.path.isdir(base):
        raise OSHDBTableNotFoundError(f'Table "{path}" not found')
    for root, _dirs, files in os.walk(base):
        if any(f.endswith(".parquet") for f in files):
            return
    raise OSHDBTableNotFoundError(f'Table "{path}" has no data files')


def write_entities_table(
    entities: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
    manifest: bool = True,
    max_records_per_file: int | None = 4_000_000,
) -> None:
    """ETL: tile + bucket + sort + write (+ cell-range manifest).

    One shuffle (repartition on the bucket) then a within-partition sort —
    the once-per-dataset cost the reference also pays in its ETL
    (OSHDBToIgnite / H2 import).

    ``max_records_per_file`` splits each sorted bucket into multiple files
    covering DISJOINT (cell_zoom, cell_id) ranges — Iceberg's
    write.target-file-size behavior — which is what makes the manifest's
    file-level pruning effective: without the split a bucket is one file
    spanning every zoom and nothing can be skipped.

    Unless the caller already cached `entities`, it is cached for the
    write (one payload parse feeds every tiling branch) and released once
    the write and the manifest are done, so the ETL leaves no cached data
    behind in the session.
    """
    from pyspark import StorageLevel

    owned = not entities.is_cached
    if owned:
        entities = entities.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        w = (
            assign_cells(entities)
            .withColumn(
                "pt",
                F.pmod(F.xxhash64(F.col("cell_id")), F.lit(n_buckets)).cast("int"),
            )
            .repartition("pt")
            .sortWithinPartitions("cell_zoom", "cell_id")
            .write.mode(mode)
        )
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        w.partitionBy("pt").parquet(path)
        if manifest:
            write_manifest(path)
    finally:
        if owned:
            entities.unpersist()


def _table_files(path: str) -> list[str]:
    """The table's data files, relative to ``path``, sorted; staging and
    metadata paths (``_``/``.``-prefixed), which Spark's listing also
    ignores, are left out."""
    import glob as _glob
    import os

    out = []
    for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(f, path)
        if not any(p.startswith(("_", ".")) for p in rel.split(os.sep)):
            out.append(rel)
    return sorted(out)


def _footer_entries(path: str, rel: str) -> list[dict]:
    """The manifest entries of one data file, one per row group, read
    from its parquet footer."""
    import os

    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(path, rel)).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    zi = idx.get("cell_zoom")
    ci = idx.get("cell_id")
    entries = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        zs = g.column(zi).statistics if zi is not None else None
        cs = g.column(ci).statistics if ci is not None else None
        if zs is None or cs is None or not zs.has_min_max or not cs.has_min_max:
            entries.append(
                {"file": rel, "zmin": None, "zmax": None, "cmin": None, "cmax": None}
            )
        else:
            entries.append(
                {"file": rel,
                 "zmin": int(zs.min), "zmax": int(zs.max),
                 "cmin": int(cs.min), "cmax": int(cs.max)}
            )
    return entries


def _save_manifest(path: str, entries: list[dict]) -> int:
    import json
    import os

    # by file, row groups in file order: the same list however it was built
    entries = sorted(entries, key=lambda e: e["file"])
    # temp + atomic rename: a reader racing a refresh (e.g. streaming
    # ingest) must never observe a truncated manifest
    final = os.path.join(path, MANIFEST_NAME)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": 1, "entries": entries}, fh)
    os.replace(tmp, final)
    return len(entries)


def _load_manifest(path: str) -> list[dict] | None:
    """The manifest's entries, or None when it is missing or corrupt."""
    import json
    import os

    mf = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mf):
        return None
    try:
        with open(mf) as fh:
            entries = json.load(fh)["entries"]
    except (json.JSONDecodeError, OSError, KeyError, TypeError):
        return None
    if not isinstance(entries, list) or not all(
        isinstance(e, dict) and "file" in e for e in entries
    ):
        return None
    return entries


def write_manifest(path: str) -> int:
    """Per-row-group (cell_zoom, cell_id) min/max index over the table's
    parquet files — the emulation of the Iceberg manifest tree (SURVEY
    §1.6; the sandbox has no Iceberg runtime).  Built from parquet FOOTERS
    only (no data scan) right after the ETL write; ``read_pruned``
    consults it at plan time to skip whole FILES — which hash-bucket
    directory partitioning alone cannot do for cell-range queries (it
    trades range pruning for bounded file counts).  With a real Iceberg
    catalog this file is exactly what the table format maintains
    transactionally per snapshot.  Reads every file's footer; an append
    uses :func:`update_manifest`.  Returns the number of entries."""
    return _save_manifest(
        path, [e for rel in _table_files(path) for e in _footer_entries(path, rel)]
    )


def update_manifest(path: str, added: list[str]) -> int:
    """Fold an append into the manifest, reading only the footers of the
    ``added`` files (paths relative to ``path``), so a stream of
    micro-batches reads each footer once rather than every footer per
    batch.  Entries of files no longer in the table are dropped by a
    directory listing (no footer reads): a replayed batch's sweep may
    delete files of any earlier attempt, including attempts whose own
    update never ran.  A missing or corrupt manifest is rebuilt in full
    (:func:`write_manifest`).  The result equals a full rebuild over
    the same files.  Returns the number of entries."""
    entries = _load_manifest(path)
    if entries is None:
        return write_manifest(path)
    keep = set(_table_files(path)) - set(added)
    entries = [e for e in entries if e["file"] in keep]
    for rel in added:
        entries.extend(_footer_entries(path, rel))
    return _save_manifest(path, entries)


def _manifest_file_matches(
    path: str,
    bbox_osm: tuple[int, int, int, int],
    enlarge: bool = True,
) -> list[str] | None:
    """Files whose row-group (cell_zoom, cell_id) stats can intersect the
    query bbox's cell cover — a conservative superset.  ``None`` when the
    table has no manifest (fall back to a full-listing scan)."""
    # a missing, corrupt or truncated manifest degrades to the unpruned
    # listing
    entries = _load_manifest(path)
    if entries is None:
        return None
    from oshdb_spark.grid.xygrid import MAXZOOM, XYGridTree

    tree = XYGridTree(MAXZOOM)
    covers = []
    for g in tree.grids:
        garbage, rects = g.bbox2_cell_rects(bbox_osm, enlarge)
        # coarse id interval per rect — the same parquet-pushable superset
        # cell_rect_filter uses, evaluated here against manifest stats;
        # the garbage cell (-1) joins as its own interval
        iv = [
            (rmin * g.zoompow + cmin, rmax * g.zoompow + cmax)
            for cmin, cmax, rmin, rmax in rects
        ]
        if garbage:
            iv.append((-1, -1))
        if iv:
            covers.append((g.zoom, iv))
    BIG = 1 << 62
    keep: set[str] = set()
    for e in entries:
        if e["file"] in keep:
            continue
        zmin = e["zmin"]
        if zmin is None:
            keep.add(e["file"])  # no stats: never skip
            continue
        zmax, cmin, cmax = e["zmax"], e["cmin"], e["cmax"]
        # rows are sorted by (cell_zoom, cell_id), so within a row group
        # cmin binds only at zmin and cmax only at zmax; intermediate
        # zooms could hold any cell id
        for zoom, iv in covers:
            if zoom < zmin or zoom > zmax:
                continue
            lo = cmin if zoom == zmin else -BIG
            hi = cmax if zoom == zmax else BIG
            if any(a <= hi and b >= lo for a, b in iv):
                keep.add(e["file"])
                break
    return sorted(keep)


def snapshots(path: str) -> list[int]:
    """Committed ingest batch ids, oldest first — the emulation of
    Iceberg's snapshot log (`table.snapshots()`): every committed
    micro-batch of ``streaming.incremental_ingest`` is one snapshot.
    Empty for a table with no streaming history (the base ETL alone)."""
    import json
    import os

    p = os.path.join(path.rstrip("/"), "_streaming_commits.json")
    if not os.path.exists(p):
        return []
    try:
        with open(p) as fh:
            return sorted(int(b) for b in json.load(fh))
    except (json.JSONDecodeError, OSError, ValueError, TypeError):
        return []


def read_entities_table(
    spark: SparkSession, path: str, as_of_batch: int | None = None
) -> DataFrame:
    """Read the tiled entities table; ``as_of_batch`` time-travels to the
    table state after that ingest batch committed (Iceberg's
    ``VERSION AS OF`` over the manifest emulation): the base-ETL files
    plus every promoted micro-batch file ``b<id>-*`` with id <= the
    requested snapshot.  Promotion names files by batch id precisely so
    snapshot membership is a pure file-listing predicate — no data read,
    no tombstones.  ``as_of_batch=-1`` reads the pre-streaming base ETL
    alone."""
    _require_table(path)
    if as_of_batch is None:
        return spark.read.parquet(path)
    import os
    import re

    keep = []
    for rel in _table_files(path):
        m = re.match(r"b(\d+)-", os.path.basename(rel))
        if m and int(m.group(1)) > int(as_of_batch):
            continue  # a later snapshot's file
        keep.append(os.path.join(path, rel))
    if not keep:
        return spark.read.parquet(path).filter(F.lit(False))
    return spark.read.option("basePath", path).parquet(*keep)


def read_pruned(
    spark: SparkSession,
    path: str,
    bbox_osm: tuple[int, int, int, int],
    enlarge: bool = True,
    use_manifest: bool = True,
) -> DataFrame:
    """Scan only the cells whose rect cover intersects the query bbox.

    Two pruning layers:
      1. FILE level — the manifest (write_manifest) lists per-row-group
         (cell_zoom, cell_id) min/max; only files that can intersect the
         cover are handed to the reader at plan time (the Iceberg-manifest
         behavior; df.inputFiles() shows the shrunken listing);
      2. ROW-GROUP level — the cell_zoom/cell_id conjuncts of the exact
         predicate reach parquet as PushedFilters, and the within-file
         (cell_zoom, cell_id) sort turns them into row-group skips.
    """
    _require_table(path)
    files = (
        _manifest_file_matches(path, bbox_osm, enlarge) if use_manifest
        else None
    )
    if files is None:
        df = spark.read.parquet(path)
    elif not files:
        df = spark.read.parquet(path).filter(F.lit(False))
    else:
        import os

        df = spark.read.option("basePath", path).parquet(
            *[os.path.join(path, f) for f in files]
        )
    return df.filter(cell_rect_filter(bbox_osm, enlarge=enlarge))


def compact_store(
    spark: SparkSession,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    max_records_per_file: int | None = 4_000_000,
) -> None:
    """Re-tile a store whose files were written incrementally.

    A streaming/append ingest assigns each micro-batch's rows by the
    LIFETIME bbox visible WITHIN that batch; once an entity's versions
    span batches, its partial assignments differ from the global one the
    OSHDB placement guarantee needs (every version of an entity in the
    ONE cell covering its whole lifetime, members included — else a
    pruned scan can miss the out-of-box versions that as-of resolution
    requires).  Compaction restores the invariant: read everything,
    recompute the global assignment, rewrite — the ingest-then-compact
    shape of Iceberg-style pipelines.  Runs out-of-place (write to a
    sibling dir, atomic swap) so readers never see a half-compacted
    store and a crash leaves the original intact.
    """
    import os
    import shutil

    raw_cols = [
        "doc_id", "id", "type", "version", "visible", "ts", "changeset",
        "uid", "tags", "lon", "lat", "refs", "members",
    ]
    ents = spark.read.parquet(path).select(*raw_cols)
    tmp = path.rstrip("/") + ".compacting"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write_entities_table(
        ents, tmp, n_buckets=n_buckets,
        max_records_per_file=max_records_per_file,
    )
    # carry the streaming commit journal over so a post-compaction
    # micro-batch replay still de-duplicates
    journal = os.path.join(path.rstrip("/"), "_streaming_commits.json")
    if os.path.exists(journal):
        shutil.copy(journal, os.path.join(tmp, "_streaming_commits.json"))
    old = path.rstrip("/") + ".pre-compact"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.replace(path.rstrip("/"), old)
    os.replace(tmp, path.rstrip("/"))
    shutil.rmtree(old)
