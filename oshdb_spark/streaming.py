"""Structured-Streaming ingest for the interleaved docs table.

The reference engine is batch-only (its keytables/ETL loop imports a
finished .osh.pbf extract — SURVEY §2.8), but a production
training-data pipeline at 10^12 docs ingests continuously.  This module
is the streaming front door to the SAME operators the batch path uses:

  readStream(docs) -> extract_entities (stateless per-doc Catalyst
  expressions, streaming-safe by construction) -> per-micro-batch
  tile + bucket + sort append into the entities store (foreachBatch),
  exactly-once via a batch-id commit journal (the standard idempotent-
  foreachBatch pattern; Spark's checkpoint gives at-least-once, the
  journal de-duplicates replayed batches)

plus the streaming analog of aggregateByTimestamp: an event-time
tumbling-window aggregation with a watermark for late data.

Scale posture: extraction and tiling are stateless, so a micro-batch
never holds cross-batch state; the only stateful operator is the
windowed aggregation, whose state is bounded by the watermark horizon.
Lifetime-bbox tiling (which needs ALL versions of an entity) stays a
property of the store-maintenance/compaction pass, exactly like
Iceberg-style ingest-then-compact pipelines.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_docs(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of docs parquet files.

    ``schema`` defaults to the directory's current batch schema (the
    streaming file source requires an explicit schema)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(path)


def _commits_path(store_path: str) -> str:
    return os.path.join(store_path, "_streaming_commits.json")


def _committed_batches(store_path: str) -> set[int]:
    p = _commits_path(store_path)
    if not os.path.exists(p):
        return set()
    with open(p) as f:
        return set(json.load(f))


def _record_commit(store_path: str, batch_id: int) -> None:
    done = _committed_batches(store_path)
    done.add(int(batch_id))
    tmp = _commits_path(store_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(done), f)
    os.replace(tmp, _commits_path(store_path))  # atomic journal update


def _promote_batch(store_path: str, staging: str, batch_id: int) -> list[str]:
    """Move a staged micro-batch's parquet files into the store under
    batch-tagged names (``b<id>-<file>``), deleting any files a previous
    CRASHED attempt of the same batch left behind first.  Replaying the
    batch therefore converges to exactly one copy of its rows no matter
    where the previous attempt died — the property a bare ``append``
    cannot give (the r4 duplicate-append crash window).  Returns the
    promoted files, relative to ``store_path``."""
    import glob as _glob
    import shutil

    # sweep partial files from an earlier attempt of THIS batch
    for stale in _glob.glob(
        os.path.join(store_path, "pt=*", f"b{int(batch_id)}-*.parquet")
    ):
        os.remove(stale)
    added = []
    for f in _glob.glob(os.path.join(staging, "pt=*", "*.parquet")):
        rel = os.path.join(
            os.path.basename(os.path.dirname(f)),
            f"b{int(batch_id)}-{os.path.basename(f)}",
        )
        os.makedirs(os.path.join(store_path, os.path.dirname(rel)), exist_ok=True)
        os.replace(f, os.path.join(store_path, rel))
        added.append(rel)
    shutil.rmtree(staging, ignore_errors=True)
    return added


def incremental_ingest(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
) -> StreamingQuery:
    """Continuously append extracted entity versions into the tiled
    entities store (sources/store layout: bucketed dirs, cell-sorted
    row groups, footer-stats manifest).

    Exactly-once: Spark's foreachBatch replays a batch after a failure
    (at-least-once).  Each micro-batch is (1) written to a per-batch
    STAGING directory (overwrite — idempotent), (2) PROMOTED into the
    store under batch-tagged file names after sweeping any partial files
    a crashed attempt of the same batch left, (3) journaled.  A crash at
    ANY point — mid-staging, mid-promote, before the journal record —
    makes the replay rebuild the staging dir and re-promote the same
    batch onto a clean slate, so the store never holds two copies of a
    micro-batch's rows (the standard idempotent-foreachBatch pattern).
    The journal then short-circuits replays of fully committed batches.
    Each batch folds its promoted files into the manifest (and drops the
    entries of files no longer in the store, such as those its replay
    swept) so file-level pruning covers the new files; only those
    files' footers are read, so a stream costs one footer read per file
    in total, not per batch."""
    from oshdb_spark.sources.entities import extract_entities
    from oshdb_spark.sources.store import update_manifest, write_entities_table

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in _committed_batches(store_path):
            return  # fully committed earlier: replay is a no-op
        ents = extract_entities(batch_df)
        # underscore prefix: Spark's file listing and write_manifest both
        # ignore _-prefixed paths, so readers never see staged rows
        staging = os.path.join(
            store_path, "_staging", f"batch-{int(batch_id)}"
        )
        write_entities_table(
            ents, staging, n_buckets=n_buckets, mode="overwrite",
            manifest=False,
        )
        update_manifest(store_path, _promote_batch(store_path, staging, batch_id))
        _record_commit(store_path, batch_id)

    return (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_aggregate_by_timestamp(
    events: DataFrame,
    interval_seconds: int,
    ts_col: str = "ts",
    watermark: str = "7 days",
) -> DataFrame:
    """Streaming analog of aggregateByTimestamp's interval floor
    (operators/aggregations.ts_interval_floor): event-time tumbling
    windows with a watermark bounding the late-data state.

    Output: (snap_ts = window start in epoch micros, cnt) — the same
    shape the batch reducer emits, so downstream consumers are
    agnostic to which path produced a row."""
    # parquet timestamps load as NTZ; watermarks/event time require LTZ
    # (session TZ is UTC, so the epoch interpretation is unchanged)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    win = F.window(F.col(ts_col), f"{int(interval_seconds)} seconds")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("snap_ts"),
            F.col("cnt"),
        )
    )


def streaming_dedup_docs(
    docs: DataFrame,
    event_time_col: str = "ingest_ts",
    watermark: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Dedup-on-ingest: drop re-deliveries of the same document arriving
    within the watermark horizon (at-least-once upstreams — queue
    redeliveries, producer retries — hand the SAME doc_id to several
    micro-batches; this keeps the first and drops the rest).

    Built on `dropDuplicatesWithinWatermark`, the streaming-native dedup
    operator: state is keyed by `keys` (default [doc_id]) and EVICTED
    once the watermark passes an entry, so state size is bounded by the
    key arrival rate x horizon — never by corpus size.  This
    intentionally does NOT replace corpus-level dedup (operators/dedup):
    two documents ingested days apart still both land and are reconciled
    by the batch dedup/compaction pass, exactly like the lifetime-bbox
    re-tile (module docstring).

    ``event_time_col`` must be the event-time column the watermark is
    defined on; epoch-micros longs are cast to LTZ timestamps (session
    TZ is UTC, so the epoch interpretation is unchanged).
    """
    from pyspark.sql import types as T

    if isinstance(docs.schema[event_time_col].dataType, T.LongType):
        docs = docs.withColumn(
            event_time_col,
            F.timestamp_micros(F.col(event_time_col)),
        )
    else:
        docs = docs.withColumn(
            event_time_col, F.col(event_time_col).cast("timestamp_ltz")
        )
    return docs.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["doc_id"]
    )


def streaming_sessionize(
    events: DataFrame,
    gap_s: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Session windows as a CUSTOM STATEFUL streaming operator via
    ``applyInPandasWithState`` (the arbitrary-state API the built-in
    ``session_window`` generalizes): per key, events within ``gap_s``
    of the previous event extend the open session; a session CLOSES
    (and is emitted, append-mode) when either a later in-batch event
    exceeds the gap, or the event-time watermark passes
    ``last_event + gap`` (GroupStateTimeout.EventTimeTimeout).  The
    streaming analog of the batch :func:`~oshdb_spark.operators.
    aggregations.sessionize` — the invariant test closes the loop:
    emitted sessions == the batch operator's sessions that the final
    watermark has closed.

    State per key is THREE numbers (start, last, n) — bounded by live
    keys, evicted on timeout; late rows older than an already-closed
    session merge into the open one or start their own (watermark-late
    data is the caller's withWatermark contract, as with every
    event-time stateful operator).

    Returns a streaming DataFrame
    ``(key, session_start_ms, session_end_ms, n_events)``.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    gap_ms = int(gap_s) * 1000

    def _fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s0, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "session_start_ms": [s0],
                    "session_end_ms": [last],
                    "n_events": [n],
                }
            )
            return
        ts: list[int] = []
        for pdf in pdfs:
            ts.extend(int(v) for v in pdf["__ts_ms"])
        if not ts:
            return
        ts.sort()
        if state.exists:
            s0, last, n = state.get
        else:
            s0, last, n = ts[0], ts[0] - gap_ms - 1, 0  # forces "new"
        closed = []
        for t in ts:
            if n > 0 and t - last > gap_ms:
                closed.append((s0, last, n))
                s0, n = t, 0
            last = max(last, t)
            n += 1
        state.update((s0, last, n))
        # timeout strictly after the current watermark (API contract)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last + gap_ms + 1, wm + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "session_start_ms": [c[0] for c in closed],
                    "session_end_ms": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    prepped = (
        # parquet timestamps load as NTZ; event time must be LTZ
        events.withColumn("__evt", F.col(ts_col).cast("timestamp_ltz"))
        .withWatermark("__evt", watermark)
        .withColumn("__ts_ms", F.unix_millis(F.col("__evt")))
        .select(F.col(key_col).alias("key"), "__evt", "__ts_ms")
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _fn,
        outputStructType=(
            "key long, session_start_ms long, session_end_ms long,"
            " n_events long"
        ),
        stateStructType="s0 long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
