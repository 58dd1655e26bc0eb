"""Structured-Streaming ingest: the streaming front door produces the
SAME store a batch ETL would, exactly once, and the windowed event-time
aggregation matches its batch equivalent.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from oshdb_spark.streaming import (
    incremental_ingest,
    stream_docs,
    streaming_aggregate_by_timestamp,
)

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs_dir(spark, docs_parquet, tmp_path_factory):
    """The docs table split into several parquet files in one directory
    (a stream of arriving files)."""
    path, _, _ = docs_parquet
    out = str(tmp_path_factory.mktemp("stream_docs"))
    spark.read.parquet(path).repartition(4).write.mode("overwrite").parquet(out)
    return out


def _store_rows(spark, store):
    from oshdb_spark.sources.store import read_entities_table

    df = read_entities_table(spark, store)
    return sorted(
        (r["type"], r["id"], r["version"], r["cell_zoom"], r["cell_id"])
        for r in df.select("type", "id", "version", "cell_zoom", "cell_id")
        .collect()
    )


def test_incremental_ingest_matches_batch_etl(spark, docs_dir, tmp_path):
    """Streamed ingest + compaction produces the SAME store a batch ETL
    would.  Before compaction the entity ROWS already match (extraction
    is stateless), but per-micro-batch lifetime bboxes can place an
    entity whose versions span batches in a different cell — compaction
    restores the global placement invariant."""
    from oshdb_spark.sources.entities import extract_entities
    from oshdb_spark.sources.store import compact_store, write_entities_table

    store_s = str(tmp_path / "store_stream")
    store_b = str(tmp_path / "store_batch")
    ckpt = str(tmp_path / "ckpt")

    # streaming: one micro-batch per file
    stream = stream_docs(spark, docs_dir, max_files_per_trigger=1)
    q = incremental_ingest(stream, store_s, ckpt, n_buckets=4)
    q.awaitTermination(120)

    # batch ETL over the same input
    write_entities_table(
        extract_entities(spark.read.parquet(docs_dir)), store_b, n_buckets=4
    )

    # extraction itself is batch-identical even pre-compaction
    def _ent_rows(store):
        df = spark.read.parquet(store).select("type", "id", "version")
        return sorted(tuple(r) for r in df.collect())

    assert _ent_rows(store_s) == _ent_rows(store_b)

    compact_store(spark, store_s, n_buckets=4)
    assert _store_rows(spark, store_s) == _store_rows(spark, store_b)
    # several micro-batches actually ran (one per input file)
    from oshdb_spark.streaming import _committed_batches

    assert len(_committed_batches(store_s)) >= 2


def test_ingest_is_exactly_once_on_replay(spark, docs_dir, tmp_path):
    """Re-running with the same commit journal but a FRESH checkpoint
    replays every micro-batch; the journal must de-duplicate them all."""
    store = str(tmp_path / "store")
    q = incremental_ingest(
        stream_docs(spark, docs_dir, max_files_per_trigger=1),
        store, str(tmp_path / "ckpt1"), n_buckets=4,
    )
    q.awaitTermination(120)
    before = _store_rows(spark, store)
    n_files_before = len(glob.glob(f"{store}/pt=*/*.parquet"))

    # fresh checkpoint -> Spark replays all files as new micro-batches
    q2 = incremental_ingest(
        stream_docs(spark, docs_dir, max_files_per_trigger=1),
        store, str(tmp_path / "ckpt2"), n_buckets=4,
    )
    q2.awaitTermination(120)

    assert _store_rows(spark, store) == before
    assert len(glob.glob(f"{store}/pt=*/*.parquet")) == n_files_before


@pytest.mark.parametrize("crash_point", ["before_promote", "mid_promote",
                                         "before_journal"])
def test_ingest_crash_window_no_duplicates(
    spark, docs_dir, tmp_path, monkeypatch, crash_point
):
    """Kill the sink at each point of the append→journal window, restart
    with the SAME checkpoint (Spark replays the uncommitted batch), and
    assert the store holds exactly one copy of every row — the r4
    duplicate-append crash window is closed."""
    import oshdb_spark.streaming as streaming_mod
    from pyspark.errors import StreamingQueryException

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    real_promote = streaming_mod._promote_batch
    real_record = streaming_mod._record_commit
    crashed = {"done": False}

    if crash_point == "before_promote":
        def bomb(store_path, staging, batch_id):
            if not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("crash before promote")
            return real_promote(store_path, staging, batch_id)
        monkeypatch.setattr(streaming_mod, "_promote_batch", bomb)
    elif crash_point == "mid_promote":
        def bomb(store_path, staging, batch_id):
            if not crashed["done"]:
                crashed["done"] = True
                # move ONE file then die: a torn promote
                import glob as _glob
                files = _glob.glob(os.path.join(staging, "pt=*", "*.parquet"))
                f = files[0]
                bucket = os.path.basename(os.path.dirname(f))
                dest = os.path.join(store, bucket)
                os.makedirs(dest, exist_ok=True)
                os.replace(f, os.path.join(
                    dest, f"b{int(batch_id)}-{os.path.basename(f)}"))
                raise RuntimeError("crash mid promote")
            return real_promote(store_path, staging, batch_id)
        monkeypatch.setattr(streaming_mod, "_promote_batch", bomb)
    else:  # before_journal: promote + manifest done, journal not written
        def bomb(store_path, batch_id):
            if not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("crash before journal")
            return real_record(store_path, batch_id)
        monkeypatch.setattr(streaming_mod, "_record_commit", bomb)

    q = incremental_ingest(
        stream_docs(spark, docs_dir, max_files_per_trigger=1),
        store, ckpt, n_buckets=4,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)

    # restart with the SAME checkpoint: Spark replays the failed batch
    q2 = incremental_ingest(
        stream_docs(spark, docs_dir, max_files_per_trigger=1),
        store, ckpt, n_buckets=4,
    )
    q2.awaitTermination(120)
    assert crashed["done"]

    from oshdb_spark.sources.entities import extract_entities

    got = spark.read.parquet(store).select("type", "id", "version")
    want = extract_entities(spark.read.parquet(docs_dir)).select(
        "type", "id", "version"
    )
    # multiset equality: one copy of every row, zero duplicates
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_streaming_manifest_is_incremental(
    spark, docs_parquet, tmp_path, monkeypatch
):
    """Each micro-batch reads the footers of its own files only, and the
    manifest it keeps equals a full rebuild: after 3 batches, one of them
    replayed after a crash between the manifest update and the journal
    record (the replay sweeps the batch's files and promotes them again)."""
    import json

    import oshdb_spark.sources.store as store_mod
    import oshdb_spark.streaming as streaming_mod
    from pyspark.errors import StreamingQueryException

    docs = str(tmp_path / "docs")
    spark.read.parquet(docs_parquet[0]).repartition(3).write.parquet(docs)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    reads: list[str] = []
    real_footer = store_mod._footer_entries

    def footer(path, rel):
        reads.append(rel)
        return real_footer(path, rel)

    updates: list[tuple[list, int]] = []
    real_update = store_mod.update_manifest

    def update(path, added):
        n = len(reads)
        out = real_update(path, added)
        updates.append((list(added), len(reads) - n))
        return out

    real_record = streaming_mod._record_commit
    crashed = []

    def record(store_path, batch_id):
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError("crash before journal")
        return real_record(store_path, batch_id)

    monkeypatch.setattr(store_mod, "_footer_entries", footer)
    monkeypatch.setattr(store_mod, "update_manifest", update)
    monkeypatch.setattr(streaming_mod, "_record_commit", record)

    def run():
        return incremental_ingest(
            stream_docs(spark, docs, max_files_per_trigger=1), store, ckpt,
            n_buckets=4,
        )

    with pytest.raises(StreamingQueryException):
        run().awaitTermination(120)
    run().awaitTermination(120)

    assert crashed == [1]
    # batches 0, 1, the replay of 1, then 2
    assert len(updates) == 4
    for added, n_reads in updates:
        assert added and n_reads == len(added)

    def manifest():
        with open(os.path.join(store, store_mod.MANIFEST_NAME)) as fh:
            return json.load(fh)

    incremental = manifest()
    store_mod.write_manifest(store)
    assert incremental == manifest()
    assert {e["file"] for e in incremental["entries"]} == set(
        store_mod._table_files(store)
    )


def test_streaming_manifest_survives_two_crashes_of_one_batch(
    spark, docs_parquet, tmp_path, monkeypatch
):
    """Attempt 1 of a batch promotes its files and updates the manifest,
    then dies before the journal record; attempt 2 sweeps those files,
    then dies mid-promote before its manifest update; attempt 3 sweeps
    nothing of attempt 1 (Spark names part files per write job).  The
    manifest must still name only files in the store, and the pruned
    read must plan over existing files."""
    import json

    import oshdb_spark.sources.store as store_mod
    import oshdb_spark.streaming as streaming_mod
    from pyspark.errors import StreamingQueryException

    docs = str(tmp_path / "docs")
    spark.read.parquet(docs_parquet[0]).repartition(3).write.parquet(docs)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    attempts = []
    real_promote = streaming_mod._promote_batch
    real_record = streaming_mod._record_commit
    real_replace = os.replace

    def promote(store_path, staging, batch_id):
        if batch_id == 1:
            attempts.append(batch_id)
        return real_promote(store_path, staging, batch_id)

    def record(store_path, batch_id):
        if batch_id == 1 and len(attempts) == 1:
            raise RuntimeError("crash before journal")
        return real_record(store_path, batch_id)

    def replace(src, dst):
        # the first move of attempt 2, after its sweep: a torn promote
        if len(attempts) == 2 and os.path.basename(dst).startswith("b1-"):
            raise RuntimeError("crash mid promote")
        return real_replace(src, dst)

    monkeypatch.setattr(streaming_mod, "_promote_batch", promote)
    monkeypatch.setattr(streaming_mod, "_record_commit", record)
    monkeypatch.setattr(os, "replace", replace)

    def run():
        return incremental_ingest(
            stream_docs(spark, docs, max_files_per_trigger=1), store, ckpt,
            n_buckets=4,
        )

    for _ in range(2):
        with pytest.raises(StreamingQueryException):
            run().awaitTermination(120)
    run().awaitTermination(120)
    assert len(attempts) == 3

    def manifest():
        with open(os.path.join(store, store_mod.MANIFEST_NAME)) as fh:
            return json.load(fh)

    world = (-1_800_000_000, -900_000_000, 1_800_000_000, 900_000_000)
    got = store_mod.read_pruned(spark, store, world)
    want = store_mod.read_pruned(spark, store, world, use_manifest=False)
    assert got.count() == want.count() > 0
    incremental = manifest()
    store_mod.write_manifest(store)
    assert incremental == manifest()


def test_streamed_store_prunes_like_batch(spark, docs_dir, tmp_path):
    """The streamed store supports the same pruned read path."""
    from oshdb_spark.sources.store import read_entities_table, read_pruned

    store = str(tmp_path / "store")
    q = incremental_ingest(
        stream_docs(spark, docs_dir), store, str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    q.awaitTermination(120)
    bbox = (-1_800_000_000, -900_000_000, 1_800_000_000, 900_000_000)
    n_all = read_entities_table(spark, store).count()
    n_pruned = read_pruned(spark, store, bbox).count()
    assert 0 < n_pruned <= n_all


def test_windowed_aggregation_matches_batch(spark, tmp_path):
    events_src = f"{SF_DIR}/events.parquet"
    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    for f_ in glob.glob(events_src) or [events_src]:
        if os.path.isdir(f_):
            for p in glob.glob(f"{f_}/*.parquet"):
                shutil.copy(p, events_dir)
        else:
            shutil.copy(f_, events_dir)

    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = streaming_aggregate_by_timestamp(stream, 7 * 86400)
    q = (
        agg.writeStream.format("memory")
        .queryName("weekly_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["snap_ts"], r["cnt"])
        for r in spark.sql("SELECT * FROM weekly_counts").collect()
    }

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", f"{7 * 86400} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp_ltz")).alias(
                "snap_ts"
            ),
            "cnt",
        )
    )
    want = {(r["snap_ts"], r["cnt"]) for r in batch.collect()}
    assert got == want and len(want) > 0


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


def test_streaming_dedup_drops_redeliveries(spark, tmp_path):
    """dropDuplicatesWithinWatermark ingest dedup: the same doc_id
    delivered in two different micro-batches (within the watermark)
    lands exactly once; distinct docs all land."""
    from oshdb_spark.streaming import streaming_dedup_docs

    src = str(tmp_path / "redelivered")
    base = 1704067200 * 1_000_000
    batch1 = [(i, f"text {i}", base + i * 1_000_000) for i in range(10)]
    # batch 2 redelivers docs 0-4 (same doc_id, later ingest_ts) + 5 new
    batch2 = [
        (i, f"text {i} again", base + (i + 60) * 1_000_000) for i in range(5)
    ] + [(i, f"text {i}", base + i * 1_000_000) for i in range(10, 15)]
    schema = "doc_id long, text string, ingest_ts long"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        f"{src}/b2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    deduped = streaming_dedup_docs(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM dedup_sink").collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == sorted(set(ids)) == list(range(15))


def test_snapshot_time_travel(spark, docs_dir, tmp_path):
    """Iceberg VERSION-AS-OF emulation: reading as of snapshot k returns
    exactly the rows of the first k+1 committed micro-batches; the full
    read equals the newest snapshot; as_of_batch=-1 is the (empty here)
    pre-streaming base ETL."""
    from oshdb_spark.sources.store import read_entities_table, snapshots

    store = str(tmp_path / "store")
    q = incremental_ingest(
        stream_docs(spark, docs_dir, max_files_per_trigger=1),
        store, str(tmp_path / "ckpt"), n_buckets=4,
    )
    q.awaitTermination(120)

    snaps = snapshots(store)
    assert len(snaps) >= 2  # one per file -> 4 micro-batches
    assert snaps == sorted(snaps)

    # cumulative: each snapshot is a superset of the previous one
    prev: set = set()
    sizes = []
    for b in snaps:
        df = read_entities_table(spark, store, as_of_batch=b)
        rows = {
            (r["type"], r["id"], r["version"])
            for r in df.select("type", "id", "version").collect()
        }
        assert prev <= rows
        prev = rows
        sizes.append(len(rows))
    assert sizes[0] < sizes[-1]

    # newest snapshot == the live table
    live = {
        (r["type"], r["id"], r["version"])
        for r in read_entities_table(spark, store)
        .select("type", "id", "version")
        .collect()
    }
    assert prev == live

    # before any streaming batch: no base ETL -> empty, schema intact
    base = read_entities_table(spark, store, as_of_batch=-1)
    assert base.count() == 0
    assert "cell_id" in base.columns


def test_snapshot_time_travel_over_base_etl(spark, docs_parquet, tmp_path):
    """A table with a batch-ETL base plus streamed increments: as-of -1
    reads the base alone; snapshot reads add batches on top."""
    from oshdb_spark.sources.entities import extract_entities
    from oshdb_spark.sources.store import read_entities_table, snapshots, write_entities_table

    path, _, _ = docs_parquet
    docs = spark.read.parquet(path)
    first, rest = docs.limit(40), docs.subtract(docs.limit(40))

    store = str(tmp_path / "store")
    write_entities_table(extract_entities(first), store, n_buckets=4)
    base_n = read_entities_table(spark, store).count()

    src = str(tmp_path / "increments")
    rest.repartition(2).write.parquet(src)
    q = incremental_ingest(
        stream_docs(spark, src, max_files_per_trigger=1),
        store, str(tmp_path / "ckpt"), n_buckets=4,
    )
    q.awaitTermination(120)

    assert read_entities_table(spark, store, as_of_batch=-1).count() == base_n
    snaps = snapshots(store)
    assert snaps
    last = read_entities_table(spark, store, as_of_batch=snaps[-1]).count()
    assert last == read_entities_table(spark, store).count() > base_n


def test_time_travel_through_view_api(spark, docs_dir, tmp_path):
    """OSHDB.from_store(as_of_batch=...) opens a past snapshot: a snapshot
    count as of an early batch is <= the live count, and the newest
    snapshot's equals it."""
    from oshdb_spark.api import OSHDB, SnapshotView
    from oshdb_spark.sources.store import snapshots

    store = str(tmp_path / "store")
    q = incremental_ingest(
        stream_docs(spark, docs_dir, max_files_per_trigger=1),
        store, str(tmp_path / "ckpt"), n_buckets=4,
    )
    q.awaitTermination(120)
    snaps = snapshots(store)
    ts = [1262304000 + k * 2 * 365 * 86400 for k in range(6)]

    def count_asof(b):
        db = OSHDB.from_store(spark, store, as_of_batch=b)
        return SnapshotView.on(db).timestamps([ts[-1]]).count()

    early, last = count_asof(snaps[0]), count_asof(snaps[-1])
    live_db = OSHDB.from_store(spark, store)
    live = SnapshotView.on(live_db).timestamps([ts[-1]]).count()
    assert early <= last == live
    assert live > 0


# ---------------------------------------------------------------------------
# streaming_sessionize (applyInPandasWithState custom stateful operator)
# ---------------------------------------------------------------------------


def test_streaming_sessionize_matches_batch_closed_sessions(spark, tmp_path):
    """Emitted streaming sessions == the batch sessionize operator's
    sessions that the final watermark has closed (last + gap < wm)."""
    import pandas as pd

    from oshdb_spark.operators.aggregations import session_stats
    from oshdb_spark.streaming import streaming_sessionize

    gap_s = 60
    base = 1_700_000_000  # epoch seconds
    rows = []
    # 3 users, sessions separated by > gap, events 10 s apart
    for uid in range(3):
        t = base + uid * 7
        for sess in range(4):
            for k in range(3 + (uid + sess) % 3):
                rows.append((uid, t))
                t += 10
            t += gap_s * 3  # close the session
    # sentinel far-future event advances the watermark past every
    # real session's last+gap so their timeouts fire
    rows.append((99, base + 10 * 86400))
    rows.sort(key=lambda r: r[1])

    src = str(tmp_path / "events_in")
    os.makedirs(src)
    # time-ordered files -> monotone watermark across micro-batches
    n_files = 6
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=["user_id", "sec"])
        pdf["ts"] = pd.to_datetime(pdf.pop("sec"), unit="s")
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = streaming_sessionize(stream, gap_s, key_col="user_id", ts_col="ts")
    qname = "sessionize_test"
    q = (
        sess.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.key, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    }

    # batch reference: sessions fully closed by the final watermark
    ev = spark.createDataFrame(
        [(u, s * 1_000_000) for u, s in rows],
        "user_id long, ts_us long",
    )
    batch = session_stats(ev, gap_us=gap_s * 1_000_000, order_col="ts_us")
    wm_ms = max(s for _, s in rows) * 1000
    want = {
        (
            r["user_id"],
            r["start_ts"] // 1000,
            r["end_ts"] // 1000,
            r["n_events"],
        )
        for r in batch.collect()
        if r["end_ts"] // 1000 + gap_s * 1000 < wm_ms
    }
    assert want  # 12 real sessions expected
    assert got == want
