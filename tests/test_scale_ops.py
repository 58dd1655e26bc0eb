"""M7 scale ops: salted skew joins, lineage/checkpoint resume, and the
AOI snapshot query the spark-submit pipeline issues over docs."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from oshdb_spark.plans.lineage import (
    completed_buckets,
    input_fingerprint,
    lineage_report,
    read_output,
    run_partitioned,
)
from oshdb_spark.plans.skew import pick_salts, salted_join

TS = [1262304000 + k * 2 * 365 * 86400 for k in range(4)]


# ---------------------------------------------------------------------------
# salted join
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, 90% on one hot cell
    df = spark.range(10_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("cell"),
    )
    dim = spark.createDataFrame(
        [(c, f"zone{c % 5}") for c in range(100)], "cell long, zone string"
    )
    return df.cache(), dim


def test_salted_join_row_identical(spark, skewed):
    fact, dim = skewed
    plain = fact.join(dim, "cell").select("row_id", "zone")
    salted = salted_join(fact, dim, ["cell"], "row_id", n_salts=8).select(
        "row_id", "zone"
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salted_join_outer(spark, skewed):
    fact, dim = skewed
    plain = fact.join(dim, "cell", "left").select("row_id", "zone")
    salted = salted_join(
        fact, dim, ["cell"], "row_id", n_salts=4, how="left"
    ).select("row_id", "zone")
    assert sorted(plain.collect(), key=str) == sorted(salted.collect(), key=str)


def test_pick_salts_histogram(spark, skewed):
    fact, _ = skewed
    # hot key has 9000 rows; target 1000/task -> 9 salts
    assert pick_salts(fact, ["cell"], target_rows_per_task=1000) == 9
    assert pick_salts(fact, ["cell"], target_rows_per_task=10**9) == 1
    assert pick_salts(fact.limit(0), ["cell"]) == 1


# ---------------------------------------------------------------------------
# lineage / resume
# ---------------------------------------------------------------------------


def test_lineage_write_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 13).cast("string").alias("k")
    )
    fp = input_fingerprint(df)
    manifests = run_partitioned(df, out, bucket_key="k", n_buckets=4, fingerprint=fp)
    assert len(manifests) == 4
    assert sum(m.rows for m in manifests) == 1000

    # simulate a crash: remove one bucket's manifest + data
    os.remove(os.path.join(out, "_lineage", "bucket-2.json"))
    shutil.rmtree(os.path.join(out, "bucket=2"))
    assert completed_buckets(out, fp, 4) == {0, 1, 3}

    # resume: only the missing bucket re-runs
    again = run_partitioned(df, out, bucket_key="k", n_buckets=4, fingerprint=fp)
    assert [m.bucket for m in again] == [2]

    total = read_output(spark, out, 4, fp)
    assert total.count() == 1000
    assert sorted(r["id"] for r in total.collect()) == list(range(1000))

    report = lineage_report(out)
    assert len(report) == 4
    assert all(r["input_fingerprint"] == fp for r in report)


def test_lineage_fingerprint_invalidates(spark, tmp_path):
    out = str(tmp_path / "out2")
    df = spark.range(100).withColumn("k", F.col("id") % 3)
    run_partitioned(df, out, bucket_key="k", n_buckets=2, fingerprint="aaa")
    # a different input fingerprint sees no committed buckets
    assert completed_buckets(out, "bbb", 2) == set()
    assert completed_buckets(out, "aaa", 2) == {0, 1}


# ---------------------------------------------------------------------------
# the docs AOI query of scripts/run_pipeline.py
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_df(spark, docs_parquet):
    path, _, _ = docs_parquet
    return spark.read.parquet(path)


BBOX = (-60.0, -40.0, 60.0, 40.0)


def test_docs_aoi_view_equals_snapshot_over_all_entities(spark, docs_df):
    """The public-API AOI view over docs (what run_pipeline.py writes)
    equals snapshot_view over ALL entities: same schema, same rows, and
    every row still joins back to its source doc."""
    from oshdb_spark.api import OSHDB, SnapshotView
    from oshdb_spark.operators.snapshot import snapshot_view
    from oshdb_spark.sources.entities import (
        extract_entities,
        verify_span_equality,
    )

    view = (
        SnapshotView.on(OSHDB.from_docs(spark, docs_df))
        .area_of_interest(bbox=BBOX)
        .timestamps(TS)
        .dataframe()
    )
    full = snapshot_view(extract_entities(docs_df), TS, bbox_deg=BBOX)
    assert view.schema == full.schema
    key = ["doc_id", "type", "id", "version", "snap_ts", "clipped_wkt"]
    assert view.select(key).exceptAll(full.select(key)).count() == 0
    assert full.select(key).exceptAll(view.select(key)).count() == 0
    assert full.count() > 0
    assert verify_span_equality(docs_df, view) == 0


# ---------------------------------------------------------------------------
# ZoneIndex (STRtree-analog candidate lookup, GeometrySplitter.java:46-95)
# ---------------------------------------------------------------------------


def _grid_zones(n_side, size=1.0):
    zones = []
    for i in range(n_side):
        for j in range(n_side):
            x0, y0 = i * size, j * size
            zones.append((
                f"z_{i}_{j}",
                {"type": "Polygon", "coordinates": [[
                    [x0, y0], [x0 + size, y0], [x0 + size, y0 + size],
                    [x0, y0 + size], [x0, y0],
                ]]},
            ))
    return zones


def test_zone_index_candidates_superset_and_small():
    from oshdb_spark.geometry.polyclip import geometry_intersects_polygon
    from oshdb_spark.operators.zonal import ZoneIndex

    zones = _grid_zones(50)  # 2500 zones
    idx = ZoneIndex(zones)
    # a small feature bbox must get a small candidate set (sublinear in
    # zone count) that still contains every truly intersecting zone
    b = (10.4, 20.6, 10.9, 21.1)
    cands = idx.candidates(b)
    assert len(cands) <= 16  # O(1) buckets, not O(2500)
    feature = {"type": "Polygon", "coordinates": [[
        [b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]], [b[0], b[1]],
    ]]}
    truth = {
        k for k, g in zones if geometry_intersects_polygon(feature, g)
    }
    assert truth <= {idx.keys[i] for i in cands}


def test_zone_index_global_zone():
    from oshdb_spark.operators.zonal import ZoneIndex

    zones = _grid_zones(20)
    zones.append(("world", {"type": "Polygon", "coordinates": [[
        [-180, -90], [180, -90], [180, 90], [-180, 90], [-180, -90]]]}))
    idx = ZoneIndex(zones)
    assert any(idx.keys[i] == "world" for i in idx.candidates((5.5, 5.5, 5.6, 5.6)))


@pytest.mark.parametrize("rep", ["wkt", "packed"])
def test_zones_match_udf_many_zones(spark, rep):
    """2500-zone zonal tagging through the single-UDF indexed path: every
    point lands in its containing cell zone(s), whether the row carries a
    WKT string (node fast path) or packed geom bytes (the hot path)."""
    from pyspark.sql import functions as F

    from oshdb_spark.geometry.model import pack_geometry
    from oshdb_spark.operators.zonal import zones_match_udf

    zones = _grid_zones(50)
    pts = spark.range(500).select(
        F.col("id"),
        F.concat(
            F.lit("POINT ("),
            ((F.col("id") % 47) * 1.03 + 0.011).cast("string"),
            F.lit(" "),
            ((F.col("id") % 43) * 1.07 + 0.013).cast("string"),
        F.lit(")"),
        ).alias("wkt"),
    )
    if rep == "packed":
        @F.udf("binary")
        def _pack(i):
            return pack_geometry({
                "type": "Point",
                "coordinates": [(i % 47) * 1.03 + 0.011,
                                (i % 43) * 1.07 + 0.013],
            })
        pts = pts.select(
            "id", _pack("id").alias("geom"),
            F.lit(None).cast("string").alias("wkt"),
        )
        geom = F.col("geom")
    else:
        geom = F.lit(None).cast("binary")
    tagged = pts.withColumn(
        "zk", F.explode(zones_match_udf(zones)(geom, F.col("wkt")))
    )
    rows = tagged.collect()
    assert len(rows) == 500  # interior points -> exactly one zone each
    for r in rows:
        x = (r["id"] % 47) * 1.03 + 0.011
        y = (r["id"] % 43) * 1.07 + 0.013
        i, j = int(x // 1.0), int(y // 1.0)
        if i < 50 and j < 50:
            assert r["zk"] == f"z_{i}_{j}", (x, y, r["zk"])
