"""End-to-end spark-submit --py-files launch (the north rule's deployment
mode): package the engine with scripts/build_pyfiles.sh, launch
scripts/run_pipeline.py through a REAL spark-submit subprocess whose
PYTHONPATH does NOT contain the repo — the zip is the only way the
executors and driver can import oshdb_spark — and assert the pipeline
completes, holds the span-sequence invariant, writes exactly the rows of
the in-process snapshot view, and resumes from its per-bucket lineage
manifests on a second identical invocation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BBOX = (-60, -40, 60, 40)
TS = [1262304000, 1325376000]
N_BUCKETS = 4

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


@pytest.fixture(scope="module")
def pyfiles_zip():
    subprocess.run(
        ["bash", "scripts/build_pyfiles.sh"], cwd=REPO, check=True,
        capture_output=True,
    )
    return os.path.join(REPO, "dist", "oshdb_spark.zip")


def _submit(pyfiles_zip, docs, out, tmp):
    """One spark-submit invocation from a neutral cwd with the repo
    stripped from the import path."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must supply the package
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--py-files", pyfiles_zip,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--docs", docs,
            # = form: a leading "-60" would otherwise parse as an option
            "--bbox=" + ",".join(str(v) for v in BBOX),
            "--timestamps", ",".join(str(t) for t in TS),
            "--out", out,
            "--buckets", str(N_BUCKETS),
        ],
        cwd=str(tmp),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the report is the last JSON line on stdout (Spark noise is stderr)
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    assert lines, (
        f"no JSON report line\nstdout tail:\n{proc.stdout[-2000:]}"
        f"\nstderr tail:\n{proc.stderr[-2000:]}"
    )
    return json.loads(lines[-1])


def test_pyfiles_launch_and_resume(spark, pyfiles_zip, tmp_path):
    from oshdb_spark.operators.snapshot import snapshot_view
    from oshdb_spark.plans.lineage import input_fingerprint, read_output
    from oshdb_spark.sources.docs import write_docs_parquet
    from oshdb_spark.sources.entities import extract_entities

    docs = str(tmp_path / "docs.parquet")
    write_docs_parquet(docs, n_features=120, seed=42)
    out = str(tmp_path / "result")

    first = _submit(pyfiles_zip, docs, out, tmp_path)
    assert first["rows_written"] > 0
    assert first["span_violations"] == 0
    assert first["buckets_run"] == N_BUCKETS

    # the committed output holds exactly the in-process snapshot rows
    docs_df = spark.read.parquet(docs)
    key = ["type", "id", "version", "snap_ts"]
    written = read_output(spark, out, N_BUCKETS, input_fingerprint(docs_df))
    got = [tuple(r) for r in written.select(*key).collect()]
    exp = {
        tuple(r)
        for r in snapshot_view(
            extract_entities(docs_df), TS, bbox_deg=BBOX
        ).select(*key).collect()
    }
    assert len(got) == first["rows_written"] == len(set(got))
    assert set(got) == exp

    # identical re-invocation: every bucket's lineage manifest is already
    # committed, so the resumable writer runs zero buckets
    second = _submit(pyfiles_zip, docs, out, tmp_path)
    assert second["buckets_run"] == 0
    assert second["span_violations"] == 0
