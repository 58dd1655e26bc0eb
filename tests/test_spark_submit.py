"""End-to-end spark-submit --py-files launch (the north rule's deployment
mode): package the engine with scripts/build_pyfiles.sh, launch
scripts/run_pipeline.py through a REAL spark-submit subprocess whose
PYTHONPATH does NOT contain the repo — the zip is the only way the
executors and driver can import oshdb_spark — and assert the pipeline
completes, holds the span-sequence invariant, and resumes from its
per-bucket lineage manifests on a second identical invocation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
            "--bbox=-60,-40,60,40",
            "--timestamps", "1262304000,1325376000",
            "--out", out,
            "--buckets", "4",
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


def test_pyfiles_launch_and_resume(pyfiles_zip, tmp_path):
    from oshdb_spark.sources.docs import write_docs_parquet

    docs = str(tmp_path / "docs.parquet")
    write_docs_parquet(docs, n_features=120, seed=42)
    out = str(tmp_path / "result")

    first = _submit(pyfiles_zip, docs, out, tmp_path)
    assert first["rows_written"] > 0
    assert first["span_violations"] == 0
    assert first["buckets_run"] == 4

    # identical re-invocation: every bucket's lineage manifest is already
    # committed, so the resumable writer runs zero buckets
    second = _submit(pyfiles_zip, docs, out, tmp_path)
    assert second["buckets_run"] == 0
    assert second["span_violations"] == 0
