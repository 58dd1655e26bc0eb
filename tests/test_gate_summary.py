"""scripts/gate_summary.py names every run file it cannot read instead of
dropping it silently."""

from __future__ import annotations

import importlib.util
import os
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
SCRIPT = os.path.join(os.path.dirname(HERE), "scripts", "gate_summary.py")


def _module():
    spec = importlib.util.spec_from_file_location("gate_summary", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unreadable_run_files_are_reported(tmp_path, capsys):
    gs = _module()
    shutil.copy(
        os.path.join(os.path.dirname(SCRIPT), "gate_run_K.json"),
        tmp_path / "gate_run_K.json",
    )
    (tmp_path / "gate_run_Y.json").write_bytes(b"")  # zero-byte run file
    (tmp_path / "gate_run_Z.json").write_text("{not json")

    runs, skipped = gs.load_runs(str(tmp_path))
    err = capsys.readouterr().err

    assert [r["run"] for r in runs] == ["K"]
    assert skipped == ["gate_run_Y.json", "gate_run_Z.json"]
    assert "gate_run_Y.json" in err and "gate_run_Z.json" in err
    s = gs.summarize(runs, skipped)
    assert s["n_runs_stored"] == 1
    assert s["n_skipped"] == 2
    assert s["skipped_files"] == skipped
    assert "Skipped 2 unreadable run file(s)" in gs.to_markdown(s)


def test_committed_record_reads_cleanly():
    gs = _module()
    runs, skipped = gs.load_runs()
    assert runs and skipped == []
    assert gs.summarize(runs, skipped)["n_skipped"] == 0
