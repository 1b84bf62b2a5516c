"""CLI surface (≙ reference CLI design.md:2440-2456) + YAML config."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from audio_feature_extraction_spark.core.pipeline_config import PipelineConfig

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_config_from_yaml(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(
        "frame:\n  frame_len: 8\n  hop: 4\n"
        "preprocess:\n  target_length: 32\n  pad_mode: reflect\n"
        "writer:\n  format: magnitude_only\n"
        "extractor: mel\n"
    )
    cfg = PipelineConfig.from_yaml(str(p))
    assert cfg.frame.frame_len == 8 and cfg.frame.hop == 4
    assert cfg.preprocess.pad_mode == "reflect"
    assert cfg.writer.format == "magnitude_only"
    assert cfg.extractor == "mel"


def test_config_rejects_bad_frame():
    with pytest.raises(ValueError):
        PipelineConfig.from_dict({"frame": {"frame_len": 4, "hop": 8}})


@pytest.mark.slow
def test_cli_extract_and_reconstruct(tmp_path):
    """Real process, real CLI — extract then exact reconstruct."""
    out = subprocess.run(
        [sys.executable, "-m", "audio_feature_extraction_spark.cli", "extract",
         "--input", "/root/testdata/sf0.001", "--output", str(tmp_path / "ds"),
         "--split"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-500:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["rows"] > 0

    out2 = subprocess.run(
        [sys.executable, "-m", "audio_feature_extraction_spark.cli", "reconstruct",
         "--input", "/root/testdata/sf0.001", "--output", str(tmp_path / "rec")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out2.returncode == 0, out2.stderr[-500:]
    rep2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert rep2["mismatches"] == 0 and rep2["docs"] == 500


@pytest.mark.slow
def test_cli_pit(tmp_path):
    out = subprocess.run(
        [sys.executable, "-m", "audio_feature_extraction_spark.cli", "pit",
         "--input", "/root/testdata/sf0.001", "--output", str(tmp_path / "pit")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-500:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["probes"] > 0 and rep["served"] <= rep["probes"]


@pytest.mark.slow
def test_cli_extract_snapshot_resume(tmp_path):
    """extract --snapshot routes through SnapshotPipeline: a second run
    over the same input is a no-op (all units already committed) and the
    output is identical — the crash-window-free resume path."""
    args = [
        sys.executable, "-m", "audio_feature_extraction_spark.cli", "extract",
        "--input", "/root/testdata/sf0.001", "--output", str(tmp_path / "ds"),
        "--snapshot", "--units", "8",
    ]
    out1 = subprocess.run(
        args, capture_output=True, text=True, cwd=ROOT, timeout=600
    )
    assert out1.returncode == 0, out1.stderr[-500:]
    rep1 = json.loads(out1.stdout.strip().splitlines()[-1])
    assert rep1["rows"] > 0 and rep1["resume"] == "snapshot"

    out2 = subprocess.run(
        args, capture_output=True, text=True, cwd=ROOT, timeout=600
    )
    assert out2.returncode == 0, out2.stderr[-500:]
    rep2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert rep2["rows"] == rep1["rows"]  # rerun adds nothing


@pytest.mark.slow
def test_cli_probe(tmp_path, spark):
    """Real process probe over a mixed media parquet: every good payload
    classified by container, the corrupt one recorded as an error row."""
    from tests.test_multimodal_probe import _fixture_payloads

    rows = [(k, v) for k, v in _fixture_payloads().items()]
    rows.append(("broken", b"\x00notacontainer"))
    src = tmp_path / "media"
    spark.createDataFrame(rows, "media_id string, payload binary").write.parquet(
        str(src)
    )
    out = subprocess.run(
        [sys.executable, "-m", "audio_feature_extraction_spark.cli", "probe",
         "--input", str(src), "--output", str(tmp_path / "meta")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-500:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["by_container"] == {
        "wav": 1, "flac": 1, "mp3": 1, "ogg": 1, "png": 1, "bmp": 1,
        "ERROR": 1,
    }
