"""tools/run_pipeline.py end to end on the smallest testdata: a first run
writes every row and completes every bucket, a re-run resumes to zero."""

import importlib.util
from pathlib import Path

from conftest import SF_DIR

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "run_pipeline.py"


def _load_tool():
    spec = importlib.util.spec_from_file_location("run_pipeline", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _summary(line):
    return dict(f.split("=", 1) for f in line.split(" metrics=")[0].split())


def test_run_pipeline_writes_then_resumes(spark, tmp_path):
    tool = _load_tool()
    argv = [
        "--input", SF_DIR, "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "8",
    ]
    first = _summary(tool.run(spark, tool.parse_args(argv + ["--run-id", "r1"])))
    written = spark.read.parquet(str(tmp_path / "out")).count()
    assert int(first["wrote_rows"]) == written > 0
    assert first["completed_buckets"] == "8/8"

    again = tool.run(spark, tool.parse_args(argv + ["--run-id", "r2"]))
    second = _summary(again)
    assert second["wrote_rows"] == "0"
    assert second["completed_buckets"] == "8/8"
    assert "'rows_written': 0.0" in again
