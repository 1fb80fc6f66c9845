"""main.py's batch path in two phases: every usage error exits 2 before a
SparkSession is asked for, and an invocation marks its sources done in
--checkpoint-dir only after all of its outputs are out."""

import gzip
import json
import socket
import subprocess
import sys

import pytest

from .conftest import CF_LOG_TEXT, CONFIGS, REPO, SOURCE1


def _no_endpoint_config(tmp_path) -> str:
    with open(f"{CONFIGS}/request_count_by_status_category.json") as fh:
        doc = json.load(fh)
    del doc["otel"]["endpoint"]
    path = tmp_path / "no_endpoint.json"
    path.write_text(json.dumps(doc))
    return str(path)


@pytest.mark.parametrize("case", ["no_endpoint", "resume", "s3_url", "text_key", "no_grpc"])
def test_usage_errors_exit_before_spark(case, tmp_path, monkeypatch, capsys):
    import main as main_mod
    from cflog2otel_spark import export, session

    def no_spark(*a, **k):
        raise AssertionError("get_spark called for a usage error")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(export, "GRPC_AVAILABLE", False)
    config = ["--config", f"{CONFIGS}/request_count_by_status_category.json"]
    missing = str(tmp_path / "missing")
    argv = {
        "no_endpoint": ["--config", _no_endpoint_config(tmp_path), "--input", missing,
                        "--export-otlp"],
        "resume": [*config, "--input", missing, "--resume"],
        "s3_url": [*config, "--input", missing, "--s3-url", "http://x/y"],
        "text_key": [*config, "--text-input", f"{tmp_path}/a.gz", "--trigger-source", SOURCE1],
        "no_grpc": [*config, "--input", missing, "--export-otlp-grpc", "localhost:4317"],
    }[case]
    assert main_mod.main(argv) == 2
    assert capsys.readouterr().err.strip()


def test_failed_export_marks_no_source_done(tmp_path):
    """The manifest is written after the export: when the collector cannot
    be reached, the run fails with one stderr line naming the S3 record's
    object and the endpoint, and --resume still sees the object as not
    done."""
    from cflog2otel_spark.lineage import completed_sources

    log = tmp_path / SOURCE1
    log.parent.mkdir(parents=True)
    log.write_bytes(gzip.compress(CF_LOG_TEXT.encode()))
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]  # closed once the block ends
    endpoint = f"http://127.0.0.1:{port}"
    ckpt = tmp_path / "ckpt"
    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/request_count_by_status_category.json",
            "--text-input", str(log),
            "--s3-url", f"s3://example-bucket/{SOURCE1}",
            "--checkpoint-dir", str(ckpt),
            "--export-otlp", endpoint,
            "--master", "local[2]",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert "Traceback" not in proc.stderr, proc.stderr[-2000:]
    (line,) = [ln for ln in proc.stderr.splitlines() if endpoint in ln]
    assert SOURCE1 in line and "failed" in line, line
    assert completed_sources(str(ckpt)) == set()
