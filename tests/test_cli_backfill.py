"""CLI-level backfill: main.py runs the reference's FULL object+line gate
from --manifest/--trigger-source/--event-time (app.go:322-368), plus the
trigger-line exemption in the coarse --event-time path (run_pipeline_parsed
with trigger_source).

The CLI test runs main.py in a subprocess (main() owns and stops its own
SparkSession — calling it in-process would kill the shared test session).
"""

import json
import subprocess
import sys
from datetime import datetime

from cflog2otel_spark.config import Config
from cflog2otel_spark.pipeline import run_pipeline
from cflog2otel_spark.sources.tokenized import read_cf_log_file, tokenized_df_from_lines

from .conftest import CF_LOG, CF_LOG2, CONFIGS, REPO, SOURCE1, SOURCE2

RT2 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT2KCN4SGK9.gz"
EVENT_TIME = "2019-12-01 22:56:00"
MANIFEST = {
    RT2: "2019-12-01 22:05:00",      # object gate: 51m > 30m -> skipped
    SOURCE2: "2019-12-01 22:40:00",  # read; line gate applies
    SOURCE1: "2019-12-01 22:52:00",  # the trigger
}


def test_cli_manifest_backfill(spark, tmp_path):
    _, lines1 = read_cf_log_file(CF_LOG)
    _, lines2 = read_cf_log_file(CF_LOG2)
    corpus = (
        tokenized_df_from_lines(spark, lines1, SOURCE1)
        .union(tokenized_df_from_lines(spark, lines2, SOURCE2))
        .union(tokenized_df_from_lines(spark, lines2, RT2))
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    manifest_path = tmp_path / "manifest.json"
    manifest_path.write_text(json.dumps(MANIFEST))
    out_dir = str(tmp_path / "sinks")

    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/backfil_config.json",
            "--input", corpus_path,
            "--out", out_dir,
            "--event-time", EVENT_TIME,
            "--trigger-source", SOURCE1,
            "--manifest", str(manifest_path),
            "--master", "local[2]",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    sink = spark.read.parquet(f"{out_dir}/http.server.http_requests")
    rows = {
        (r["window_start"], r["attrs"][0]["value"]): r["value"]
        for r in sink.collect()
    }
    # e2e_backfill golden: RT2 dropped by the object gate, SOURCE2's 22:10
    # lines dropped by the line gate, trigger lines all kept
    assert rows == {
        (datetime(2019, 12, 1, 22, 39), "4xx"): 3,
        (datetime(2019, 12, 1, 22, 42), "2xx"): 3,
        (datetime(2019, 12, 1, 22, 51), "5xx"): 3,
    }


def test_run_pipeline_event_time_exempts_trigger(spark):
    """A trigger file containing lines older than the tolerance still
    aggregates them when trigger_source is passed (app.go:324); without it
    the coarse gate drops them (documented deviation)."""
    _, lines2 = read_cf_log_file(CF_LOG2)  # 22:10 and 22:39 lines
    corpus = tokenized_df_from_lines(spark, lines2, SOURCE2)
    cfg = Config.load(f"{CONFIGS}/backfil_config.json")  # 30m tolerance

    kept = run_pipeline(
        spark, cfg, corpus,
        event_time=EVENT_TIME, trigger_source=SOURCE2,
    )
    total = sum(r["value"] for r in kept.sinks[cfg.metrics[0].name].collect())
    assert total == 6  # all lines, incl. the 22:10 ones

    coarse = run_pipeline(
        spark, cfg, corpus, event_time=EVENT_TIME,
    )
    total = sum(r["value"] for r in coarse.sinks[cfg.metrics[0].name].collect())
    assert total == 3  # 22:10 lines gated without the trigger exemption


def test_cli_resume_skips_completed_sources(spark, tmp_path):
    """--resume + --checkpoint-dir: a second run over the same corpus
    processes 0 rows (every source marked done by the first manifest)."""
    _, lines1 = read_cf_log_file(CF_LOG)
    corpus = tokenized_df_from_lines(spark, lines1, SOURCE1)
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    ckpt = str(tmp_path / "ckpt")

    def run(extra):
        return subprocess.run(
            [
                sys.executable, "main.py",
                "--config", f"{CONFIGS}/request_count_for_5xx.json",
                "--input", corpus_path,
                "--checkpoint-dir", ckpt,
                "--master", "local[2]",
            ] + extra,
            cwd=REPO, capture_output=True, text=True, timeout=420,
        )

    p1 = run([])
    assert p1.returncode == 0, p1.stderr[-2000:]
    stats1 = json.loads([l for l in p1.stderr.splitlines() if '"run"' in l][-1])
    assert stats1["run"]["rows"] == 6

    p2 = run(["--resume"])
    assert p2.returncode == 0, p2.stderr[-2000:]
    stats2 = json.loads([l for l in p2.stderr.splitlines() if '"run"' in l][-1])
    assert stats2["run"]["rows"] == 0


def test_cli_auto_manifest_backfill(spark, tmp_path):
    """--backfill-auto-manifest: the manifest is derived from a directory
    listing (file mtimes as LastModified, the local ListObjectsV2 stand-in,
    app.go:322-336) and reproduces the e2e_backfill golden exactly."""
    import os
    from datetime import timezone

    _, lines1 = read_cf_log_file(CF_LOG)
    _, lines2 = read_cf_log_file(CF_LOG2)
    corpus = (
        tokenized_df_from_lines(spark, lines1, SOURCE1)
        .union(tokenized_df_from_lines(spark, lines2, SOURCE2))
        .union(tokenized_df_from_lines(spark, lines2, RT2))
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)

    # materialize the "bucket": one file per object key, mtime = the
    # LastModified the JSON manifest test pins
    bucket = tmp_path / "bucket"
    for key, lm in MANIFEST.items():
        p = bucket / key
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"")
        ts = datetime.fromisoformat(lm).replace(tzinfo=timezone.utc).timestamp()
        os.utime(p, (ts, ts))
    out_dir = str(tmp_path / "sinks")

    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/backfil_config.json",
            "--input", corpus_path,
            "--out", out_dir,
            "--event-time", EVENT_TIME,
            "--trigger-source", SOURCE1,
            "--backfill-auto-manifest", str(bucket),
            "--master", "local[2]",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    sink = spark.read.parquet(f"{out_dir}/http.server.http_requests")
    rows = {
        (r["window_start"], r["attrs"][0]["value"]): r["value"]
        for r in sink.collect()
    }
    assert rows == {
        (datetime(2019, 12, 1, 22, 39), "4xx"): 3,
        (datetime(2019, 12, 1, 22, 42), "2xx"): 3,
        (datetime(2019, 12, 1, 22, 51), "5xx"): 3,
    }
