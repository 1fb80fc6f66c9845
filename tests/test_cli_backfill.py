"""CLI-level invocation scoping (operators/backfill.invocation_rows): main.py
runs the reference's FULL object+line gate (app.go:322-368) for a trigger
object given by --trigger-source or an S3 record, with --event-time or the
record's eventTime and a --manifest/--backfill-auto-manifest listing; a
trigger without them aggregates its own object alone; with no trigger the
whole input is one invocation, line-gated by --event-time.

The CLI tests run main.py in a subprocess (main() owns and stops its own
SparkSession — calling it in-process would kill the shared test session).
The inputs are the hand-written FIXTURES.md §1/§5 objects of conftest.py.
"""

import json
import subprocess
import sys
from datetime import datetime

from cflog2otel_spark.config import Config
from cflog2otel_spark.operators.backfill import invocation_rows
from cflog2otel_spark.pipeline import parse_and_enrich, run_pipeline_parsed
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import CF_LINES, CF_LINES2, CONFIGS, REPO, RT2, SOURCE1, SOURCE2

# the FIXTURES.md §5 data points: RT2 dropped by the object gate, SOURCE2's
# 22:10 lines by the line gate, the trigger's lines all kept
BACKFILL_GOLDEN = {
    (datetime(2019, 12, 1, 22, 39), "4xx"): 3,
    (datetime(2019, 12, 1, 22, 42), "2xx"): 3,
    (datetime(2019, 12, 1, 22, 51), "5xx"): 3,
}
EVENT_TIME = "2019-12-01 22:56:00"
MANIFEST = {
    RT2: "2019-12-01 22:05:00",      # object gate: 51m > 30m -> skipped
    SOURCE2: "2019-12-01 22:40:00",  # read; line gate applies
    SOURCE1: "2019-12-01 22:52:00",  # the trigger
}


def _backfill_corpus(spark, tmp_path) -> str:
    """The three §5 objects as a parquet corpus; returns its path."""
    corpus = (
        tokenized_df_from_lines(spark, CF_LINES, SOURCE1)
        .union(tokenized_df_from_lines(spark, CF_LINES2, SOURCE2))
        .union(tokenized_df_from_lines(spark, CF_LINES2, RT2))
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    return corpus_path


def _main(*args, timeout=420):
    return subprocess.run(
        [sys.executable, "main.py", *args, "--master", "local[2]"],
        cwd=REPO, capture_output=True, text=True, timeout=timeout,
    )


def _requests(spark, sink_dir) -> dict:
    sink = spark.read.parquet(f"{sink_dir}/http.server.http_requests")
    return {(r["window_start"], r["attrs"][0]["value"]): r["value"] for r in sink.collect()}


def test_cli_manifest_backfill(spark, tmp_path):
    corpus_path = _backfill_corpus(spark, tmp_path)
    manifest_path = tmp_path / "manifest.json"
    manifest_path.write_text(json.dumps(MANIFEST))
    out_dir = str(tmp_path / "sinks")

    proc = _main(
        "--config", f"{CONFIGS}/backfil_config.json",
        "--input", corpus_path,
        "--out", out_dir,
        "--event-time", EVENT_TIME,
        "--trigger-source", SOURCE1,
        "--manifest", str(manifest_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _requests(spark, out_dir) == BACKFILL_GOLDEN


def test_run_pipeline_event_time_exempts_trigger(spark):
    """A trigger file containing lines older than the tolerance still
    aggregates them (app.go:324); the whole input, with no trigger, is
    line-gated by the event time."""
    corpus = tokenized_df_from_lines(spark, CF_LINES2, SOURCE2)  # 22:10 and 22:39 lines
    cfg = Config.load(f"{CONFIGS}/backfil_config.json")  # 30m tolerance
    parsed = parse_and_enrich(corpus, cfg)

    def total(rows) -> int:
        res = run_pipeline_parsed(spark, cfg, rows)
        return sum(r["value"] for r in res.points()[cfg.metrics[0].name])

    # all lines, incl. the 22:10 ones
    assert total(invocation_rows(parsed, cfg.backfill, SOURCE2, EVENT_TIME)) == 6
    # 22:10 lines gated without a trigger to exempt them
    assert total(invocation_rows(parsed, cfg.backfill, None, EVENT_TIME)) == 3


def test_cli_trigger_source_without_manifest_scopes_to_trigger(spark, tmp_path):
    """--trigger-source with --event-time and no manifest is one S3 record
    without a listing: the trigger object alone, every line of it, and
    nothing of the other objects."""
    corpus_path = _backfill_corpus(spark, tmp_path)
    out_dir = str(tmp_path / "sinks")
    proc = _main(
        "--config", f"{CONFIGS}/backfil_config.json",
        "--input", corpus_path,
        "--out", out_dir,
        "--event-time", EVENT_TIME,
        "--trigger-source", SOURCE2,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _requests(spark, out_dir) == {
        (datetime(2019, 12, 1, 22, 10), "3xx"): 3,
        (datetime(2019, 12, 1, 22, 39), "4xx"): 3,
    }


def test_cli_s3_event_backfill_gates(spark, tmp_path):
    """An S3 record with backfill on and --manifest goes through the object
    and line gates; a record whose eventTime is empty runs as its trigger
    object alone."""
    corpus_path = _backfill_corpus(spark, tmp_path)
    manifest_path = tmp_path / "manifest.json"
    manifest_path.write_text(json.dumps(MANIFEST))

    def rec(key, event_time):
        return {
            "eventSource": "aws:s3",
            "eventTime": event_time,
            "s3": {"bucket": {"name": "example-bucket"}, "object": {"key": key}},
        }

    event_path = tmp_path / "event.json"
    event_path.write_text(json.dumps({"Records": [
        rec(SOURCE1, "2019-12-01T22:56:00.000Z"), rec(SOURCE2, ""),
    ]}))
    out = tmp_path / "sinks"
    proc = _main(
        "--config", f"{CONFIGS}/backfil_config.json",
        "--input", corpus_path,
        "--out", str(out),
        "--s3-event", str(event_path),
        "--manifest", str(manifest_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _requests(spark, out / "record_0") == BACKFILL_GOLDEN
    assert _requests(spark, out / "record_1") == {
        (datetime(2019, 12, 1, 22, 10), "3xx"): 3,
        (datetime(2019, 12, 1, 22, 39), "4xx"): 3,
    }


def test_cli_resume_skips_completed_sources(spark, tmp_path):
    """--resume + --checkpoint-dir: a second run over the same corpus
    processes 0 rows (every source marked done by the first manifest)."""
    corpus = tokenized_df_from_lines(spark, CF_LINES, SOURCE1)
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    ckpt = str(tmp_path / "ckpt")

    def run(*extra):
        return _main(
            "--config", f"{CONFIGS}/request_count_for_5xx.json",
            "--input", corpus_path,
            "--checkpoint-dir", ckpt,
            *extra,
        )

    p1 = run()
    assert p1.returncode == 0, p1.stderr[-2000:]
    stats1 = json.loads([l for l in p1.stderr.splitlines() if '"run"' in l][-1])
    assert stats1["run"]["rows"] == 6

    p2 = run("--resume")
    assert p2.returncode == 0, p2.stderr[-2000:]
    stats2 = json.loads([l for l in p2.stderr.splitlines() if '"run"' in l][-1])
    assert stats2["run"]["rows"] == 0


def test_cli_auto_manifest_backfill(spark, tmp_path):
    """--backfill-auto-manifest: the manifest is derived from a directory
    listing (file mtimes as LastModified, the local ListObjectsV2 stand-in,
    app.go:322-336) and reproduces the §5 data points exactly."""
    import os
    from datetime import timezone

    corpus_path = _backfill_corpus(spark, tmp_path)

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

    proc = _main(
        "--config", f"{CONFIGS}/backfil_config.json",
        "--input", corpus_path,
        "--out", out_dir,
        "--event-time", EVENT_TIME,
        "--trigger-source", SOURCE1,
        "--backfill-auto-manifest", str(bucket),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _requests(spark, out_dir) == BACKFILL_GOLDEN
