"""SQS/SNS/S3 event unwrapping (app.go:58-203) — parity with the
reference's TestUnwrapEvent_* (app_test.go:152-170) plus the SNS forms the
Go code handles, and a CLI e2e where the Lambda event scopes the run to the
trigger object and still gives the FIXTURES.md §4 data points. The events
and log lines are conftest.py's hand-written ones."""

import json
import subprocess
import sys

from cflog2otel_spark.sources.events import (
    collect_s3_records,
    s3_record_context,
    unwrap_event,
)

from .conftest import (
    CF_LINES,
    CF_LINES2,
    CF_LOG_TEXT,
    CONFIGS,
    REPO,
    RT2,
    S3_NOTIFICATION,
    SOURCE1,
    SOURCE2,
    SQS_EVENT,
)

# config 1 over SOURCE1 (FIXTURES.md §4): {2xx@22:42: 3, 5xx@22:51: 3}
GOLDEN_CONFIG1 = (
    {"aws.cloudfront.distribution_id": "EMLARXS9EXAMPLE", "service.name": "Amazon CloudFront"},
    "http.server.requests",
    {("2019-12-01T22:42:00Z", "2xx"): 3, ("2019-12-01T22:51:00Z", "5xx"): 3},
)


def _golden_points(stdout: str) -> tuple:
    """(resource attributes, metric name, {(StartTime, first attribute):
    value}) of the one golden tree --golden-stdout printed."""
    tree = json.loads(stdout)
    resource = {a["Key"]: a["Value"]["Value"] for a in tree["Resource"]}
    (metric,) = tree["ScopeMetrics"][0]["Metrics"]
    points = {
        (dp["StartTime"], dp["Attributes"][0]["Value"]["Value"]): dp["Value"]
        for dp in metric["Data"]["DataPoints"]
    }
    return resource, metric["Name"], points


def _corpus(spark, tmp_path) -> str:
    """SOURCE1 plus SOURCE2 as a decoy object, as parquet; returns its path."""
    from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

    corpus = tokenized_df_from_lines(spark, CF_LINES, SOURCE1).union(
        tokenized_df_from_lines(spark, CF_LINES2, SOURCE2)
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    return corpus_path


def test_unwrap_s3_notification_passes_through():
    # app_test.go:152-159
    raw = S3_NOTIFICATION
    out = unwrap_event(raw)
    assert len(out) == 1
    assert json.loads(out[0] if isinstance(out[0], str) else json.dumps(out[0])) == json.loads(raw)


def test_unwrap_sqs_event_yields_inner_s3_notification():
    # app_test.go:161-170
    out = unwrap_event(SQS_EVENT)
    assert len(out) == 1
    assert json.loads(out[0]) == json.loads(S3_NOTIFICATION)


def test_unwrap_sns_forms():
    s3 = S3_NOTIFICATION
    wrapped = json.dumps(
        {"Records": [{"EventSource": "aws:sns", "Sns": {"Message": s3}}]}
    )
    assert json.loads(unwrap_event(wrapped)[0]) == json.loads(s3)
    # bare SNSEntity (app.go:140-155)
    entity = json.dumps({"MessageId": "m-1", "Message": s3})
    assert json.loads(unwrap_event(entity)[0]) == json.loads(s3)
    # SQS wrapping SNS wrapping S3 — the composed pipeline unwraps both
    sqs_sns = json.dumps(
        {"Records": [{"eventSource": "aws:sqs", "body": wrapped}]}
    )
    assert json.loads(unwrap_event(sqs_sns)[0]) == json.loads(s3)


def test_unwrap_non_event_passthrough():
    assert unwrap_event("not json at all") == ["not json at all"]
    assert unwrap_event('{"foo": 1}') == ['{"foo": 1}']
    # Records present but not SQS/SNS -> original event unchanged
    mixed = json.dumps({"Records": [{"eventSource": "aws:kinesis"}]})
    assert unwrap_event(mixed) == [mixed]


def test_collect_s3_records_and_context():
    for event in (S3_NOTIFICATION, SQS_EVENT):
        recs = collect_s3_records(event)
        assert len(recs) == 1
        ctx = s3_record_context(recs[0])
        assert ctx["source"] == "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT4KCN4SGK9.gz"
        assert ctx["event_time"] == "2019-12-01T22:56:00.000Z"
        assert ctx["bucket_name"] == "example-bucket"
        assert ctx["bucket_arn"] == "arn:aws:s3:::example-bucket"
        assert ctx["object_size"] == 1024
    assert collect_s3_records('{"foo": 1}') == []


def test_cli_s3_event_scopes_to_trigger_and_matches_golden(spark, tmp_path):
    """main.py --s3-event: the SQS-wrapped notification scopes the run to
    its object key — a decoy object in the corpus contributes nothing — and
    the output is the config's golden data points."""
    corpus_path = _corpus(spark, tmp_path)
    event_path = tmp_path / "sqs_event.json"
    event_path.write_text(SQS_EVENT)

    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/request_count_by_status_category.json",
            "--input", corpus_path,
            "--s3-event", str(event_path),
            "--golden-stdout",
            "--master", "local[2]",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _golden_points(proc.stdout) == GOLDEN_CONFIG1


def test_unwrap_mixed_records_streams_then_yields_original():
    """Exact Go loop order (app.go:92-104): bodies yield as encountered;
    the first non-SQS record yields the ORIGINAL event and stops — bodies
    already yielded stay yielded."""
    mixed = json.dumps(
        {
            "Records": [
                {"eventSource": "aws:sqs", "body": "first-body"},
                {"eventSource": "aws:kinesis"},
                {"eventSource": "aws:sqs", "body": "never-reached"},
            ]
        }
    )
    assert unwrap_event(mixed) == ["first-body", mixed]


def test_cli_multi_record_event_writes_per_record_sinks(spark, tmp_path):
    """Two S3 records in one event -> two scoped runs, sinks under
    record_0/ and record_1/ (the reference aggregates per notification)."""
    corpus_path = _corpus(spark, tmp_path)

    def rec(key):
        return {
            "eventSource": "aws:s3",
            "eventTime": "2019-12-01T23:30:00.000Z",
            "s3": {"bucket": {"name": "b"}, "object": {"key": key}},
        }

    event_path = tmp_path / "event.json"
    event_path.write_text(json.dumps({"Records": [rec(SOURCE1), rec(SOURCE2)]}))
    out = tmp_path / "sinks"
    ckpt = tmp_path / "ckpt"

    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/request_count_by_status_category.json",
            "--input", corpus_path,
            "--s3-event", str(event_path),
            "--out", str(out),
            "--checkpoint-dir", str(ckpt),
            "--master", "local[2]",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    s0 = spark.read.parquet(str(out / "record_0" / "http.server.requests"))
    s1 = spark.read.parquet(str(out / "record_1" / "http.server.requests"))
    assert sum(r["value"] for r in s0.collect()) == 6  # SOURCE1's lines only
    assert sum(r["value"] for r in s1.collect()) == 6  # SOURCE2's lines only

    # VERDICT r3 #3: one manifest per record — BOTH records' sources must be
    # marked done, so a --resume run skips both (previously only record 0's
    # manifest was written and record 1 would re-process)
    from cflog2otel_spark.lineage import completed_sources, resume_filter

    assert completed_sources(str(ckpt)) == {SOURCE1, SOURCE2}
    assert resume_filter(spark.read.parquet(corpus_path), str(ckpt)).count() == 0
    # each record's manifest records its own invocation's throughput
    manifests = [json.loads(p.read_text()) for p in ckpt.glob("manifest_*.json")]
    assert [m["throughput"]["rows"] for m in manifests] == [6, 6]


def test_dummy_s3_notification_shape():
    """-s3-url parity: the synthesized event carries the reference's
    constant fields (main.go:153-185) and flows through the normal
    record collection + context binding."""
    from cflog2otel_spark.sources.events import dummy_s3_notification

    ev = dummy_s3_notification("s3://example-bucket/logs/a.gz")
    recs = collect_s3_records(ev)
    assert len(recs) == 1
    ctx = s3_record_context(recs[0])
    assert ctx["source"] == "logs/a.gz"
    assert ctx["bucket_name"] == "example-bucket"
    assert ctx["bucket_arn"] == "arn:aws:s3:::example-bucket"
    assert ctx["object_size"] == 1024
    assert ctx["object_etag"] == "0123456789abcdef0123456789abcdef"
    assert ctx["object_sequencer"] == "0A1B2C3D4E5F678901"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="invalid s3 url"):
        dummy_s3_notification("http://not-s3/x")


def test_cli_s3_url_scopes_and_matches_golden(spark, tmp_path):
    """main.py --s3-url (reference -s3-url): the URL-synthesized dummy
    notification scopes the run exactly like a real event; --log-level and
    --log-prettify are accepted and prettify the stderr stats JSON."""
    corpus_path = _corpus(spark, tmp_path)

    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/request_count_by_status_category.json",
            "--input", corpus_path,
            "--s3-url", f"s3://example-bucket/{SOURCE1}",
            "--golden-stdout",
            "--log-level", "warn",
            "--log-prettify",
            "--master", "local[2]",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _golden_points(proc.stdout) == GOLDEN_CONFIG1


def test_cli_text_input_trigger_reads_the_file_its_key_names(tmp_path):
    """With --text-input, an S3 record's key names the file that holds its
    lines (a path ending in `/<key>`): the run aggregates that file alone,
    with the key as its object key, and a key that names no file exits 2
    naming the key. With backfill on and a manifest, the manifest's keys
    name the siblings' files too; one with no file (RT2) is not read, and
    the gates give the FIXTURES.md §5 data points."""
    import gzip
    import os

    header = "".join(CF_LOG_TEXT.splitlines(keepends=True)[:2])
    texts = {SOURCE1: CF_LOG_TEXT, SOURCE2: header + "".join(f"{x}\n" for x in CF_LINES2)}
    paths = []
    for key, text in texts.items():
        path = tmp_path / key
        os.makedirs(path.parent, exist_ok=True)
        path.write_bytes(gzip.compress(text.encode()))
        paths.append(str(path))

    def run(config: str, *trigger: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [
                sys.executable, "main.py",
                "--config", f"{CONFIGS}/{config}",
                "--text-input", *paths,
                *trigger,
                "--golden-stdout",
                "--master", "local[2]",
            ],
            cwd=REPO, capture_output=True, text=True, timeout=420,
        )

    config1 = "request_count_by_status_category.json"
    proc = run(config1, "--s3-url", f"s3://example-bucket/{SOURCE1}")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _golden_points(proc.stdout) == GOLDEN_CONFIG1

    missing = SOURCE1.replace("RT4", "RT9")
    proc = run(config1, "--s3-url", f"s3://example-bucket/{missing}")
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert repr(missing) in proc.stderr and proc.stdout == ""

    manifest = tmp_path / "manifest.json"
    manifest.write_text(json.dumps({
        RT2: "2019-12-01 22:05:00",
        SOURCE2: "2019-12-01 22:40:00",
        SOURCE1: "2019-12-01 22:52:00",
    }))
    proc = run(
        "backfil_config.json", "--trigger-source", SOURCE1,
        "--event-time", "2019-12-01 22:56:00", "--manifest", str(manifest),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _golden_points(proc.stdout)[2] == {
        ("2019-12-01T22:39:00Z", "4xx"): 3,
        ("2019-12-01T22:42:00Z", "2xx"): 3,
        ("2019-12-01T22:51:00Z", "5xx"): 3,
    }


def test_env_to_flag_fallback(monkeypatch):
    """flagx.EnvToFlag parity (main.go:50): $CONFIG / $S3_URL / $LOG_LEVEL /
    $RENDER_CONFIG fill in absent flags."""
    import main as main_mod

    monkeypatch.setenv("CONFIG", "configs/switch_case.json")
    monkeypatch.setenv("S3_URL", "s3://b/k.gz")
    monkeypatch.setenv("LOG_LEVEL", "error")
    monkeypatch.setenv("RENDER_CONFIG", "true")
    args = main_mod.parse_args([])
    assert args.config == "configs/switch_case.json"
    assert args.s3_url == "s3://b/k.gz"
    assert args.log_level == "error"
    assert args.render_config is True
    # explicit flag beats the environment
    args = main_mod.parse_args(["--log-level", "debug"])
    assert args.log_level == "debug"


def test_dummy_s3_notification_percent_decodes_url():
    """ADVICE r6: Go url.Parse percent-decodes the path before the
    reference trims it, so s3://b/a%2Bb.gz must target key 'a+b.gz'."""
    import json

    from cflog2otel_spark.sources.events import dummy_s3_notification

    ev = json.loads(dummy_s3_notification("s3://my%2Dbucket/logs/a%2Bb%20c.gz"))
    rec = ev["Records"][0]["s3"]
    assert rec["object"]["key"] == "logs/a+b c.gz"
    assert rec["bucket"]["name"] == "my-bucket"
