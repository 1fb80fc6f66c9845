"""Aggregation kernel tests: window anchor vs Go Truncate, histogram bucket
rule vs a NumPy oracle (property-based), null-attr drop."""

import json
from collections import Counter
from datetime import datetime, timedelta, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from cflog2otel_spark.config import Config

from .conftest import metric_windows

GO_EPOCH = datetime(1, 1, 1, tzinfo=timezone.utc)
UNIX_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def go_truncate(ts: datetime, seconds: float) -> datetime:
    """Oracle: Go time.Time.Truncate — anchored at the year-1 zero time."""
    delta = (ts - GO_EPOCH).total_seconds()
    return GO_EPOCH + timedelta(seconds=(delta // seconds) * seconds)


@pytest.mark.parametrize("interval", [60, 300, 3600, 420, 7 * 60, 13 * 60, 90])
def test_window_anchor_matches_go_truncate(spark, interval):
    """The sink's window_start/window_end == Go Truncate for ALL intervals,
    including non-day-dividing ones like 7m (SURVEY.md §2.4 A4 caveat)."""
    times = [
        datetime(2019, 12, 1, 22, 42, 31),
        datetime(2019, 12, 1, 22, 51, 2),
        datetime(2024, 3, 1, 0, 0, 0),
        datetime(2024, 2, 29, 23, 59, 59),
    ]
    us = [(t.replace(tzinfo=timezone.utc) - UNIX_EPOCH) // timedelta(microseconds=1) for t in times]
    expect = Counter()
    for t in times:
        start = go_truncate(t.replace(tzinfo=timezone.utc), interval)
        expect[tuple(
            (x - UNIX_EPOCH) // timedelta(microseconds=1)
            for x in (start, start + timedelta(seconds=interval))
        )] += 1
    assert metric_windows(spark, us, interval) == expect, f"interval={interval}"


def _mini_cfg(metric):
    return Config.from_json(
        {"resource_attributes": [], "scope": {"name": "t"}, "metrics": [metric]}
    )


def _run_metric(spark, metric, rows):
    """rows: list of (timestamp, value, attr). Build a parsed-log-shaped DF
    directly (bypasses parse; aggregation-only test)."""
    from cflog2otel_spark.operators.aggregate import aggregate_metric

    df = spark.createDataFrame(rows, ["timestamp", "time_taken", "x_edge_location"])
    df = df.withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    cfg = _mini_cfg(metric)
    return aggregate_metric(df, cfg).collect()


def test_histogram_bucket_rule_upper_exclusive(spark):
    """Pin the code semantics (v < bound), NOT the README's (a,b]
    (aggregation.go:316-330, aggregation_test.go:61-81)."""
    bounds = [0.0, 5.0, 10.0, 15.0]
    rows = [
        ("2024-01-01 00:00:01", -1.0, "a"),  # bucket 0: (-inf, 0)
        ("2024-01-01 00:00:02", 0.0, "a"),   # bucket 1: [0, 5)
        ("2024-01-01 00:00:03", 5.0, "a"),   # bucket 2: [5, 10)
        ("2024-01-01 00:00:04", 7.5, "a"),   # bucket 2
        ("2024-01-01 00:00:05", 15.0, "a"),  # bucket 4 (overflow)
        ("2024-01-01 00:00:06", 99.0, "a"),  # bucket 4
    ]
    out = _run_metric(
        spark,
        {
            "name": "h",
            "type": "Histogram",
            "value": {"expr": "log.timeTaken"},
            "boundaries": bounds,
        },
        rows,
    )
    assert len(out) == 1
    dp = out[0]
    assert dp["bucket_counts"] == [1, 1, 2, 0, 2]
    assert dp["count"] == 6
    assert dp["min"] == -1.0 and dp["max"] == 99.0
    assert dp["sum"] == pytest.approx(125.5)


def test_histogram_no_min_max(spark):
    out = _run_metric(
        spark,
        {
            "name": "h",
            "type": "Histogram",
            "value": {"expr": "log.timeTaken"},
            "boundaries": [0.0, 10.0],
            "no_min_max": True,
        },
        [("2024-01-01 00:00:01", 5.0, "a")],
    )
    assert out[0]["min"] is None and out[0]["max"] is None
    assert out[0]["bucket_counts"] == [0, 1, 0]


def test_histogram_property_vs_numpy(spark):
    """Randomized values vs a NumPy histogram oracle with the same
    upper-exclusive rule."""
    rng = np.random.default_rng(7)
    vals = np.round(rng.normal(50, 40, 300), 3)
    bounds = [0.0, 20.0, 40.0, 60.0, 80.0]
    rows = [("2024-01-01 00:00:01", float(v), "a") for v in vals]
    out = _run_metric(
        spark,
        {
            "name": "h",
            "type": "Histogram",
            "value": {"expr": "log.timeTaken"},
            "boundaries": bounds,
        },
        rows,
    )[0]
    # oracle: first bucket where v < bound, else overflow
    edges = np.array([-np.inf] + bounds + [np.inf])
    oracle, _ = np.histogram(vals, edges)
    assert out["bucket_counts"] == oracle.tolist()
    assert out["count"] == len(vals)
    assert out["sum"] == pytest.approx(float(vals.sum()))
    assert out["min"] == float(vals.min()) and out["max"] == float(vals.max())


def test_null_attr_dropped_from_set(spark):
    """NULL attribute values are omitted from the attr set but still form
    their own group (app.go:421-424)."""
    rows = [
        ("2024-01-01 00:00:01", 1.0, "LAX1"),
        ("2024-01-01 00:00:02", 1.0, "LAX1"),
        ("2024-01-01 00:00:03", 1.0, None),
    ]
    out = _run_metric(
        spark,
        {
            "name": "c",
            "type": "Count",
            "attributes": [{"key": "edge", "value": {"expr": "log.xEdgeLocation"}}],
        },
        rows,
    )
    by_attrs = {json.dumps([a.asDict() for a in r["attrs"]]): r["value"] for r in out}
    assert by_attrs == {
        '[{"key": "edge", "value": "LAX1", "value_type": "STRING"}]': 2,
        "[]": 1,
    }


def test_sum_is_monotonic_from_config(spark):
    out = _run_metric(
        spark,
        {
            "name": "s",
            "type": "Sum",
            "value": {"expr": "log.timeTaken"},
            "is_monotonic": False,
        },
        [("2024-01-01 00:00:01", 2.5, "a"), ("2024-01-01 00:00:02", 3.5, "a")],
    )
    assert out[0]["value"] == 6.0
    assert out[0]["is_monotonic"] is False
    assert out[0]["temporality"] == "DeltaTemporality"


def test_typed_attributes(spark, generated_df):
    """Non-string CEL attribute values emit typed OTel attributes
    (ToAttribute, app.go:399-412): Int64/Float64/Bool, not stringified.
    Hand-computed expectation (no golden exercises typed attrs)."""
    from cflog2otel_spark.config import Config
    from cflog2otel_spark.golden import encode_golden, encode_otlp
    from cflog2otel_spark.pipeline import run_pipeline

    cfg = Config.from_json(
        {
            "scope": {"name": "t"},
            "metrics": [
                {
                    "name": "typed",
                    "type": "Count",
                    "interval": "1h",
                    "attributes": [
                        {"key": "code", "value": {"expr": "log.scStatus"}},
                        {"key": "is5xx", "value": {"expr": "log.scStatus >= 500"}},
                        {"key": "t2", "value": {"expr": "log.timeTaken * 2.0"}},
                        {"key": "cat", "value": {"expr": "log.scStatusCategory"}},
                    ],
                }
            ],
        }
    )
    result = run_pipeline(spark, cfg, generated_df)
    tree = encode_golden(result, cfg)[0]
    dps = tree["ScopeMetrics"][0]["Metrics"][0]["Data"]["DataPoints"]
    by_key = {a["Key"]: a["Value"] for a in dps[0]["Attributes"]}
    assert by_key["code"]["Type"] == "INT64" and isinstance(by_key["code"]["Value"], int)
    assert by_key["is5xx"]["Type"] == "BOOL" and isinstance(by_key["is5xx"]["Value"], bool)
    assert by_key["t2"]["Type"] == "FLOAT64" and isinstance(by_key["t2"]["Value"], (int, float))
    assert by_key["cat"]["Type"] == "STRING" and isinstance(by_key["cat"]["Value"], str)

    req = encode_otlp(result, cfg)[0]
    dp0 = req["resource_metrics"][0]["scope_metrics"][0]["metrics"][0]["Data"]["Sum"]["data_points"][0]
    oneofs = {a["key"]: next(iter(a["value"]["Value"])) for a in dp0["attributes"]}
    assert oneofs == {"code": "IntValue", "is5xx": "BoolValue",
                      "t2": "DoubleValue", "cat": "StringValue"}


def test_attr_value_type_carries_static_type(spark):
    """Sinks keep the OTel attr type (VERDICT r2 #7): value stays the
    canonical string (grouping key / wire text), value_type records what a
    consumer should coerce it back to."""
    rows = [("2024-01-01 00:00:01", 1.0, "LAX1")]
    out = _run_metric(
        spark,
        {
            "name": "c",
            "type": "Count",
            "attributes": [
                {"key": "s", "value": {"expr": "log.xEdgeLocation"}},
                {"key": "i", "value": {"expr": "int(log.timeTaken)"}},
                {"key": "b", "value": {"expr": "log.timeTaken >= 1.0"}},
                {"key": "d", "value": {"expr": "log.timeTaken"}},
            ],
        },
        rows,
    )
    types = {a["key"]: a["value_type"] for r in out for a in r["attrs"]}
    assert types == {"s": "STRING", "i": "INT64", "b": "BOOL", "d": "FLOAT64"}
