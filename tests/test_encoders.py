"""Golden and OTLP encoders against trees written by hand from five log
lines: two distributions (so two resources), a Count with INT64, BOOL,
FLOAT64 and STRING attributes plus one that is NULL on most lines, a
monotonic Sum, a Histogram with custom bounds and `no_min_max`, and a scope
without version or schema URL."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from cflog2otel_spark.config import Config
from cflog2otel_spark.golden import encode_golden, encode_otlp
from cflog2otel_spark.pipeline import run_pipeline
from cflog2otel_spark.schemas import CF_FIELDS
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

SOURCE_A = "logs/EAAAAEXAMPLE.2019-12-01-22.HASHA.gz"
SOURCE_B = "logs/EBBBBEXAMPLE.2019-12-01-22.HASHB.gz"


def _line(time: str, method: str, status: int, sc_bytes: int, taken: float, query: str = "-"):
    vals = {
        "date": "2019-12-01", "time": time, "cs-method": method, "sc-status": str(status),
        "sc-bytes": str(sc_bytes), "time-taken": str(taken), "cs-uri-query": query,
    }
    return "\t".join(vals.get(f.raw, "-") for f in CF_FIELDS)


CONFIG = {
    "resource_attributes": [
        {"key": "service.name", "value": "cdn"},
        {"key": "aws.cloudfront.distribution_id", "value": {"expr": "cloudfront.distributionId"}},
    ],
    "scope": {"name": "hand"},
    "metrics": [
        {
            "name": "requests",
            "type": "Count",
            "interval": "1h",
            "attributes": [
                {"key": "code", "value": {"expr": "log.scStatus"}},
                {"key": "is5xx", "value": {"expr": "log.scStatus >= 500"}},
                {"key": "t2", "value": {"expr": "log.timeTaken * 2.0"}},
                {"key": "method", "value": {"expr": "log.csMethod"}},
                {"key": "query", "value": {"expr": "log.csUriQuery"}},
            ],
        },
        {
            "name": "bytes",
            "description": "bytes sent",
            "unit": "By",
            "type": "Sum",
            "interval": "1h",
            "value": {"expr": "double(log.scBytes)"},
            "is_monotonic": True,
        },
        {
            "name": "latency",
            "type": "Histogram",
            "interval": "1h",
            "value": {"expr": "log.timeTaken"},
            "boundaries": [0.1, 1.0],
            "no_min_max": True,
        },
    ],
}


def _result(spark):
    a = [
        _line("22:10:00", "GET", 200, 1000, 0.25),
        _line("22:20:00", "GET", 200, 500, 0.25),
        _line("22:30:00", "POST", 503, 100, 2.0, "a=1"),
        _line("23:05:00", "GET", 200, 300, 0.05),
    ]
    b = [_line("22:15:00", "GET", 404, 50, 0.5)]
    tok = tokenized_df_from_lines(spark, a, SOURCE_A).union(
        tokenized_df_from_lines(spark, b, SOURCE_B)
    )
    cfg = Config.from_json(CONFIG)
    return cfg, run_pipeline(spark, cfg, tok)


def _hour(h: int) -> datetime:
    return datetime(2019, 12, 1, tzinfo=timezone.utc) + timedelta(hours=h)


def _ns(h: int) -> int:
    return int(_hour(h).timestamp()) * 1_000_000_000


def _rfc(h: int) -> str:
    return _hour(h).strftime("%Y-%m-%dT%H:%M:%SZ")


def _g(key, typ, value):
    return {"Key": key, "Value": {"Type": typ, "Value": value}}


def _o(key, oneof, value):
    return {"key": key, "value": {"Value": {oneof: value}}}


def _golden_resource(dist, requests, bytes_, latency):
    """requests: [(hour, code, is5xx, t2, method, query|None, n)];
    bytes_: [(hour, sum)]; latency: [(hour, count, sum, buckets)]."""

    def count_attrs(code, is5xx, t2, method, query):
        attrs = [_g("code", "INT64", code), _g("is5xx", "BOOL", is5xx), _g("method", "STRING", method)]
        if query is not None:
            attrs.append(_g("query", "STRING", query))
        return attrs + [_g("t2", "FLOAT64", t2)]

    return {
        "Resource": [
            _g("aws.cloudfront.distribution_id", "STRING", dist),
            _g("service.name", "STRING", "cdn"),
        ],
        "ScopeMetrics": [{
            "Scope": {"Name": "hand", "Version": "", "SchemaURL": ""},
            "Metrics": [
                {
                    "Name": "requests", "Description": "", "Unit": "",
                    "Data": {
                        "DataPoints": [
                            {"Attributes": count_attrs(*attrs), "StartTime": _rfc(h),
                             "Time": _rfc(h + 1), "Value": n}
                            for h, *attrs, n in requests
                        ],
                        "Temporality": "DeltaTemporality",
                        "IsMonotonic": True,
                    },
                },
                {
                    "Name": "bytes", "Description": "bytes sent", "Unit": "By",
                    "Data": {
                        "DataPoints": [
                            {"Attributes": [], "StartTime": _rfc(h), "Time": _rfc(h + 1), "Value": s}
                            for h, s in bytes_
                        ],
                        "Temporality": "DeltaTemporality",
                        "IsMonotonic": True,
                    },
                },
                {
                    "Name": "latency", "Description": "", "Unit": "",
                    "Data": {
                        "DataPoints": [
                            {"Attributes": [], "StartTime": _rfc(h), "Time": _rfc(h + 1),
                             "Count": c, "Bounds": [0.1, 1], "BucketCounts": bc, "Sum": s}
                            for h, c, s, bc in latency
                        ],
                        "Temporality": "DeltaTemporality",
                    },
                },
            ],
        }],
    }


def _otlp_request(dist, requests, bytes_, latency):
    """Same arguments as _golden_resource, rendered as OTLP proto-JSON."""

    def count_attrs(code, is5xx, t2, method, query):
        attrs = [_o("code", "IntValue", code), _o("is5xx", "BoolValue", is5xx),
                 _o("method", "StringValue", method)]
        if query is not None:
            attrs.append(_o("query", "StringValue", query))
        return attrs + [_o("t2", "DoubleValue", t2)]

    return {"resource_metrics": [{
        "resource": {"attributes": [
            _o("aws.cloudfront.distribution_id", "StringValue", dist),
            _o("service.name", "StringValue", "cdn"),
        ]},
        "scope_metrics": [{
            "scope": {"name": "hand"},
            "metrics": [
                {"name": "requests", "Data": {"Sum": {
                    "data_points": [
                        {"attributes": count_attrs(*attrs), "start_time_unix_nano": _ns(h),
                         "time_unix_nano": _ns(h + 1), "Value": {"AsInt": n}}
                        for h, *attrs, n in requests
                    ],
                    "aggregation_temporality": 1,
                    "is_monotonic": True,
                }}},
                {"name": "bytes", "description": "bytes sent", "unit": "By", "Data": {"Sum": {
                    "data_points": [
                        {"start_time_unix_nano": _ns(h), "time_unix_nano": _ns(h + 1),
                         "Value": {"AsDouble": s}}
                        for h, s in bytes_
                    ],
                    "aggregation_temporality": 1,
                    "is_monotonic": True,
                }}},
                {"name": "latency", "Data": {"Histogram": {
                    "data_points": [
                        {"start_time_unix_nano": _ns(h), "time_unix_nano": _ns(h + 1),
                         "count": c, "sum": s, "explicit_bounds": [0.1, 1], "bucket_counts": bc}
                        for h, c, s, bc in latency
                    ],
                    "aggregation_temporality": 1,
                }}},
            ],
        }],
    }]}


# distribution A: three lines at 22h (two identical GET 200s, one POST 503
# with a query string) and one GET 200 at 23h; distribution B: one GET 404
A = (
    "EAAAAEXAMPLE",
    [(22, 200, False, 0.5, "GET", None, 2), (22, 503, True, 4.0, "POST", "a=1", 1),
     (23, 200, False, 0.1, "GET", None, 1)],
    [(22, 1600.0), (23, 300.0)],
    [(22, 3, 2.5, [0, 2, 1]), (23, 1, 0.05, [1, 0, 0])],
)
B = (
    "EBBBBEXAMPLE",
    [(22, 404, False, 1.0, "GET", None, 1)],
    [(22, 50.0)],
    [(22, 1, 0.5, [0, 1, 0])],
)


def test_golden_and_otlp_trees_match_hand_written(spark):
    cfg, res = _result(spark)
    try:
        assert encode_golden(res, cfg) == [_golden_resource(*A), _golden_resource(*B)]
        assert encode_otlp(res, cfg) == [_otlp_request(*A), _otlp_request(*B)]
    finally:
        res.unpersist()
