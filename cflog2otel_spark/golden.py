"""Canonical golden-JSON encoder + comparator.

Re-creates the reference's unit-test golden shape (goldie snapshots of the
Go OTel SDK metricdata tree, /root/reference/aggregation_test.go:20-51 and
testdata/fixtures/*.golden.json) from our sink DataFrames, and compares
trees canonically:

  - data points sorted by (StartTime, attrs) — the reference's native order
    is first-seen and non-deterministic under a shuffle (SURVEY.md §2.4 A12)
  - integral floats normalized to ints (Go json marshals 1176.0 as 1176)
  - resources sorted by their attribute sets; metrics stay in config order
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone
from typing import Any

from .pipeline import PipelineResult


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _rfc3339(dt: datetime) -> str:
    # naive datetimes are driver-local time, as PySpark builds them;
    # astimezone reads a naive value as local time (honouring `fold`)
    return dt.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _nanos(dt: datetime) -> int:
    """Unix nanoseconds of a data-point time (naive = driver-local)."""
    return (dt.astimezone(timezone.utc) - _EPOCH) // timedelta(microseconds=1) * 1000


def _coerce(v: str, t: str):
    """Canonical string -> typed JSON value (Go attribute.Value marshals
    Int64/Float64/Bool as JSON numbers/bools, app.go:399-412)."""
    if t == "INT64":
        return int(v)
    if t == "FLOAT64":
        return float(v)
    if t == "BOOL":
        return v == "true"
    return v


def _attrs_json(pairs, types: dict[str, str] | None = None) -> list[dict]:
    types = types or {}
    return [
        {
            "Key": p["key"],
            "Value": {
                "Type": types.get(p["key"], "STRING"),
                "Value": _coerce(p["value"], types.get(p["key"], "STRING")),
            },
        }
        for p in pairs
    ]


def _attr_type_maps(result: PipelineResult, config) -> tuple[dict, dict[str, dict]]:
    """(resource-attr types, metric name -> attr types) from the translated
    expressions' static Spark types (ToAttribute, app.go:399-412), as the
    pipeline recorded them on the result."""
    from .operators.aggregate import config_attribute_types

    types = result.attr_types or config_attribute_types(result.parsed, config)
    res_t = {a.key: t for a, t in zip(config.resource_attributes, types.resource) if t}
    per_metric = {
        m.name: {a.key: t for a, t in zip(m.attributes, types.metrics[m.name]) if t}
        for m in config.metrics
    }
    return res_t, per_metric


def encode_golden(result: PipelineResult, config) -> list[dict]:
    """Data points -> list of ResourceMetrics JSON trees (usually one)."""
    by_resource: dict[str, dict] = {}
    res_types, metric_types = _attr_type_maps(result, config)
    ordered_names = sorted(result.metric_index, key=result.metric_index.get)
    for name in ordered_names:
        m = config.metrics[result.metric_index[name]]
        for row in result.points()[name]:
            rkey = json.dumps(_attrs_json(row["resource_attrs"], res_types), sort_keys=True)
            res = by_resource.setdefault(
                rkey,
                {
                    "Resource": _attrs_json(row["resource_attrs"], res_types),
                    "ScopeMetrics": [
                        {
                            "Scope": {
                                "Name": row["scope_name"],
                                "Version": row["scope_version"],
                                "SchemaURL": row["scope_schema_url"],
                            },
                            "Metrics": [],
                        }
                    ],
                },
            )
            metrics = res["ScopeMetrics"][0]["Metrics"]
            metric = next((x for x in metrics if x["Name"] == name), None)
            if metric is None:
                data: dict[str, Any] = {"DataPoints": [], "Temporality": row["temporality"]}
                if m.type in ("Count", "Sum"):
                    data["IsMonotonic"] = row["is_monotonic"]
                metric = {
                    "Name": name,
                    "Description": row["metric_description"],
                    "Unit": row["metric_unit"],
                    "Data": data,
                }
                metrics.append(metric)
            dp: dict[str, Any] = {
                "Attributes": _attrs_json(row["attrs"], metric_types[name]),
                "StartTime": _rfc3339(row["window_start"]),
                "Time": _rfc3339(row["window_end"]),
            }
            if m.type == "Count":
                dp["Value"] = int(row["value"])
            elif m.type == "Sum":
                dp["Value"] = row["value"]
            else:
                dp["Count"] = int(row["count"])
                dp["Bounds"] = row["bounds"]
                dp["BucketCounts"] = row["bucket_counts"]
                if not m.no_min_max:
                    dp["Min"] = row["min"]
                    dp["Max"] = row["max"]
                dp["Sum"] = row["sum"]
            metric["Data"]["DataPoints"].append(dp)
    out = [by_resource[k] for k in sorted(by_resource)]
    return [canonicalize(r) for r in out]


def canonicalize(tree: Any) -> Any:
    """Normalize a golden tree for order-insensitive comparison."""
    tree = _norm_numbers(tree)
    if isinstance(tree, dict) and "ScopeMetrics" in tree:
        for sm in tree["ScopeMetrics"]:
            for metric in sm.get("Metrics", []):
                dps = metric.get("Data", {}).get("DataPoints", [])
                dps.sort(key=lambda d: (d.get("StartTime", ""), json.dumps(d.get("Attributes", []), sort_keys=True)))
    return tree


def _norm_numbers(x: Any) -> Any:
    if isinstance(x, float) and x.is_integer():
        return int(x)
    if isinstance(x, dict):
        return {k: _norm_numbers(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_norm_numbers(v) for v in x]
    return x


def encode_otlp(result: PipelineResult, config) -> list[dict]:
    """OTLP proto-JSON shape (the e2e goldens: one ExportMetricsServiceRequest
    per export — /root/reference/testdata/fixtures/e2e.golden.json,
    e2e_backfill.golden.json). Go proto-JSON omits empty strings and uses
    oneof wrappers: value.Value.StringValue, dp.Value.AsInt/AsDouble;
    aggregation_temporality 1=delta, 2=cumulative."""

    _ONEOF = {"STRING": "StringValue", "BOOL": "BoolValue",
              "INT64": "IntValue", "FLOAT64": "DoubleValue"}

    def attrs(pairs, types: dict[str, str] | None = None):
        types = types or {}
        return [
            {
                "key": p["key"],
                "value": {
                    "Value": {
                        _ONEOF[types.get(p["key"], "STRING")]: _coerce(
                            p["value"], types.get(p["key"], "STRING")
                        )
                    }
                },
            }
            for p in pairs
        ]

    by_resource: dict[str, dict] = {}
    res_types, metric_types = _attr_type_maps(result, config)
    ordered_names = sorted(result.metric_index, key=result.metric_index.get)
    for name in ordered_names:
        m = config.metrics[result.metric_index[name]]
        for row in result.points()[name]:
            rkey = json.dumps(attrs(row["resource_attrs"], res_types), sort_keys=True)
            res = by_resource.setdefault(
                rkey,
                {
                    "resource": {"attributes": attrs(row["resource_attrs"], res_types)},
                    "scope_metrics": [{"scope": {}, "metrics": []}],
                },
            )
            sm = res["scope_metrics"][0]
            for k, v in (
                ("name", row["scope_name"]),
                ("version", row["scope_version"]),
            ):
                if v:
                    sm["scope"][k] = v
            if row["scope_schema_url"]:
                sm["schema_url"] = row["scope_schema_url"]
            metric = next((x for x in sm["metrics"] if x.get("name") == name), None)
            if metric is None:
                metric = {"name": name}
                if row["metric_description"]:
                    metric["description"] = row["metric_description"]
                if row["metric_unit"]:
                    metric["unit"] = row["metric_unit"]
                temporality = 2 if row["temporality"] == "CumulativeTemporality" else 1
                if m.type in ("Count", "Sum"):
                    metric["Data"] = {
                        "Sum": {
                            "data_points": [],
                            "aggregation_temporality": temporality,
                            "is_monotonic": row["is_monotonic"],
                        }
                    }
                else:
                    metric["Data"] = {
                        "Histogram": {
                            "data_points": [],
                            "aggregation_temporality": temporality,
                        }
                    }
                sm["metrics"].append(metric)
            dp: dict[str, Any] = {}
            if row["attrs"]:
                dp["attributes"] = attrs(row["attrs"], metric_types[name])
            dp["start_time_unix_nano"] = _nanos(row["window_start"])
            dp["time_unix_nano"] = _nanos(row["window_end"])
            if m.type == "Count":
                dp["Value"] = {"AsInt": int(row["value"])}
                metric["Data"]["Sum"]["data_points"].append(dp)
            elif m.type == "Sum":
                dp["Value"] = {"AsDouble": row["value"]}
                metric["Data"]["Sum"]["data_points"].append(dp)
            else:
                dp.update(
                    {
                        "count": int(row["count"]),
                        "sum": row["sum"],
                        "explicit_bounds": row["bounds"],
                        "bucket_counts": row["bucket_counts"],
                    }
                )
                if not m.no_min_max:
                    dp["min"] = row["min"]
                    dp["max"] = row["max"]
                metric["Data"]["Histogram"]["data_points"].append(dp)
    reqs = [
        {"resource_metrics": [by_resource[k]]} for k in sorted(by_resource)
    ]
    for req in reqs:
        for rm in req["resource_metrics"]:
            for sm in rm["scope_metrics"]:
                for metric in sm["metrics"]:
                    data = metric["Data"].get("Sum") or metric["Data"].get("Histogram")
                    data["data_points"].sort(
                        key=lambda d: (
                            d["start_time_unix_nano"],
                            json.dumps(d.get("attributes", []), sort_keys=True),
                        )
                    )
    return [_norm_numbers(r) for r in reqs]


def canonicalize_otlp(tree: Any) -> Any:
    tree = _norm_numbers(tree)
    for rm in tree.get("resource_metrics", []):
        for sm in rm.get("scope_metrics", []):
            for metric in sm.get("metrics", []):
                data = metric.get("Data", {})
                dps = (data.get("Sum") or data.get("Histogram") or {}).get("data_points", [])
                dps.sort(
                    key=lambda d: (
                        d["start_time_unix_nano"],
                        json.dumps(d.get("attributes", []), sort_keys=True),
                    )
                )
    return tree


def load_reference_golden(path: str) -> dict:
    with open(path) as fh:
        return canonicalize(json.load(fh))


def diff_golden(ours: Any, theirs: Any) -> str:
    a = json.dumps(ours, indent=1, sort_keys=True)
    b = json.dumps(theirs, indent=1, sort_keys=True)
    if a == b:
        return ""
    import difflib

    return "\n".join(
        difflib.unified_diff(b.splitlines(), a.splitlines(), "reference", "ours", lineterm="")
    )
