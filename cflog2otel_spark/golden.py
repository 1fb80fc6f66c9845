"""Canonical golden-JSON encoder + comparator.

Re-creates the reference's unit-test golden shape (goldie snapshots of the
Go OTel SDK metricdata tree, /root/reference/aggregation_test.go:20-51 and
testdata/fixtures/*.golden.json) and the OTLP request trees from the data
points a run holds (`PipelineResult.tables()`) alone: attribute types come
from each pair's `value_type`, times stay integer Unix microseconds. It
compares trees canonically:

  - data points sorted by (StartTime, attrs) — the reference's native order
    is first-seen and non-deterministic under a shuffle (SURVEY.md §2.4 A12)
  - integral floats normalized to ints (Go json marshals 1176.0 as 1176)
  - resources sorted by their attribute sets; metrics stay in config order
"""

from __future__ import annotations

import json
from typing import Any

from .pipeline import PipelineResult, _table_rows, utc_text


def _rfc3339(micros: int) -> str:
    return utc_text(micros, "%Y-%m-%dT%H:%M:%SZ")


def _value(pair) -> Any:
    """An attribute pair's value as typed JSON, by its `value_type` (Go
    attribute.Value marshals Int64/Float64/Bool as JSON numbers/bools,
    app.go:399-412)."""
    v, t = pair["value"], pair["value_type"]
    if t == "INT64":
        return int(v)
    if t == "FLOAT64":
        return float(v)
    if t == "BOOL":
        return v == "true"
    return v


def _attrs_json(pairs) -> list[dict]:
    return [{"Key": p["key"], "Value": {"Type": p["value_type"], "Value": _value(p)}} for p in pairs]


_ONEOF = {"STRING": "StringValue", "BOOL": "BoolValue", "INT64": "IntValue", "FLOAT64": "DoubleValue"}


def _attrs_otlp(pairs) -> list[dict]:
    return [{"key": p["key"], "value": {"Value": {_ONEOF[p["value_type"]]: _value(p)}}} for p in pairs]


def _resources(result: PipelineResult, config) -> list[tuple[list, list[tuple[Any, list]]]]:
    """The held data points as [(resource attrs, [(metric config, rows)])]:
    resources sorted by their typed attribute sets, each one's metrics in
    config order (those with rows), times as Unix microseconds. Both
    encoders render this one grouping."""
    tables = result.tables()
    by_resource: dict[str, tuple[list, dict]] = {}
    for name in sorted(result.metric_index, key=result.metric_index.get):
        m = config.metrics[result.metric_index[name]]
        for row in _table_rows(tables[name], int):
            key = json.dumps(_attrs_json(row["resource_attrs"]), sort_keys=True)
            metrics = by_resource.setdefault(key, (row["resource_attrs"], {}))[1]
            metrics.setdefault(name, (m, []))[1].append(row)
    return [(by_resource[k][0], list(by_resource[k][1].values())) for k in sorted(by_resource)]


def encode_golden(result: PipelineResult, config) -> list[dict]:
    """Data points -> list of ResourceMetrics JSON trees (usually one)."""

    def point(m, row) -> dict:
        dp: dict[str, Any] = {
            "Attributes": _attrs_json(row["attrs"]),
            "StartTime": _rfc3339(row["window_start"]),
            "Time": _rfc3339(row["window_end"]),
        }
        if m.type != "Histogram":
            dp["Value"] = row["value"]
            return dp
        dp |= {"Count": row["count"], "Bounds": row["bounds"], "BucketCounts": row["bucket_counts"]}
        if not m.no_min_max:
            dp |= {"Min": row["min"], "Max": row["max"]}
        dp["Sum"] = row["sum"]
        return dp

    def metric(m, rows) -> dict:
        data: dict[str, Any] = {
            "DataPoints": [point(m, r) for r in rows],
            "Temporality": rows[0]["temporality"],
        }
        if m.type != "Histogram":
            data["IsMonotonic"] = rows[0]["is_monotonic"]
        return {
            "Name": m.name,
            "Description": rows[0]["metric_description"],
            "Unit": rows[0]["metric_unit"],
            "Data": data,
        }

    trees = []
    for attrs, metrics in _resources(result, config):
        row = metrics[0][1][0]
        scope = {
            "Name": row["scope_name"],
            "Version": row["scope_version"],
            "SchemaURL": row["scope_schema_url"],
        }
        trees.append({
            "Resource": _attrs_json(attrs),
            "ScopeMetrics": [{"Scope": scope, "Metrics": [metric(m, rows) for m, rows in metrics]}],
        })
    return [canonicalize(t) for t in trees]


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

    def point(m, row) -> dict:
        dp: dict[str, Any] = {"attributes": _attrs_otlp(row["attrs"])} if row["attrs"] else {}
        dp["start_time_unix_nano"] = row["window_start"] * 1000
        dp["time_unix_nano"] = row["window_end"] * 1000
        if m.type == "Count":
            dp["Value"] = {"AsInt": row["value"]}
        elif m.type == "Sum":
            dp["Value"] = {"AsDouble": row["value"]}
        else:
            dp |= {"count": row["count"], "sum": row["sum"],
                   "explicit_bounds": row["bounds"], "bucket_counts": row["bucket_counts"]}
            if not m.no_min_max:
                dp |= {"min": row["min"], "max": row["max"]}
        return dp

    def metric(m, rows) -> dict:
        out: dict[str, Any] = {"name": m.name}
        for k in ("description", "unit"):
            if rows[0][f"metric_{k}"]:
                out[k] = rows[0][f"metric_{k}"]
        data: dict[str, Any] = {
            "data_points": [point(m, r) for r in rows],
            "aggregation_temporality": 2 if rows[0]["temporality"] == "CumulativeTemporality" else 1,
        }
        if m.type == "Histogram":
            out["Data"] = {"Histogram": data}
        else:
            out["Data"] = {"Sum": data | {"is_monotonic": rows[0]["is_monotonic"]}}
        return out

    reqs = []
    for attrs, metrics in _resources(result, config):
        row = metrics[0][1][0]
        sm: dict[str, Any] = {
            "scope": {k: row[f"scope_{k}"] for k in ("name", "version") if row[f"scope_{k}"]},
            "metrics": [metric(m, rows) for m, rows in metrics],
        }
        if row["scope_schema_url"]:
            sm["schema_url"] = row["scope_schema_url"]
        req = {"resource_metrics": [{"resource": {"attributes": _attrs_otlp(attrs)}, "scope_metrics": [sm]}]}
        reqs.append(_norm_numbers(_sort_otlp(req)))
    return reqs


def _sort_otlp(tree: Any) -> Any:
    """Sort every metric's data points by (start time, attributes), in place."""
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


def canonicalize_otlp(tree: Any) -> Any:
    """Normalize an OTLP request tree for order-insensitive comparison."""
    return _sort_otlp(_norm_numbers(tree))


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
