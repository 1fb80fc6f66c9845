"""OTLP protobuf wire encoding, hand-rolled on the stdlib.

The reference exports metrics over OTLP **gRPC** (app.go:207-241, otlp.go).
gRPC bindings aren't available in this environment, but the gRPC transport
carries an `ExportMetricsServiceRequest` protobuf message — the same bytes
OTLP/HTTP accepts with `Content-Type: application/x-protobuf` (POST
/v1/metrics). This module encodes that message from the canonical wire-JSON
tree (`export.to_wire`), closing the wire-format half of the gRPC gap: any
OTLP collector ingests this body over HTTP, and the message bytes are
byte-compatible with what a gRPC client would frame.

Field numbers and wire types are pinned to the published
opentelemetry-proto v1 schema (metrics.proto / common.proto /
metrics_service.proto — stable since OTLP 1.0):

  ExportMetricsServiceRequest: resource_metrics=1
  ResourceMetrics:  resource=1  scope_metrics=2  schema_url=3
  Resource:         attributes=1
  ScopeMetrics:     scope=1  metrics=2  schema_url=3
  InstrumentationScope: name=1  version=2
  KeyValue:         key=1  value=2
  AnyValue (oneof): string_value=1  bool_value=2  int_value=3  double_value=4
  Metric:           name=1  description=2  unit=3  | oneof data:
                    gauge=5  sum=7  histogram=9
  Sum:              data_points=1  aggregation_temporality=2  is_monotonic=3
  Histogram:        data_points=1  aggregation_temporality=2
  NumberDataPoint:  start_time_unix_nano=2(fixed64)  time_unix_nano=3(fixed64)
                    as_double=4(double)  as_int=6(sfixed64)  attributes=7
  HistogramDataPoint: start=2(fixed64)  time=3(fixed64)  count=4(fixed64)
                    sum=5(double,opt)  bucket_counts=6(packed fixed64)
                    explicit_bounds=7(packed double)  attributes=9
                    min=11(double,opt)  max=12(double,opt)

A schema-aware decoder lives alongside (used by tests to round-trip every
request back to the wire-JSON tree it came from).
"""

from __future__ import annotations

import struct
from typing import Any

# wire types
_VARINT, _FIX64, _LEN = 0, 1, 2


def _varint(n: int) -> bytes:
    if n < 0:
        n &= (1 << 64) - 1  # two's complement, 64-bit (proto int64/sfixed semantics)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wt: int) -> bytes:
    return _varint((field << 3) | wt)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, _LEN) + _varint(len(payload)) + payload


def _str_field(field: int, s: str | None) -> bytes:
    if not s:
        return b""  # proto3: default (empty) scalar fields are omitted
    return _len_field(field, s.encode("utf-8"))


def _varint_field(field: int, n: int, *, always: bool = False) -> bytes:
    if not n and not always:
        return b""
    return _tag(field, _VARINT) + _varint(int(n))


def _bool_field(field: int, v: bool) -> bytes:
    return _varint_field(field, 1 if v else 0)


def _fixed64_field(field: int, n: int, *, always: bool = False) -> bytes:
    if not n and not always:
        return b""
    return _tag(field, _FIX64) + struct.pack("<Q", int(n) & ((1 << 64) - 1))


def _packed_fixed64(field: int, vals) -> bytes:
    if not vals:
        return b""
    return _len_field(field, b"".join(struct.pack("<Q", int(v)) for v in vals))


def _packed_double(field: int, vals) -> bytes:
    if not vals:
        return b""
    return _len_field(field, b"".join(struct.pack("<d", float(v)) for v in vals))


# ------------------------------------------------------------- encoding ---
# Input is the canonical wire-JSON tree from export.to_wire (camelCase
# names, u64s as strings — the proto-JSON convention).


def _any_value(v: dict) -> bytes:
    if "stringValue" in v:
        return _len_field(1, v["stringValue"].encode("utf-8"))
    if "boolValue" in v:
        # oneof member: presence is explicit even for false
        return _tag(2, _VARINT) + _varint(1 if v["boolValue"] else 0)
    if "intValue" in v:
        return _tag(3, _VARINT) + _varint(int(v["intValue"]))
    if "doubleValue" in v:
        return _tag(4, _FIX64) + struct.pack("<d", float(v["doubleValue"]))
    raise ValueError(f"unsupported AnyValue: {v!r}")


def _key_value(a: dict) -> bytes:
    return _str_field(1, a["key"]) + _len_field(2, _any_value(a["value"]))


def _number_dp(dp: dict) -> bytes:
    out = bytearray()
    out += _fixed64_field(2, int(dp["startTimeUnixNano"]))
    out += _fixed64_field(3, int(dp["timeUnixNano"]))
    if "asDouble" in dp:  # oneof: emit even 0.0
        out += _tag(4, _FIX64) + struct.pack("<d", float(dp["asDouble"]))
    if "asInt" in dp:  # sfixed64
        out += _tag(6, _FIX64) + struct.pack("<q", int(dp["asInt"]))
    for a in dp.get("attributes", []):
        out += _len_field(7, _key_value(a))
    return bytes(out)


def _histogram_dp(dp: dict) -> bytes:
    out = bytearray()
    out += _fixed64_field(2, int(dp["startTimeUnixNano"]))
    out += _fixed64_field(3, int(dp["timeUnixNano"]))
    out += _fixed64_field(4, int(dp["count"]))
    if "sum" in dp and dp["sum"] is not None:  # optional: explicit presence
        out += _tag(5, _FIX64) + struct.pack("<d", float(dp["sum"]))
    out += _packed_fixed64(6, [int(x) for x in dp.get("bucketCounts", [])])
    out += _packed_double(7, dp.get("explicitBounds", []))
    for a in dp.get("attributes", []):
        out += _len_field(9, _key_value(a))
    if dp.get("min") is not None:
        out += _tag(11, _FIX64) + struct.pack("<d", float(dp["min"]))
    if dp.get("max") is not None:
        out += _tag(12, _FIX64) + struct.pack("<d", float(dp["max"]))
    return bytes(out)


def _metric(m: dict) -> bytes:
    out = bytearray()
    out += _str_field(1, m.get("name"))
    out += _str_field(2, m.get("description"))
    out += _str_field(3, m.get("unit"))
    if "sum" in m:
        d = m["sum"]
        body = b"".join(_len_field(1, _number_dp(dp)) for dp in d["dataPoints"])
        body += _varint_field(2, d["aggregationTemporality"])
        body += _bool_field(3, d.get("isMonotonic", False))
        out += _len_field(7, body)
    elif "histogram" in m:
        d = m["histogram"]
        body = b"".join(_len_field(1, _histogram_dp(dp)) for dp in d["dataPoints"])
        body += _varint_field(2, d["aggregationTemporality"])
        out += _len_field(9, body)
    return bytes(out)


def _scope_metrics(sm: dict) -> bytes:
    out = bytearray()
    scope = sm.get("scope") or {}
    scope_body = _str_field(1, scope.get("name")) + _str_field(2, scope.get("version"))
    if scope_body:
        out += _len_field(1, scope_body)
    for m in sm.get("metrics", []):
        out += _len_field(2, _metric(m))
    out += _str_field(3, sm.get("schemaUrl"))
    return bytes(out)


def _resource_metrics(rm: dict) -> bytes:
    out = bytearray()
    res = rm.get("resource") or {}
    res_body = b"".join(_len_field(1, _key_value(a)) for a in res.get("attributes", []))
    out += _len_field(1, res_body)
    for sm in rm.get("scopeMetrics", []):
        out += _len_field(2, _scope_metrics(sm))
    out += _str_field(3, rm.get("schemaUrl"))
    return bytes(out)


def encode_export_request(wire: dict) -> bytes:
    """wire-JSON ExportMetricsServiceRequest (export.to_wire output) ->
    protobuf message bytes (the body a gRPC client would frame)."""
    return b"".join(
        _len_field(1, _resource_metrics(rm)) for rm in wire.get("resourceMetrics", [])
    )


# ------------------------------------------------------------- decoding ---
# Schema-aware decoder used by the round-trip tests (and handy for
# inspecting a collector capture). Rebuilds the wire-JSON tree.


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return n, i
        shift += 7


def _fields(buf: bytes):
    """Yield (field, wiretype, value) — value is int for varint/fixed,
    bytes for length-delimited."""
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == _VARINT:
            v, i = _read_varint(buf, i)
        elif wt == _FIX64:
            v = struct.unpack("<Q", buf[i : i + 8])[0]
            i += 8
        elif wt == _LEN:
            ln, i = _read_varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:  # fixed32
            v = struct.unpack("<I", buf[i : i + 4])[0]
            i += 4
        else:
            raise ValueError(f"wire type {wt}")
        yield field, wt, v


def _u64_to_double(v: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", v))[0]


def _dec_any(buf: bytes) -> dict:
    for f, _wt, v in _fields(buf):
        if f == 1:
            return {"stringValue": v.decode("utf-8")}
        if f == 2:
            return {"boolValue": bool(v)}
        if f == 3:
            return {"intValue": v if v < (1 << 63) else v - (1 << 64)}
        if f == 4:
            return {"doubleValue": _u64_to_double(v)}
    return {}


def _dec_kv(buf: bytes) -> dict:
    out: dict[str, Any] = {"key": ""}
    for f, _wt, v in _fields(buf):
        if f == 1:
            out["key"] = v.decode("utf-8")
        elif f == 2:
            out["value"] = _dec_any(v)
    return out


def _dec_number_dp(buf: bytes) -> dict:
    out: dict[str, Any] = {}
    attrs = []
    for f, _wt, v in _fields(buf):
        if f == 2:
            out["startTimeUnixNano"] = str(v)
        elif f == 3:
            out["timeUnixNano"] = str(v)
        elif f == 4:
            out["asDouble"] = _u64_to_double(v)
        elif f == 6:
            out["asInt"] = v if v < (1 << 63) else v - (1 << 64)
        elif f == 7:
            attrs.append(_dec_kv(v))
    if attrs:
        out["attributes"] = attrs
    return out


def _dec_histogram_dp(buf: bytes) -> dict:
    out: dict[str, Any] = {}
    attrs = []
    for f, _wt, v in _fields(buf):
        if f == 2:
            out["startTimeUnixNano"] = str(v)
        elif f == 3:
            out["timeUnixNano"] = str(v)
        elif f == 4:
            out["count"] = str(v)
        elif f == 5:
            out["sum"] = _u64_to_double(v)
        elif f == 6:
            out["bucketCounts"] = [
                str(struct.unpack("<Q", v[i : i + 8])[0]) for i in range(0, len(v), 8)
            ]
        elif f == 7:
            out["explicitBounds"] = [
                struct.unpack("<d", v[i : i + 8])[0] for i in range(0, len(v), 8)
            ]
        elif f == 9:
            attrs.append(_dec_kv(v))
        elif f == 11:
            out["min"] = _u64_to_double(v)
        elif f == 12:
            out["max"] = _u64_to_double(v)
    if attrs:
        out["attributes"] = attrs
    return out


def _dec_metric(buf: bytes) -> dict:
    out: dict[str, Any] = {}
    for f, _wt, v in _fields(buf):
        if f == 1:
            out["name"] = v.decode("utf-8")
        elif f == 2:
            out["description"] = v.decode("utf-8")
        elif f == 3:
            out["unit"] = v.decode("utf-8")
        elif f in (5, 7):
            d: dict[str, Any] = {"dataPoints": []}
            for f2, _w2, v2 in _fields(v):
                if f2 == 1:
                    d["dataPoints"].append(_dec_number_dp(v2))
                elif f2 == 2:
                    d["aggregationTemporality"] = v2
                elif f2 == 3:
                    d["isMonotonic"] = bool(v2)
            out["gauge" if f == 5 else "sum"] = d
        elif f == 9:
            d = {"dataPoints": []}
            for f2, _w2, v2 in _fields(v):
                if f2 == 1:
                    d["dataPoints"].append(_dec_histogram_dp(v2))
                elif f2 == 2:
                    d["aggregationTemporality"] = v2
            out["histogram"] = d
    return out


def decode_export_request(buf: bytes) -> dict:
    rms = []
    for f, _wt, v in _fields(buf):
        if f != 1:
            continue
        rm: dict[str, Any] = {"scopeMetrics": []}
        for f2, _w2, v2 in _fields(v):
            if f2 == 1:
                rm["resource"] = {
                    "attributes": [
                        _dec_kv(v3) for f3, _w3, v3 in _fields(v2) if f3 == 1
                    ]
                }
            elif f2 == 2:
                sm: dict[str, Any] = {"scope": {}, "metrics": []}
                for f3, _w3, v3 in _fields(v2):
                    if f3 == 1:
                        for f4, _w4, v4 in _fields(v3):
                            if f4 == 1:
                                sm["scope"]["name"] = v4.decode("utf-8")
                            elif f4 == 2:
                                sm["scope"]["version"] = v4.decode("utf-8")
                    elif f3 == 2:
                        sm["metrics"].append(_dec_metric(v3))
                    elif f3 == 3:
                        sm["schemaUrl"] = v3.decode("utf-8")
                rm["scopeMetrics"].append(sm)
            elif f2 == 3:
                rm["schemaUrl"] = v2.decode("utf-8")
        rms.append(rm)
    return {"resourceMetrics": rms}


def decode_export_response(buf: bytes) -> dict:
    """ExportMetricsServiceResponse (metrics_service.proto): field 1 is
    partial_success{rejected_data_points:int64=1, error_message:string=2}.
    Empty message (the all-success case) -> {}."""
    out: dict[str, Any] = {}
    for f, _wt, v in _fields(buf):
        if f != 1:
            continue
        ps: dict[str, Any] = {}
        for f2, _w2, v2 in _fields(v):
            if f2 == 1:
                # zigzag is not used here; the proto type is plain int64
                ps["rejectedDataPoints"] = v2
            elif f2 == 2:
                ps["errorMessage"] = v2.decode("utf-8")
        if ps:
            out["partialSuccess"] = ps
    return out
