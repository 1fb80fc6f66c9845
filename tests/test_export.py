"""OTLP/HTTP export: the golden-verified proto-JSON tree is flattened to
the canonical OTLP wire shape and POSTed to a collector endpoint
(/v1/metrics), with optional gzip like the reference's otel.gzip."""

import gzip
import json
import threading

import pytest
from http.server import BaseHTTPRequestHandler, HTTPServer

from cflog2otel_spark.config import Config
from cflog2otel_spark.export import export_otlp_http, to_wire
from cflog2otel_spark.golden import encode_otlp
from cflog2otel_spark.pipeline import run_pipeline

from .conftest import CONFIGS, REPO


class _Collector(BaseHTTPRequestHandler):
    received: list[tuple[str, dict, dict]] = []

    def do_POST(self):
        body = self.rfile.read(int(self.headers["Content-Length"]))
        if self.headers.get("Content-Encoding") == "gzip":
            body = gzip.decompress(body)
        _Collector.received.append((self.path, dict(self.headers), json.loads(body)))
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *a):
        pass


def _serve():
    srv = HTTPServer(("127.0.0.1", 0), _Collector)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_port}"


def test_to_wire_shape(spark, generated_df):
    cfg = Config.load(f"{CONFIGS}/multi_metrics.json")
    result = run_pipeline(spark, cfg, generated_df)
    reqs = encode_otlp(result, cfg)
    wire = to_wire(reqs[0])
    rm = wire["resourceMetrics"][0]
    # canonical OTLP JSON: camelCase, flattened oneofs, string u64 nanos
    attr0 = rm["resource"]["attributes"][0]
    assert set(attr0["value"]) <= {"stringValue", "boolValue", "intValue", "doubleValue"}
    metrics = {m["name"]: m for m in rm["scopeMetrics"][0]["metrics"]}
    sum_dp = metrics["http.server.total_bytes"]["sum"]["dataPoints"][0]
    assert "asDouble" in sum_dp and isinstance(sum_dp["startTimeUnixNano"], str)
    count_dp = metrics["http.server.requests"]["sum"]["dataPoints"][0]
    assert "asInt" in count_dp
    assert metrics["http.server.requests"]["sum"]["isMonotonic"] is True


def test_export_posts_to_collector(spark, generated_df):
    cfg = Config.load(f"{CONFIGS}/request_time_histogram.json")
    result = run_pipeline(spark, cfg, generated_df)
    reqs = encode_otlp(result, cfg)

    srv, base = _serve()
    try:
        _Collector.received.clear()
        n = export_otlp_http(reqs, base)
        assert n == len(reqs)
        path, headers, body = _Collector.received[0]
        assert path == "/v1/metrics"
        hist = body["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]["histogram"]
        dp = hist["dataPoints"][0]
        assert dp["bucketCounts"] and all(isinstance(x, str) for x in dp["bucketCounts"])
        assert dp["explicitBounds"]

        # gzip path (otel.gzip in the reference config)
        _Collector.received.clear()
        export_otlp_http(reqs, base, gzip=True)
        _, headers, body2 = _Collector.received[0]
        assert headers.get("Content-Encoding") == "gzip"
        assert body2 == body
    finally:
        srv.shutdown()


def test_cli_export_otlp(spark, cf_fixture_df, tmp_path):
    """main.py --export-otlp posts every aggregated request to the
    collector endpoint (config otel.gzip and otel.headers honored
    end-to-end)."""
    import subprocess
    import sys

    corpus_path = str(tmp_path / "corpus")
    cf_fixture_df.write.parquet(corpus_path)
    with open(f"{CONFIGS}/multi_metrics.json") as fh:
        doc = json.load(fh)  # otel.gzip: true
    doc["otel"]["headers"] = {"X-Scope-OrgID": "tenant-a"}
    config = str(tmp_path / "config.json")
    with open(config, "w") as fh:
        json.dump(doc, fh)
    srv, base = _serve()
    try:
        _Collector.received.clear()
        proc = subprocess.run(
            [
                sys.executable, "main.py",
                "--config", config,
                "--input", corpus_path,
                "--export-otlp", base,
                "--master", "local[2]",
            ],
            cwd=REPO, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert '"exported": 1' in proc.stderr
        path, headers, body = _Collector.received[0]
        assert path == "/v1/metrics"
        assert headers.get("Content-Encoding") == "gzip"
        # urllib normalises the name's case; HTTP header names are
        # case-insensitive
        assert {k.lower(): v for k, v in headers.items()}["x-scope-orgid"] == "tenant-a"
        names = {
            m["name"]
            for m in body["resourceMetrics"][0]["scopeMetrics"][0]["metrics"]
        }
        assert names == {"http.server.requests", "http.server.total_bytes"}
    finally:
        srv.shutdown()


# keys whose zero-ish values are semantically meaningful (oneof/optional
# presence) and must survive normalization
_KEEP = {"asInt", "asDouble", "intValue", "doubleValue", "boolValue",
         "sum", "min", "max", "count"}


def _norm_tree(x):
    """Drop proto3-default (falsy) fields so encoder-omitted defaults and
    input zeros compare equal, except explicit-presence fields."""
    if isinstance(x, dict):
        out = {}
        for k, v in x.items():
            nv = _norm_tree(v)
            # "0" u64-strings are proto3 defaults too (encoder omits them)
            if (nv and nv != "0") or k in _KEEP:
                out[k] = nv
        return out
    if isinstance(x, list):
        return [_norm_tree(v) for v in x]
    return x


def test_protobuf_wire_roundtrip(spark, generated_df):
    """Binary OTLP: encode the wire tree with the hand-rolled protobuf
    encoder, decode with the schema-aware decoder, and recover the tree
    exactly — for a Sum/Count/Histogram mix and a histogram-only config."""
    from cflog2otel_spark.otlp_proto import (
        decode_export_request,
        encode_export_request,
    )

    for cfg_name in ("multi_metrics", "request_time_histogram", "switch_case"):
        cfg = Config.load(f"{CONFIGS}/{cfg_name}.json")
        result = run_pipeline(spark, cfg, generated_df)
        for req in encode_otlp(result, cfg):
            wire = to_wire(req)
            buf = encode_export_request(wire)
            assert isinstance(buf, bytes) and len(buf) > 0
            back = decode_export_request(buf)
            assert _norm_tree(back) == _norm_tree(wire), cfg_name


def test_protobuf_field_bytes_pinned():
    """Pin a few wire bytes against hand-assembled protobuf so a field
    number / wire-type regression cannot pass the self-roundtrip."""
    from cflog2otel_spark.otlp_proto import encode_export_request

    wire = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "a", "value": {"stringValue": "b"}}]},
            "scopeMetrics": [{
                "scope": {"name": "s"},
                "metrics": [{
                    "name": "m",
                    "sum": {
                        "dataPoints": [{
                            "startTimeUnixNano": "1",
                            "timeUnixNano": "2",
                            "asInt": 3,
                        }],
                        "aggregationTemporality": 1,
                        "isMonotonic": True,
                    },
                }],
            }],
        }]
    }
    buf = encode_export_request(wire)
    # KeyValue{key(1)="a", value(2)=AnyValue{string_value(1)="b"}} inside
    # Resource.attributes(1): 0a 08 | 0a 01 61 | 12 03 | 0a 01 62
    assert bytes.fromhex("0a08 0a0161 1203 0a0162".replace(" ", "")) in buf
    # Metric.name(1)="m": 0a 01 6d ; Sum is Metric field 7 (len-delim): 3a
    assert bytes.fromhex("0a016d3a") in buf
    # NumberDataPoint: start(2,fixed64)=1, time(3,fixed64)=2, asInt(6,sfixed64)=3
    dp = bytes.fromhex(
        "11 0100000000000000 19 0200000000000000 31 0300000000000000".replace(" ", "")
    )
    assert dp in buf
    # Sum.aggregation_temporality(2)=1 varint + is_monotonic(3)=true
    assert bytes.fromhex("10011801") in buf


class _BinCollector(BaseHTTPRequestHandler):
    received: list[tuple[dict, bytes]] = []

    def do_POST(self):
        body = self.rfile.read(int(self.headers["Content-Length"]))
        if self.headers.get("Content-Encoding") == "gzip":
            body = gzip.decompress(body)
        _BinCollector.received.append((dict(self.headers), body))
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *a):
        pass


def test_export_protobuf_to_collector(spark, generated_df):
    """End-to-end: POST application/x-protobuf (+gzip) to a live HTTP
    collector; the collector-side decode equals the JSON wire tree."""
    import threading
    from http.server import HTTPServer

    from cflog2otel_spark.otlp_proto import decode_export_request

    cfg = Config.load(f"{CONFIGS}/multi_metrics.json")
    result = run_pipeline(spark, cfg, generated_df)
    reqs = encode_otlp(result, cfg)

    srv = HTTPServer(("127.0.0.1", 0), _BinCollector)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        _BinCollector.received.clear()
        n = export_otlp_http(
            reqs, f"http://127.0.0.1:{srv.server_port}",
            gzip=True, encoding="protobuf",
        )
        assert n == len(reqs) == len(_BinCollector.received)
        for req, (headers, body) in zip(reqs, _BinCollector.received):
            assert headers["Content-Type"] == "application/x-protobuf"
            assert _norm_tree(decode_export_request(body)) == _norm_tree(to_wire(req))
    finally:
        srv.shutdown()


def test_protobuf_roundtrip_property():
    """Hypothesis: arbitrary well-formed wire trees survive
    encode->decode, including unicode keys/values, negative ints, extreme
    doubles, and empty collections."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cflog2otel_spark.otlp_proto import (
        decode_export_request,
        encode_export_request,
    )

    finite_double = st.floats(allow_nan=False, width=64)
    any_value = st.one_of(
        st.text(max_size=20).map(lambda s: {"stringValue": s}),
        st.booleans().map(lambda b: {"boolValue": b}),
        st.integers(min_value=-(2**63), max_value=2**63 - 1).map(
            lambda i: {"intValue": i}
        ),
        finite_double.map(lambda d: {"doubleValue": d}),
    )
    attr = st.fixed_dictionaries(
        {"key": st.text(min_size=1, max_size=10), "value": any_value}
    )
    num_dp = st.fixed_dictionaries(
        {
            "startTimeUnixNano": st.integers(0, 2**63).map(str),
            "timeUnixNano": st.integers(0, 2**63).map(str),
            "asInt": st.integers(-(2**63), 2**63 - 1),
        },
        optional={"attributes": st.lists(attr, max_size=3)},
    )
    metric = st.fixed_dictionaries(
        {
            "name": st.text(min_size=1, max_size=10),
            "sum": st.fixed_dictionaries(
                {
                    "dataPoints": st.lists(num_dp, min_size=1, max_size=3),
                    "aggregationTemporality": st.sampled_from([1, 2]),
                    "isMonotonic": st.booleans(),
                }
            ),
        }
    )
    tree = st.fixed_dictionaries(
        {
            "resourceMetrics": st.lists(
                st.fixed_dictionaries(
                    {
                        "resource": st.fixed_dictionaries(
                            {"attributes": st.lists(attr, max_size=3)}
                        ),
                        "scopeMetrics": st.lists(
                            st.fixed_dictionaries(
                                {
                                    "scope": st.fixed_dictionaries(
                                        {"name": st.text(min_size=1, max_size=8)}
                                    ),
                                    "metrics": st.lists(metric, max_size=3),
                                }
                            ),
                            min_size=1,
                            max_size=2,
                        ),
                    }
                ),
                min_size=1,
                max_size=2,
            )
        }
    )

    @settings(max_examples=150, deadline=None)
    @given(tree)
    def roundtrip(t):
        back = decode_export_request(encode_export_request(t))
        assert _norm_tree(back) == _norm_tree(t)

    roundtrip()


def test_grpc_exporter_gated_without_bindings():
    """The OTLP gRPC path (reference app.go:243-258) is feature-gated like
    PIL: without the grpc package it must raise a clear RuntimeError
    pointing at the HTTP-protobuf path, never ImportError at call time."""
    from cflog2otel_spark.export import GRPC_AVAILABLE, export_otlp_grpc

    if GRPC_AVAILABLE:
        pytest.skip("grpc installed: the gate is open on this host")
    with pytest.raises(RuntimeError, match="grpc"):
        export_otlp_grpc([], "localhost:4317")


def test_grpc_exporter_live_roundtrip(spark, cf_fixture_df):
    """With grpc installed: a generic-handler server must receive exactly
    the encode_export_request bytes (the pinned-field-tested message)."""
    grpc = pytest.importorskip("grpc")
    from concurrent import futures

    from cflog2otel_spark.config import Config
    from cflog2otel_spark.export import export_otlp_grpc, to_wire
    from cflog2otel_spark.golden import encode_otlp
    from cflog2otel_spark.otlp_proto import encode_export_request
    from cflog2otel_spark.pipeline import run_pipeline

    cfg = Config.load("configs/request_count_by_status_category.json")
    res = run_pipeline(spark, cfg, cf_fixture_df)
    reqs = encode_otlp(res, cfg)
    expected = [encode_export_request(to_wire(r)) for r in reqs]

    received: list[bytes] = []

    class Handler(grpc.GenericRpcHandler):
        def service(self, details):
            def unary(request, context):
                received.append(request)
                return b""

            return grpc.unary_unary_rpc_method_handler(
                unary,
                request_deserializer=lambda b: b,
                response_serializer=lambda b: b,
            )

    server = grpc.server(futures.ThreadPoolExecutor(max_workers=2))
    server.add_generic_rpc_handlers((Handler(),))
    port = server.add_insecure_port("127.0.0.1:0")
    server.start()
    try:
        n = export_otlp_grpc(reqs, f"127.0.0.1:{port}")
        assert n == len(reqs)
        assert received == expected
    finally:
        server.stop(0)


def test_grpc_channel_target_parsing():
    """Endpoint -> channel target (ADVICE r4): scheme stripped only as a
    leading scheme (via netloc), path suffixes dropped, bare authorities
    passed through."""
    from cflog2otel_spark.export import grpc_channel_target

    assert grpc_channel_target("http://host:4317") == "host:4317"
    assert grpc_channel_target("https://host:4317/v1/metrics") == "host:4317"
    assert grpc_channel_target("host:4317") == "host:4317"
    assert grpc_channel_target("host:4317/v1") == "host:4317"
    # scheme-looking substring NOT at the front must not be excised
    assert grpc_channel_target("weirdhttp://host") == "host"
    assert grpc_channel_target("h-with-http://inside:443") == "inside:443"
    # gRPC-native target syntax passes through UNCHANGED (ADVICE r5:
    # dns:/// has an empty netloc and was mangled to 'dns:')
    assert grpc_channel_target("dns:///host:4317") == "dns:///host:4317"
    assert grpc_channel_target("ipv4:127.0.0.1:4317") == "ipv4:127.0.0.1:4317"
    assert grpc_channel_target("unix:/run/otel.sock") == "unix:/run/otel.sock"
    assert (
        grpc_channel_target("ipv6:[::1]:4317") == "ipv6:[::1]:4317"
    )


def test_decode_export_response_partial_success():
    """ExportMetricsServiceResponse decode: empty message is all-success;
    partial_success carries rejected_data_points + error_message."""
    from cflog2otel_spark.otlp_proto import (
        _len_field,
        _str_field,
        _varint_field,
        decode_export_response,
    )

    assert decode_export_response(b"") == {}
    ps = _varint_field(1, 7) + _str_field(2, "bad points")
    buf = _len_field(1, ps)
    assert decode_export_response(buf) == {
        "partialSuccess": {"rejectedDataPoints": 7, "errorMessage": "bad points"}
    }
