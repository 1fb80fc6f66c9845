"""Parser unit tests — full-record equality for a CloudFront log line,
mirroring /root/reference/cloudfront_std_log_test.go:25-264 — and the
shape of the plan the read -> parse -> enrich prefix builds."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cflog2otel_spark.operators.enrich import enrich
from cflog2otel_spark.operators.parse import decode_and_parse, parse_cf_lines
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import SOURCE1

# one 33-field line in the FIXTURES.md §2 field order, the user agent
# %20-escaped as CloudFront writes it
FIRST_LINE = "\t".join([
    "2019-12-01", "22:42:31", "LAX1", "392", "192.0.2.100", "GET",
    "d111111abcdef8.cloudfront.net", "/index.html", "200", "-",
    "Mozilla/5.0%20(Windows%20NT%2010.0;%20Win64;%20x64)%20AppleWebKit/537.36"
    "%20(KHTML,%20like%20Gecko)%20Chrome/78.0.3904.108%20Safari/537.36",
    "-", "-", "Hit", "SOX4xwn4XV6Q4rgb7XiVGOHms_BGlTAC4KyHmureZmBNrjGdRLiNIQ==",
    "d111111abcdef8.cloudfront.net", "https", "23", "0.001", "-", "TLSv1.2",
    "ECDHE-RSA-AES128-GCM-SHA256", "Hit", "HTTP/2.0", "-", "-", "11040", "0.001",
    "Hit", "text/html", "78", "-", "-",
])


def test_first_record_full_equality(spark):
    (r,) = enrich(decode_and_parse(tokenized_df_from_lines(spark, [FIRST_LINE], SOURCE1))).collect()
    r = r.asDict()
    assert r["date"] == "2019-12-01"
    assert r["time"] == "22:42:31"
    assert r["timestamp"] == datetime(2019, 12, 1, 22, 42, 31)
    assert r["x_edge_location"] == "LAX1"
    assert r["sc_bytes"] == 392
    assert r["client_ip"] == "192.0.2.100"
    assert r["cs_method"] == "GET"
    assert r["cs_host"] == "d111111abcdef8.cloudfront.net"
    assert r["cs_uri_stem"] == "/index.html"
    assert r["sc_status"] == 200
    assert r["sc_status_category"] == "2xx"
    assert r["cs_referer"] is None  # '-' -> null
    # URL-unescaped user agent (cloudfront_std_log.go:124-134)
    assert r["cs_user_agent"] == (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/78.0.3904.108 Safari/537.36"
    )
    assert r["cs_uri_query"] is None
    assert r["cs_cookie"] is None
    assert r["x_edge_result_type"] == "Hit"
    assert r["x_edge_request_id"] == "SOX4xwn4XV6Q4rgb7XiVGOHms_BGlTAC4KyHmureZmBNrjGdRLiNIQ=="
    assert r["x_host_header"] == "d111111abcdef8.cloudfront.net"
    assert r["cs_protocol"] == "https"
    assert r["cs_bytes"] == 23
    assert r["time_taken"] == 0.001
    assert r["x_forwarded_for"] is None
    assert r["ssl_protocol"] == "TLSv1.2"
    assert r["ssl_cipher"] == "ECDHE-RSA-AES128-GCM-SHA256"
    assert r["x_edge_response_result_type"] == "Hit"
    assert r["cs_protocol_version"] == "HTTP/2.0"
    assert r["fle_status"] is None
    assert r["fle_encrypted_fields"] is None
    assert r["c_port"] == 11040
    assert r["time_to_first_byte"] == 0.001
    assert r["x_edge_detailed_result_type"] == "Hit"
    assert r["sc_content_type"] == "text/html"
    assert r["sc_content_len"] == 78
    assert r["sc_range_start"] is None  # string-typed even though numeric
    assert r["sc_range_end"] is None
    assert r["type"] == "CloudFront Standard Log"
    # enrichment from the source key (app.go:434-450)
    assert r["distribution_id"] == "EMLARXS9EXAMPLE"
    assert r["datehour"] == "2019-12-01-22"
    assert r["object_hash"] == "RT4KCN4SGK9"
    assert r["bucket_name"] is None  # no S3 event


def test_fewer_fields_than_header_ok(spark):
    """Missing trailing fields stay null (cloudfront_std_log.go:313-315)."""
    line = "2019-12-01\t22:42:31\tLAX1"
    df = tokenized_df_from_lines(spark, [line], SOURCE1)
    r = decode_and_parse(df).collect()[0]
    assert r["x_edge_location"] == "LAX1"
    assert r["sc_bytes"] is None
    assert r["sc_status"] is None
    assert r["timestamp"] == datetime(2019, 12, 1, 22, 42, 31)


def test_more_fields_strict_raises(spark):
    """More values than header fields is a hard error in strict mode
    (cloudfront_std_log.go:305-307)."""
    line = "\t".join(["x"] * 40)
    df = tokenized_df_from_lines(spark, [line], SOURCE1)
    with pytest.raises(Exception, match="more fields"):
        decode_and_parse(df, strict=True).collect()


def test_lenient_bad_number_is_null(spark):
    line = "2019-12-01\t22:42:31\tLAX1\tnot_a_number"
    df = tokenized_df_from_lines(spark, [line], SOURCE1)
    r = decode_and_parse(df).collect()[0]
    assert r["sc_bytes"] is None


def test_strict_bad_number_raises(spark):
    line = "2019-12-01\t22:42:31\tLAX1\tnot_a_number"
    df = tokenized_df_from_lines(spark, [line], SOURCE1)
    with pytest.raises(Exception):
        decode_and_parse(df, strict=True).collect()


def test_custom_field_order(spark):
    """Dynamic #Fields: binding — reordered/missing/unknown fields
    (cloudfront_std_log.go:287-324)."""
    df = spark.createDataFrame([("200\t9.5\tbogus",)], ["line"])
    out = parse_cf_lines(
        df, field_order=["sc-status", "time-taken", "mystery-field"]
    ).collect()[0]
    assert out["sc_status"] == 200
    assert out["time_taken"] == 9.5
    assert out["date"] is None  # not in this file's header


def test_non_gz_source_key_gives_null_context(spark):
    """Unparseable object key -> null distribution (skip semantics,
    app.go:306-313)."""
    df = tokenized_df_from_lines(spark, ["2019-12-01\t22:42:31"], "logs/notgz.txt")
    r = enrich(decode_and_parse(df)).collect()[0]
    assert r["distribution_id"] is None
    assert r["datehour"] is None


def test_utf8_multibyte_token_roundtrip(spark):
    """Token decode must be byte-exact for multi-byte UTF-8."""
    line = "2019-12-01\t22:42:31\tZÜR1-ünïcodé-日本語"
    df = tokenized_df_from_lines(spark, [line], SOURCE1)
    r = decode_and_parse(df).collect()[0]
    assert r["x_edge_location"] == "ZÜR1-ünïcodé-日本語"
    assert bytes(r["tokens"]) .decode("utf-8") == line


def test_decode_impls_agree(spark):
    """JVM hex decode == Arrow UDF decode, byte-exact, incl. multibyte."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.parse import (
        decode_tokens_col,
        decode_tokens_udf,
        encode_tokens_col,
        encode_tokens_udf,
    )

    lines = ["plain ascii line", "ünïcodé 日本語 ✓", ""]
    df = tokenized_df_from_lines(spark, lines, SOURCE1)
    got = df.select(
        decode_tokens_col("tokens").alias("a"),
        decode_tokens_udf(F.col("tokens")).alias("b"),
    ).collect()
    for r, line in zip(got, lines):
        assert r["a"] == line and r["b"] == line

    # encode col == encode udf == python bytes
    enc = spark.createDataFrame([(l,) for l in lines], ["line"]).select(
        encode_tokens_col(F.col("line")).alias("a"),
        encode_tokens_udf(F.col("line")).alias("b"),
    ).collect()
    for r, line in zip(enc, lines):
        expect = list(line.encode("utf-8"))
        assert r["a"] == expect and r["b"] == expect


def test_strict_token_out_of_range_raises(spark):
    import pytest as _pytest
    from pyspark.sql import types as T

    from cflog2otel_spark.operators.parse import decode_and_parse
    from cflog2otel_spark.schemas import tokenized_input_schema

    df = spark.createDataFrame(
        [("d", [72, 300], 2, SOURCE1)], schema=tokenized_input_schema()
    )
    with _pytest.raises(Exception, match="byte range"):
        decode_and_parse(df, strict=True).collect()
    # lenient path doesn't raise
    decode_and_parse(df).collect()


def _ops_above_relation(df) -> int:
    """Operators between the analysed plan's root and its one leaf."""
    node, n = df._jdf.queryExecution().analyzed(), 0
    while node.children().size() > 0:
        assert node.children().size() == 1, node.treeString()
        node, n = node.children().apply(0), n + 1
    return n


def test_prefix_plan_is_small_and_prunes_one_object(spark, tmp_path):
    """read -> parse -> enrich builds at most 5 operators above the scan
    (decode, split, fields; the skip filter, the context columns), and a
    per-object scope still prunes the scan to the object's partition."""
    from cflog2otel_spark.operators.enrich import with_event_context
    from cflog2otel_spark.sources.generator import generate_tokenized, write_corpus
    from cflog2otel_spark.sources.tokenized import read_tokenized

    path = str(tmp_path / "tok")
    write_corpus(generate_tokenized(spark, 200, seed=3, n_hours=1, rows_per_file=50), path)
    parsed = enrich(decode_and_parse(read_tokenized(spark, path)), on_bad_key="skip")
    assert _ops_above_relation(parsed) <= 5, parsed._jdf.queryExecution().analyzed().treeString()

    key = parsed.select("source").first()["source"]
    scoped = with_event_context(parsed, {"source": key, "bucket_name": "b"}).filter(
        F.col("source") == key
    )
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    (scan,) = [ln for ln in plan.split("\n") if "FileScan" in ln]
    pushed = scan[scan.index("PartitionFilters"):]
    assert key in pushed, scan
    assert {r["bucket_name"] for r in scoped.collect()} == {"b"}


def test_read_tokenized_never_tries_a_missing_iceberg_source(spark, tmp_path, monkeypatch):
    """Without an Iceberg source on the classpath, a parquet path is read
    as parquet without ever naming the `iceberg` format (whose failed
    lookup spawns a Python data-source worker); a table name (no `/`)
    goes to the catalog."""
    from cflog2otel_spark.sources.tokenized import read_tokenized

    reader = type(spark.read)
    formats = []
    real_format = reader.format

    def recording(self, source):
        formats.append(source)
        return real_format(self, source)

    monkeypatch.setattr(reader, "format", recording)
    path = str(tmp_path / "tok")
    tok = tokenized_df_from_lines(spark, [FIRST_LINE, "2019-12-01\t22:42:32"], SOURCE1)
    tok.write.parquet(path)
    rows = sorted(tuple(r) for r in read_tokenized(spark, path).collect())
    assert rows == sorted(tuple(r) for r in tok.collect())
    assert "iceberg" not in formats, formats

    spark.read.parquet(path).createOrReplaceTempView("tokenized_view")
    assert read_tokenized(spark, "tokenized_view").count() == 2
    assert "iceberg" not in formats, formats
