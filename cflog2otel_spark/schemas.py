"""Schemas for the cflog2otel-spark pipeline.

The data model mirrors the reference's CloudFront standard-log record
(/root/reference/cloudfront_std_log.go:17-54, 36 fields incl. derived) and
the driver input hint (tokenized sequences: doc_id, tokens, n_tok, source).

Every CloudFront field is listed once in CF_FIELDS with:
  - the raw log-file field name (the `#Fields:` header token),
  - the CEL variable name on the `log.` namespace (camelCase, per the Go
    struct tags in cloudfront_std_log.go:17-54),
  - our Spark column name (snake_case),
  - the Spark type after casting.

CEL_FIELDS extends it with the derived and context fields into the one
list of variables a CEL expression can name.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T


@dataclass(frozen=True)
class CFField:
    raw: str  # name in the `#Fields:` header directive
    cel: str  # name in the CEL `log.` namespace
    col: str  # our Spark column name
    dtype: str  # 'string' | 'long' | 'double'


# The 33 physical fields, in the canonical header order of
# /root/reference/testdata/cf_log.txt:2 (CloudFront standard-log v1.0).
CF_FIELDS: list[CFField] = [
    CFField("date", "date", "date", "string"),
    CFField("time", "time", "time", "string"),
    CFField("x-edge-location", "xEdgeLocation", "x_edge_location", "string"),
    CFField("sc-bytes", "scBytes", "sc_bytes", "long"),
    CFField("c-ip", "clientIp", "client_ip", "string"),
    CFField("cs-method", "csMethod", "cs_method", "string"),
    CFField("cs(Host)", "csHost", "cs_host", "string"),
    CFField("cs-uri-stem", "csUriStem", "cs_uri_stem", "string"),
    CFField("sc-status", "scStatus", "sc_status", "long"),
    CFField("cs(Referer)", "csReferer", "cs_referer", "string"),
    CFField("cs(User-Agent)", "csUserAgent", "cs_user_agent", "string"),
    CFField("cs-uri-query", "csUriQuery", "cs_uri_query", "string"),
    CFField("cs(Cookie)", "csCookie", "cs_cookie", "string"),
    CFField("x-edge-result-type", "xEdgeResultType", "x_edge_result_type", "string"),
    CFField("x-edge-request-id", "xEdgeRequestId", "x_edge_request_id", "string"),
    CFField("x-host-header", "xHostHeader", "x_host_header", "string"),
    CFField("cs-protocol", "csProtocol", "cs_protocol", "string"),
    CFField("cs-bytes", "csBytes", "cs_bytes", "long"),
    CFField("time-taken", "timeTaken", "time_taken", "double"),
    CFField("x-forwarded-for", "xForwardedFor", "x_forwarded_for", "string"),
    CFField("ssl-protocol", "sslProtocol", "ssl_protocol", "string"),
    CFField("ssl-cipher", "sslCipher", "ssl_cipher", "string"),
    CFField(
        "x-edge-response-result-type",
        "edgeResponseResultType",
        "x_edge_response_result_type",
        "string",
    ),
    CFField("cs-protocol-version", "csProtocolVersion", "cs_protocol_version", "string"),
    CFField("fle-status", "fleStatus", "fle_status", "string"),
    CFField("fle-encrypted-fields", "fleEncryptedFields", "fle_encrypted_fields", "long"),
    CFField("c-port", "cPort", "c_port", "long"),
    CFField("time-to-first-byte", "timeToFirstByte", "time_to_first_byte", "double"),
    CFField(
        "x-edge-detailed-result-type",
        "xEdgeDetailedResultType",
        "x_edge_detailed_result_type",
        "string",
    ),
    CFField("sc-content-type", "scContentType", "sc_content_type", "string"),
    CFField("sc-content-len", "scContentLen", "sc_content_len", "long"),
    # kept as strings even though numeric-looking (cloudfront_std_log.go:232-247)
    CFField("sc-range-start", "scRangeStart", "sc_range_start", "string"),
    CFField("sc-range-end", "scRangeEnd", "sc_range_end", "string"),
]

CANONICAL_HEADER: list[str] = [f.raw for f in CF_FIELDS]

# Every variable a CEL expression can name, once: (CEL path, Spark column,
# type). The translator resolves and types paths from it, the load-time
# validator analyses against the schema built from it, and
# operators.enrich.with_event_context binds its event fields. The reference
# binds the same set per invocation in NewCELVariables (cel.go:19-69).
@dataclass(frozen=True)
class CELField:
    path: str  # dotted CEL path, e.g. "log.scBytes" or "bucket.name"
    col: str  # the Spark column it resolves to
    dtype: str  # 'string' | 'long' | 'double' | 'timestamp'
    event: bool = False  # bound from the S3 event record, NULL without one


CEL_FIELDS: list[CELField] = [
    *(CELField(f"log.{f.cel}", f.col, f.dtype) for f in CF_FIELDS),
    # derived by the parse stage (cloudfront_std_log.go:59-80, :109-119, :309)
    CELField("log.type", "type", "string"),
    CELField("log.timestamp", "timestamp", "timestamp"),
    CELField("log.scStatusCategory", "sc_status_category", "string"),
    # derived from the `source` object key by enrich (app.go:434-450)
    CELField("cloudfront.distributionId", "distribution_id", "string"),
    CELField("object.key", "source", "string"),
    # the S3 event record's bucket/object fields (cel.go:48-69)
    CELField("bucket.name", "bucket_name", "string", event=True),
    CELField("bucket.arn", "bucket_arn", "string", event=True),
    CELField(
        "bucket.ownerIdentity.principalId", "bucket_owner_principal_id", "string", event=True
    ),
    CELField("object.size", "object_size", "long", event=True),
    CELField("object.eTag", "object_etag", "string", event=True),
    CELField("object.versionId", "object_version_id", "string", event=True),
    CELField("object.sequencer", "object_sequencer", "string", event=True),
]

# CEL `log.` namespace -> Spark column name
CEL_LOG_FIELDS: dict[str, str] = {
    f.path.removeprefix("log."): f.col for f in CEL_FIELDS if f.path.startswith("log.")
}

# Context (non-log) CEL variables -> Spark column name
CEL_CONTEXT_FIELDS: dict[str, str] = {
    f.path: f.col for f in CEL_FIELDS if not f.path.startswith("log.")
}

_SPARK_TYPES = {
    "string": T.StringType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "timestamp": T.TimestampType(),
}


def tokenized_input_schema() -> T.StructType:
    """Input table shape per BASELINE.json input_hint."""
    return T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
            T.StructField("n_tok", T.IntegerType(), False),
            T.StructField("source", T.StringType(), False),
        ]
    )


def parsed_log_schema() -> T.StructType:
    """Typed nullable schema after parse+enrich (SURVEY.md §1.1): every
    CEL_FIELDS column, then the payload."""
    fields = [T.StructField(f.col, _SPARK_TYPES[f.dtype], True) for f in CEL_FIELDS]
    fields += [f for f in tokenized_input_schema() if f.name != "source"]
    return T.StructType(fields)
