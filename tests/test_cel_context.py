"""The record CEL sees is declared once, in schemas.CEL_FIELDS: every path
there resolves and types the same in the translator, the validator's schema,
the S3 event parser and the enriched record (NewCELVariables,
cel.go:19-69)."""

import json

from pyspark.sql import types as T

from cflog2otel_spark import celtrans
from cflog2otel_spark.schemas import CEL_FIELDS, parsed_log_schema
from cflog2otel_spark.sources.events import dummy_s3_notification, s3_record_context
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import SOURCE1, generated_lines

_CEL_TYPES = {
    "int": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
}


def test_cel_fields_agree_with_translator_schema_and_event_parser():
    """Pure Python, no JVM: each declared path translates to its column of
    parsed_log_schema() with the translator's static type, and the event
    parser yields exactly the declared event fields."""
    schema = {f.name: f.dataType for f in parsed_log_schema()}
    for f in CEL_FIELDS:
        col = celtrans.translate(f.path)
        assert col == f.col and col in schema, f.path
        _, ctype = celtrans._Parser(celtrans._tokenize(f.path), f.path).parse()
        assert _CEL_TYPES[ctype] == schema[col], f.path

    (record,) = json.loads(dummy_s3_notification("s3://b/logs/E1.2024-03-01-00.a.gz"))[
        "Records"
    ]
    ctx = set(s3_record_context(record)) - {"source", "event_time"}
    assert ctx == {f.col for f in CEL_FIELDS if f.event}


def test_enriched_record_has_the_declared_schema(spark):
    """parse + enrich produce every declared column with its declared type."""
    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse

    corpus = tokenized_df_from_lines(spark, generated_lines(spark, 20, seed=3), SOURCE1)
    got = {f.name: f.dataType for f in enrich(decode_and_parse(corpus)).schema}
    for f in parsed_log_schema():
        assert got.get(f.name) == f.dataType, f.name
