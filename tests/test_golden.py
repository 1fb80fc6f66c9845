"""Golden-file aggregation tests — the crown jewel.

Each of the 9 reference configs runs over the tokenized encoding of the
reference's 6-line cf_log.txt and must match the canonicalized
/root/reference/testdata/fixtures/<name>.golden.json
(mirrors /root/reference/aggregation_test.go:20-51).
"""

import pytest

from cflog2otel_spark.config import Config
from cflog2otel_spark.golden import diff_golden, encode_golden, load_reference_golden
from cflog2otel_spark.pipeline import run_pipeline

from .conftest import CONFIGS, FIXTURES, REFERENCE

GOLDEN_CONFIGS = [
    "request_count_by_status_category",
    "request_count_for_5xx",
    "request_count_for_5xx_is_cumlative",
    "multi_metrics",
    "switch_case",
    "switch_with_cel_value",
    "request_time_histogram",
    "request_time_histogram_custom_buckets",
    "backfil_config",
]


@pytest.mark.parametrize("name", GOLDEN_CONFIGS)
def test_golden(spark, cf_fixture_df, name):
    # the reference's own .jsonnet config loaded VERBATIM (jsonnet_min with
    # the cel/switch natives), proven identical to the hand-ported JSON
    cfg = Config.load(f"{REFERENCE}/testdata/{name}.jsonnet")
    assert cfg == Config.load(f"{CONFIGS}/{name}.json")
    result = run_pipeline(spark, cfg, cf_fixture_df)
    ours = encode_golden(result, cfg)
    theirs = load_reference_golden(f"{FIXTURES}/{name}.golden.json")
    assert len(ours) == 1
    assert ours[0] == theirs, diff_golden(ours[0], theirs)


def test_token_passthrough(spark, cf_fixture_df):
    """Payload invariant: token arrays survive the pipeline untouched."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse
    from cflog2otel_spark.sources.tokenized import verify_token_passthrough

    parsed = enrich(decode_and_parse(cf_fixture_df))
    assert verify_token_passthrough(parsed, cf_fixture_df) == 0
    # n_tok preserved and consistent
    assert parsed.filter(F.size("tokens") != F.col("n_tok")).count() == 0
