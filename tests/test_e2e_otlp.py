"""E2E OTLP-proto golden parity — mirrors the reference's app_test.go:26-68
(e2e) and :70-150 (e2e_backfill): the full invocation path rendered as the
OTLP ExportMetricsServiceRequest JSON the reference's collector snapshots.
The goldens under tests/fixtures/ are written by hand from the FIXTURES.md
§4/§5 data points and the two configs, not by the encoder under test."""

import json
import os

from cflog2otel_spark.config import Config
from cflog2otel_spark.golden import canonicalize_otlp, encode_otlp
from cflog2otel_spark.operators.backfill import backfill_select
from cflog2otel_spark.pipeline import run_pipeline, run_pipeline_parsed
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import CF_LINES, CF_LINES2, CONFIGS, SOURCE1, SOURCE2

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _load(name):
    with open(f"{GOLDENS}/{name}.golden.json") as fh:
        return canonicalize_otlp(json.load(fh))


def test_e2e_otlp_golden(spark, cf_fixture_df):
    cfg = Config.load(f"{CONFIGS}/request_count_by_status_category.json")
    result = run_pipeline(spark, cfg, cf_fixture_df)
    reqs = encode_otlp(result, cfg)
    assert len(reqs) == 1
    assert reqs[0] == _load("e2e")


def test_e2e_backfill_otlp_golden(spark):
    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse

    corpus = tokenized_df_from_lines(spark, CF_LINES, SOURCE1).union(
        tokenized_df_from_lines(spark, CF_LINES2, SOURCE2)
    )
    cfg = Config.load(f"{CONFIGS}/backfil_config.json")
    parsed = enrich(decode_and_parse(corpus))
    selected = backfill_select(
        parsed,
        SOURCE1,
        "2019-12-01 22:56:00",
        cfg.backfill.time_tolerance_seconds,
        {
            SOURCE2: "2019-12-01 22:40:00",
            SOURCE1: "2019-12-01 22:52:00",
        },
    )
    reqs = encode_otlp(run_pipeline_parsed(spark, cfg, selected), cfg)
    assert len(reqs) == 1
    assert reqs[0] == _load("e2e_backfill")
