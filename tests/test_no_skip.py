"""skip-or-fail on unparseable object keys (app.go:306-313) and typed
switch zero values (cel.go:239-292) — behavioral tests."""

import pytest
from pyspark.sql import functions as F

from cflog2otel_spark.config import Config
from cflog2otel_spark.pipeline import run_pipeline
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import CF_LINES, SOURCE1

BAD_SOURCE = "logs/not-a-cf-key.txt"  # no .gz, no dist.datehour.hash shape


def _corpus(spark):
    """SOURCE1's 6 FIXTURES.md §1 lines, and the same lines under a key
    that does not parse."""
    good = tokenized_df_from_lines(spark, CF_LINES, SOURCE1)
    bad = tokenized_df_from_lines(spark, CF_LINES, BAD_SOURCE)
    return good.union(bad), 6


def _count_cfg(no_skip: bool = False) -> Config:
    return Config.from_json(
        {
            "no_skip": no_skip,
            "scope": {"name": "t"},
            "metrics": [{"name": "requests", "type": "Count", "interval": "1h"}],
        }
    )


def test_bad_key_file_skipped_when_no_skip_false(spark):
    """NoSkip=false: the whole unparseable-key file contributes nothing
    (the reference skips the file before parsing it)."""
    corpus, n_lines = _corpus(spark)
    result = run_pipeline(spark, _count_cfg(no_skip=False), corpus)
    total = result.sinks["requests"].agg(F.sum("value")).first()[0]
    assert total == n_lines  # only SOURCE1's 6 lines


def test_bad_key_errors_when_no_skip_true(spark):
    """NoSkip=true: the run fails at the first unparseable key, in-dataflow
    (no extra scan), with the key in the message."""
    corpus, _ = _corpus(spark)
    result = run_pipeline(spark, _count_cfg(no_skip=True), corpus)
    with pytest.raises(Exception, match="failed to parse object key"):
        result.sinks["requests"].collect()


def test_no_skip_true_clean_corpus_passes(spark):
    """The assert must be invisible when every key parses."""
    corpus = tokenized_df_from_lines(spark, CF_LINES, SOURCE1)
    result = run_pipeline(spark, _count_cfg(no_skip=True), corpus)
    total = result.sinks["requests"].agg(F.sum("value")).first()[0]
    assert total == 6


def test_switch_value_zero_keeps_row_at_zero(spark):
    """A default-less switch in `value` (CELCapable[float64]) contributes
    0.0 for non-matching rows — the row still aggregates (count includes
    it, sum adds 0), unlike a NULL which Spark's sum/count(v) would skip."""
    corpus = tokenized_df_from_lines(spark, CF_LINES, SOURCE1)
    cfg = Config.from_json(
        {
            "scope": {"name": "t"},
            "metrics": [
                {
                    "name": "hist",
                    "type": "Histogram",
                    "interval": "1h",
                    "boundaries": [0.5],
                    "value": {
                        "switch": [
                            # never matches: scStatus < 0 is impossible
                            {"case": {"expr": "log.scStatus < 0"}, "value": 99.0}
                        ]
                    },
                }
            ],
        }
    )
    result = run_pipeline(spark, cfg, corpus)
    row = result.sinks["hist"].first()
    assert row["count"] == 6  # every row aggregated at 0.0
    assert row["sum"] == 0.0
    assert row["bucket_counts"][0] == 6  # all in (-inf, 0.5)
