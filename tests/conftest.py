from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CF_LOG = f"{REFERENCE}/testdata/cf_log.txt"
CF_LOG2 = f"{REFERENCE}/testdata/cf_log2.txt"
FIXTURES = f"{REFERENCE}/testdata/fixtures"
CONFIGS = f"{REPO}/configs"

SOURCE1 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT4KCN4SGK9.gz"
SOURCE2 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT3KCN4SGK9.gz"


@pytest.fixture(scope="session")
def spark():
    from cflog2otel_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cf_fixture_df(spark):
    """The reference's 6-line cf_log.txt as a tokenized DataFrame."""
    from cflog2otel_spark.sources.tokenized import read_cf_log_file, tokenized_df_from_lines

    _, lines = read_cf_log_file(CF_LOG)
    return tokenized_df_from_lines(spark, lines, SOURCE1).cache()


def generated_lines(spark, n_rows: int, seed: int) -> list[str]:
    """Deterministic CloudFront log lines from the generator, one hour of
    2024-03-01, in doc_id order."""
    from cflog2otel_spark.sources.generator import generate_lines

    rows = generate_lines(spark, n_rows, seed=seed, n_hours=1).orderBy("doc_id").collect()
    return [r["line"] for r in rows]


@pytest.fixture(scope="session")
def generated_df(spark):
    """200 generator lines as one object of SOURCE1 (one distribution, so
    one resource): input for tests that need no reference line."""
    from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

    return tokenized_df_from_lines(spark, generated_lines(spark, 200, seed=5), SOURCE1).cache()


def metric_windows(spark, epoch_us: list[int], interval: float) -> dict:
    """{(window start, window end) in Unix microseconds: data points} of a
    Count metric with `interval` (seconds, ms precision) over one row at
    each of `epoch_us`, as aggregate_metric builds the sink."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.config import Config
    from cflog2otel_spark.operators.aggregate import aggregate_metric

    cfg = Config.from_json({
        "resource_attributes": [],
        "scope": {"name": "t"},
        "metrics": [{"name": "n", "type": "Count", "interval": f"{round(interval * 1000)}ms"}],
    })
    parsed = spark.createDataFrame([(u,) for u in epoch_us], "us long").select(
        F.timestamp_micros("us").alias("timestamp")
    )
    rows = aggregate_metric(parsed, cfg, cfg.metrics[0]).select(
        F.unix_micros("window_start").alias("start"),
        F.unix_micros("window_end").alias("end"),
        "value",
    ).collect()
    return {(r["start"], r["end"]): r["value"] for r in rows}


def summed_points(rows) -> dict:
    """Data points keyed by (window start, resource attrs, attrs), the rows
    of one key combined the way a delta consumer sums data points: counts,
    sums and histogram buckets added, min/max of the extremes. Sums are
    rounded so per-batch partial sums compare equal to one batch sum."""
    pts: dict = {}
    for r in rows:
        r = r if isinstance(r, dict) else r.asDict(recursive=True)
        key = (
            str(r["window_start"]),
            frozenset((a["key"], a["value"]) for a in r["resource_attrs"]),
            frozenset((a["key"], a["value"]) for a in r["attrs"]),
        )
        if "bucket_counts" in r:
            v = [r["count"], r["sum"], r["min"], r["max"], r["bucket_counts"]]
            if key in pts:
                o = pts[key]
                v = [o[0] + v[0], o[1] + v[1], min(o[2], v[2]), max(o[3], v[3]),
                     [a + b for a, b in zip(o[4], v[4])]]
        else:
            v = [r["value"] + (pts[key][0] if key in pts else 0)]
        pts[key] = v
    return {k: tuple(round(x, 6) if isinstance(x, float) else
                     tuple(x) if isinstance(x, list) else x for x in v)
            for k, v in pts.items()}
