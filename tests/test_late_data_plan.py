"""Late-data idempotent re-emit across checkpointed streaming restarts,
window-anchor property test (hypothesis vs Go-Truncate oracle), and a
physical-plan regression guard for the flagship pipeline."""

from collections import Counter
from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from cflog2otel_spark.config import Config
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import (
    CONFIGS, SOURCE1, SOURCE2, generated_lines, metric_windows, summed_points,
)


def test_streaming_late_data_updates_window_idempotently(spark, tmp_path):
    """A restart whose only new file holds two late lines for ONE already
    emitted key adds one delta row for that key and keeps every row the
    first run wrote: per-key sums equal the batch pipeline over all lines
    (T4: per-batch deltas, checkpointed resume)."""
    from cflog2otel_spark.pipeline import run_pipeline
    from cflog2otel_spark.streaming.stream import run_streaming_pipeline

    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    sink = f"{out}/http.server.requests"
    cfg = Config.load(f"{CONFIGS}/request_count_by_status_category.json")
    lines = generated_lines(spark, 300, seed=5)

    def drain() -> list[dict]:
        for q in run_streaming_pipeline(spark, cfg, inp, out, ck):
            assert q.awaitTermination(120), "streaming query timed out (120s)"
        return [r.asDict(recursive=True) for r in spark.read.parquet(sink).collect()]

    def row_set(rows: list[dict]) -> set:
        return {(*summed_points([r]).popitem(), r.get("_batch_id")) for r in rows}

    tokenized_df_from_lines(spark, lines, SOURCE1).write.parquet(inp)
    first = drain()
    assert len(first) > 100

    # restart on the same checkpoint: a new file with two copies of the
    # earliest line, late for a window emitted by the first run
    late = [min(lines)] * 2
    tokenized_df_from_lines(spark, late, SOURCE2).write.mode("append").parquet(inp)
    second = drain()
    assert row_set(first) <= row_set(second) and len(second) == len(first) + 1

    batch = run_pipeline(
        spark, cfg, tokenized_df_from_lines(spark, lines + late, SOURCE1)
    ).points()["http.server.requests"]
    assert summed_points(second) == summed_points(batch)


GO_EPOCH = datetime(1, 1, 1, tzinfo=timezone.utc)
UNIX_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


@settings(max_examples=30, deadline=None)
@given(
    epoch_us=st.lists(
        st.integers(min_value=-2_000_000_000_000_000, max_value=2_000_000_000_000_000),
        min_size=1, max_size=8,
    ),
    interval=st.sampled_from([0.5, 1, 1.25, 7, 45, 60, 90, 300, 420, 3600, 5400, 86400]),
)
def test_window_anchor_property(spark, epoch_us, interval):
    """For arbitrary timestamps (before 1970 too) and intervals (sub-second
    ones too), the sink's arithmetic window equals Go time.Truncate
    (hypothesis-driven; SURVEY.md A4)."""
    d = round(interval * 1000) * 1000
    expect = Counter()
    for us in epoch_us:
        # Go Truncate: the microseconds since the year-1 zero time, rounded
        # down to a multiple of the interval
        since_go = us + (UNIX_EPOCH - GO_EPOCH) // timedelta(microseconds=1)
        expect[(us - since_go % d, us - since_go % d + d)] += 1
    assert metric_windows(spark, epoch_us, interval) == expect, (epoch_us, interval)


def test_flagship_plan_has_no_python_and_prunes_scan(spark, tmp_path, monkeypatch):
    """Regression guard for the perf-critical plan shape: the data points
    of the whole config are collected by ONE plan with one shuffle, over
    an uncached projection, with no Python eval nodes and the parquet scan
    pruned to the columns the config needs — by Catalyst alone, with and
    without the lineage stats (`keep_payload`), which add `n_tok` and
    `source` but never `doc_id`."""
    from cflog2otel_spark.pipeline import run_pipeline

    plans = []
    classic = type(spark.range(1))  # the DataFrame class this session builds
    to_arrow = classic.toArrow

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return to_arrow(df)

    monkeypatch.setattr(classic, "toArrow", recording)

    path = str(tmp_path / "corpus")
    tokenized_df_from_lines(spark, generated_lines(spark, 300, seed=3), SOURCE1).write.parquet(path)
    cfg = Config.load(f"{CONFIGS}/multi_metrics.json")
    for keep_payload in (False, True):
        plans.clear()
        res = run_pipeline(spark, cfg, spark.read.parquet(path), keep_payload=keep_payload)
        assert all(res.points().values())
        assert len(plans) == 1, plans
        plan = plans[0]
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "InMemoryTableScan" not in plan
        assert "Python" not in plan and "HashAggregate" in plan
        read_schema = [line for line in plan.split("\n") if "ReadSchema" in line]
        assert len(read_schema) == 1 and "tokens" in read_schema[0], plan
        assert "doc_id" not in read_schema[0]
        if keep_payload:
            assert "n_tok" in read_schema[0] and "source" in read_schema[0], plan
