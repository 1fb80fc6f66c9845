"""Late-data idempotent re-emit across checkpointed streaming restarts,
window-anchor property test (hypothesis vs Go-Truncate oracle), and a
physical-plan regression guard for the flagship pipeline."""

from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cflog2otel_spark.config import Config
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import CONFIGS, SOURCE1, SOURCE2, generated_lines, summed_points


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


@settings(max_examples=30, deadline=None)
@given(
    epoch_s=st.integers(min_value=0, max_value=2_000_000_000),
    interval=st.sampled_from([1, 7, 45, 60, 90, 300, 420, 3600, 5400, 86400]),
)
def test_window_anchor_property(spark, epoch_s, interval):
    """For arbitrary timestamps and intervals, F.window with our offset
    equals Go time.Truncate (hypothesis-driven; SURVEY.md A4)."""
    from cflog2otel_spark.operators.aggregate import window_col

    ts = datetime.fromtimestamp(epoch_s, tz=timezone.utc).replace(tzinfo=None)
    df = spark.createDataFrame([(ts,)], ["ts"])
    w = df.select(window_col(F.col("ts"), interval).alias("w")).collect()[0]["w"]
    t_utc = ts.replace(tzinfo=timezone.utc)
    delta = (t_utc - GO_EPOCH).total_seconds()
    expect = GO_EPOCH + timedelta(seconds=(delta // interval) * interval)
    assert w["start"].replace(tzinfo=timezone.utc) == expect


def test_flagship_plan_has_no_python_and_prunes_scan(spark, cf_fixture_df, tmp_path):
    """Regression guard for the perf-critical plan shape: no Python eval
    nodes, parquet scan reads only (tokens, source)."""
    from cflog2otel_spark.pipeline import run_pipeline

    path = str(tmp_path / "corpus")
    cf_fixture_df.write.parquet(path)
    corpus = spark.read.parquet(path)
    cfg = Config.load(f"{CONFIGS}/multi_metrics.json")
    res = run_pipeline(spark, cfg, corpus, keep_payload=False, cache="none")
    plan = res.sinks["http.server.requests"]._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
    # scan pruned to the two needed columns
    read_schema = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert read_schema and "tokens" in read_schema[0] and "doc_id" not in read_schema[0]
