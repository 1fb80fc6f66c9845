"""Structured Streaming variant of the pipeline.

The reference is a serially-invoked micro-batch system: one Lambda per S3
notification aggregates the lines it read and exports them as delta data
points, which the collector sums (app.go:206-241; the reference never
accumulates across invocations, aggregation.go:152-155). The streaming
mapping is the same, one micro-batch per invocation:

  file source over the tokenized corpus (new objects = new files)
    -> foreachBatch: decode/parse/enrich + every metric aggregation
       (run_pipeline: one aggregation of every metric over one pruned
       projection, as in batch)
    -> sink: one delta row per key per micro-batch, in the batch's
       `_batch_id` partition (T4: a replayed batch replaces that partition
       directory, so it replaces its own rows)

There is no streaming state: a key whose lines arrive in several batches
(late data, windows spanning files) gets one row per batch, and readers sum
the rows of a key, as an OTLP delta consumer sums data points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import Config
from ..pipeline import run_pipeline, sink_dirname, write_sinks
from ..schemas import tokenized_input_schema

_QUERY_DIR = "single_pass"


def read_tokenized_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 64
) -> DataFrame:
    return (
        spark.readStream.schema(tokenized_input_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _reject_per_metric_checkpoint(spark: SparkSession, cfg: Config, checkpoint_dir: str) -> None:
    """Fail fast on a checkpoint of the removed per-metric topology (a parse
    tee under `parsed_staging/` plus one query checkpoint per metric sink
    directory). Starting the delta drain there would re-emit all history
    next to the old `w_date` sink partitions. Checked through the Hadoop
    FileSystem so that `scheme://` checkpoints are covered too."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    names = {"parsed_staging"} | {sink_dirname(m.name) for m in cfg.metrics}
    stale = sorted(
        n for n in names - {_QUERY_DIR} if fs.exists(jvm.org.apache.hadoop.fs.Path(root, n))
    )
    if stale:
        raise ValueError(
            f"checkpoint directory {checkpoint_dir} holds {', '.join(stale)} from the "
            "removed per-metric streaming topology; start from a new checkpoint "
            "directory and a new output directory"
        )


def run_streaming_pipeline(
    spark: SparkSession,
    cfg: Config,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    trigger_once: bool = True,
    max_files_per_trigger: int = 64,
    watermark: str | None = None,
):
    """Start the streaming drain: ONE query whose foreachBatch decodes/
    parses each micro-batch once and derives every metric sink from one
    aggregation over that projection, as the batch pipeline does (A2).
    Returns the started query in a one-element list.

    Each micro-batch writes its windows' DELTAS under
    `{out_dir}/{sink_dirname(metric)}/_batch_id=N`; reading a sink sums the
    rows of one key (counts and sums added, histogram buckets added
    element-wise, min/max of the extremes). Exactly-once on retry: a
    replayed batch replaces its own `_batch_id` directory.

    trigger_once=True (availableNow) drains the backlog and stops, the
    reference's one-invocation-per-notification model; False runs a
    30-second processing-time trigger. `watermark` has no effect: the drain
    keeps no state to bound. It is accepted so existing callers still run.
    """
    _reject_per_metric_checkpoint(spark, cfg, checkpoint_dir)

    def process(batch_df, batch_id: int) -> None:
        # the batch pipeline itself: the same skip-or-fail rule for
        # unparseable object keys, the projection pruned to the columns
        # some metric expression references, one aggregation of every
        # metric collected once and written from the driver, and the batch
        # path's plan shape (and its JIT-compiled codegen)
        res = run_pipeline(spark, cfg, batch_df, keep_payload=False)
        try:
            write_sinks(res, out_dir, partition=f"_batch_id={batch_id}")
        finally:
            res.unpersist()

    stream = read_tokenized_stream(spark, input_path, max_files_per_trigger)
    w = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{checkpoint_dir}/{_QUERY_DIR}")
    )
    w = w.trigger(availableNow=True) if trigger_once else w.trigger(
        processingTime="30 seconds"
    )
    return [w.start()]


# older name, imported only by bench.py
run_streaming_pipeline_single_pass = run_streaming_pipeline
