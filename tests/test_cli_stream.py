"""CLI Structured-Streaming mode: --stream drains the corpus with
availableNow and produces the same data points as the batch CLI."""

import json
import subprocess
import sys

from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import CONFIGS, REPO, SOURCE1, generated_lines, summed_points


def test_cli_stream_matches_batch(spark, tmp_path):
    corpus = tokenized_df_from_lines(spark, generated_lines(spark, 200, seed=9), SOURCE1)
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)

    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--config", f"{CONFIGS}/request_count_by_status_category.json",
            "--input", corpus_path,
            "--out", str(tmp_path / "out"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--stream",
            "--master", "local[2]",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    record = [json.loads(l) for l in proc.stderr.splitlines() if l.startswith('{"run"')]
    assert len(record) == 1 and set(record[0]["run"]) == {"elapsed_sec"}

    sink = spark.read.parquet(str(tmp_path / "out" / "http.server.requests"))
    got = summed_points(sink.collect())

    from cflog2otel_spark.config import Config
    from cflog2otel_spark.pipeline import run_pipeline

    cfg = Config.load(f"{CONFIGS}/request_count_by_status_category.json")
    want = summed_points(run_pipeline(spark, cfg, corpus).points()["http.server.requests"])

    assert got == want and len(got) > 0
