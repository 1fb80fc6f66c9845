"""Seeded benchmark inputs, generated at the start of every run into the
run's work directory, outside every timed region.

Log inputs come from `cflog2otel_spark.sources.generator`, run in the
session being measured, right after it starts and before the set-up's
warm-up: the tokenized table the pipeline reads, plus the same seed's raw
lines for the oracle. Every run generates, so every run's JVM has done
the same work when its set-up is measured, and no run pays for a second
JVM. The package has no document generator, so the corpus workload's
documents are drawn here from `random.Random(seed)`, in the shape of the
test data's documents.parquet (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import os
import random

# 40 content words plus the stop words the Gopher rule looks for; two of
# three documents carry the stop-word suffix so the quality gate
# discriminates (the convention bench.py and the corpus tests use)
_WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window index shard node cache flush commit replay "
    "queue route split sample token"
).split()
_STOP_SUFFIX = " the of and that have"
DOC_SOURCES = ["src0", "src1", "src2", "src3"]


def log_inputs(spark, work_dir: str, seed: int, spec: dict) -> dict[str, str]:
    """Tokenized table and raw lines for one seed, written under work_dir.
    `spec` holds n_rows, optionally `partitioned` (lay the tokenized table
    out by source, one directory per S3 object, the layout the per-object
    path prunes on) and generator keyword arguments."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.parse import encode_tokens_col
    from cflog2otel_spark.sources.generator import generate_lines, write_corpus

    gen_kw = dict(spec)
    n_rows, partitioned = gen_kw.pop("n_rows"), gen_kw.pop("partitioned", False)
    gen_kw.update(seed=seed, partitions=spark.sparkContext.defaultParallelism)
    paths = {"tokenized": os.path.join(work_dir, "input-tokenized"),
             "lines": os.path.join(work_dir, "input-lines")}
    generate_lines(spark, n_rows, **gen_kw).write.parquet(paths["lines"])
    # generator.generate_tokenized's projection, applied to the lines just
    # written instead of generating them a second time
    tokens = encode_tokens_col(F.col("line")).alias("tokens")
    tokenized = (spark.read.parquet(paths["lines"])
                 .select("doc_id", tokens, "source")
                 .select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source"))
    write_corpus(tokenized, paths["tokenized"], partition_by_source=partitioned)
    return paths


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (it exits when
    its standard input closes)."""
    from pyspark import SparkContext

    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)


def _doc_text(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.05:  # junk: too short or mostly symbols, fails quality
        return rng.choice(["#### $$$ %%%", "ok", "=> {} [] () <> ## ~~"])
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(30, 90)))


def documents(work_dir: str, seed: int, n_docs: int) -> str:
    """Parquet directory of n_docs documents with exact and near
    duplicates (about 8% each), four sources, one file per source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        roll = rng.random()
        if texts and roll < 0.08:
            text = rng.choice(texts)  # exact duplicate
        elif texts and roll < 0.16:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)  # near duplicate: one word swapped
        else:
            text = _doc_text(rng)
        texts.append(text)
    path = os.path.join(work_dir, "input-docs")
    os.makedirs(path)
    for k, src in enumerate(DOC_SOURCES):
        ids = list(range(k, n_docs, len(DOC_SOURCES)))
        body = [texts[i] + (_STOP_SUFFIX if i % 3 else "") for i in ids]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": body,
                "lang": ["en"] * len(ids),
                "source": [src] * len(ids),
                "n_chars": pa.array([len(t) for t in body], pa.int64()),
            }),
            os.path.join(path, f"part-{k}.parquet"),
        )
    return path
