"""The composed training-corpus job (cflog2otel_spark/corpus.py) and its
CLI mode: verdict-table composition, funnel accounting, token
conservation into the packed output, and the e2e --corpus-pipeline run."""

from __future__ import annotations

import json
import glob
import subprocess
import sys

from pyspark.sql import functions as F

from .conftest import REPO

SF_DIR = "/root/testdata/sf0.001"

# The driver-generated corpus contains no English stop words, so the
# Gopher stopword rule would fail EVERY doc and make the funnel vacuous
# (docs_kept == 0). Same convention as q_docs_corpus_final: append a
# stop-word-bearing suffix to docs with doc_id % 3 != 0 so the quality
# gate discriminates instead of annihilating.
_STOP_SUFFIX = " the of and that have"


def _augmented_docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) != 0,
            F.concat(F.col("text"), F.lit(_STOP_SUFFIX)),
        ).otherwise(F.col("text")),
    )


def test_corpus_pipeline_composition_and_conservation(spark):
    from cflog2otel_spark.corpus import run_corpus_pipeline
    from cflog2otel_spark.operators.clustering import dedup_keep
    from cflog2otel_spark.operators.dedup import minhash_lsh_pairs
    from cflog2otel_spark.operators.text import gopher_quality
    from cflog2otel_spark.operators.tokens import (
        sequence_dedup,
        tokenize_documents,
    )

    docs = _augmented_docs(spark)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    res = run_corpus_pipeline(
        spark,
        docs,
        bench=bench,
        pack_budget=64,
        sample_fractions={},
        default_sample_fraction=0.9,
    )
    v = {r["doc_id"]: r for r in res.verdicts.collect()}
    f = res.funnel
    assert f["docs_in"] == len(v) == docs.count()
    assert 0 < f["docs_kept"] < f["docs_in"]
    assert f["tokens_kept"] <= f["tokens_in"]

    # keep is exactly the conjunction of the independent per-gate verdicts
    tok = tokenize_documents(docs)
    q_ok = {
        r["doc_id"]
        for r in gopher_quality(docs)
        .filter(
            "word_count_ok AND mean_word_ok AND symbol_ok AND alpha_ok "
            "AND stopword_ok"
        )
        .collect()
    }
    e_ok = {r["doc_id"] for r in sequence_dedup(tok).filter("keep").collect()}
    nd_ok = {
        r["doc_id"]
        for r in dedup_keep(docs, minhash_lsh_pairs(docs).select("a", "b"))
        .filter("keep")
        .collect()
    }
    for doc_id, row in v.items():
        want = (
            (doc_id in q_ok)
            and (doc_id in e_ok)
            and (doc_id in nd_ok)
            and bool(row["clean"])
            and bool(row["sampled"])
        )
        assert bool(row["keep"]) == want, (doc_id, dict(row.asDict()))

    # token conservation: the packed output holds EXACTLY the kept tokens,
    # every sequence is full except at most one tail per source
    seqs = res.sequences.select(
        "source", "seq_id", F.size("tokens").alias("n")
    ).collect()
    assert sum(r["n"] for r in seqs) == f["tokens_kept"]
    by_source: dict[str, list] = {}
    for r in seqs:
        by_source.setdefault(r["source"], []).append(r)
    for source, rows in by_source.items():
        rows.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in rows] == list(range(len(rows)))
        assert all(r["n"] == 64 for r in rows[:-1]), source
        assert 0 < rows[-1]["n"] <= 64
    res.unpersist()


def test_corpus_pipeline_token_budget_and_gate_toggles(spark):
    from cflog2otel_spark.corpus import run_corpus_pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    budgets = {sources[0]: 100}
    res = run_corpus_pipeline(
        spark,
        docs,
        pack_budget=32,
        token_budgets=budgets,
        quality=False,
        near_dup=False,
        exact=True,
    )
    # gates off -> verdict table has only the exact flag
    assert set(res.verdicts.columns) == {
        "doc_id", "source", "n_tok", "exact_keep", "keep",
    }
    assert "docs_in_budget" in res.funnel
    assert res.funnel["docs_in_budget"] <= res.funnel["docs_kept"]
    # budgeted source: kept docs' tokens stop shortly after the budget
    # (the boundary doc may overrun) — its packed stream is bounded by
    # budget + one doc, while unbudgeted sources keep everything
    toks = {
        r["source"]: r["n"]
        for r in res.sequences.groupBy("source")
        .agg(F.sum(F.size("tokens")).alias("n"))
        .collect()
    }
    max_doc = docs.agg(F.max(F.length("text"))).collect()[0][0]
    assert toks[sources[0]] < 100 + max_doc
    res.unpersist()


def test_cli_corpus_pipeline_e2e(spark, tmp_path):
    inp = str(tmp_path / "docs_aug.parquet")
    _augmented_docs(spark).write.parquet(inp)
    out = str(tmp_path / "corpus_out")
    proc = subprocess.run(
        [
            sys.executable, "main.py",
            "--corpus-pipeline",
            "--input", inp,
            "--out", out,
            "--pack-budget", "128",
            "--sample-fraction", "0.8",
            "--master", "local[2]",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    manifests = glob.glob(f"{out}/manifest_*.json")
    assert len(manifests) == 1
    m = json.load(open(manifests[0]))
    assert m["funnel"]["docs_kept"] > 0
    assert m["params"]["pack_budget"] == 128
    assert m["params"]["gates"] == [
        "quality_ok", "exact_keep", "neardup_keep", "sampled",
    ]
    # the manifest's per-source counts attest to what's on disk
    total_from_manifest = sum(
        s["tokens"] for s in m["per_source"].values()
    )
    assert total_from_manifest == m["funnel"]["tokens_kept"]
    assert m["throughput"]["tokens_per_sec"] > 0


def test_corpus_pipeline_quality_rule_subset(spark):
    """Dropping the non-discriminating stopword rule lets the RAW
    synthetic corpus (no stop words anywhere) survive the quality gate."""
    import pytest

    from cflog2otel_spark.corpus import run_corpus_pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = run_corpus_pipeline(
        spark,
        docs,
        pack_budget=64,
        quality_rules=(
            "word_count_ok", "mean_word_ok", "symbol_ok", "alpha_ok",
        ),
        near_dup=False,
    )
    assert res.funnel["docs_quality_ok"] > 0
    assert res.funnel["docs_kept"] > 0
    assert res.params["quality_rules"] == [
        "word_count_ok", "mean_word_ok", "symbol_ok", "alpha_ok",
    ]
    res.unpersist()
    with pytest.raises(ValueError, match="quality_rules"):
        run_corpus_pipeline(spark, docs, quality_rules=("bogus_rule",))
    with pytest.raises(ValueError, match="quality_rules"):
        run_corpus_pipeline(spark, docs, quality_rules=())


def test_cli_corpus_pipeline_arg_errors(tmp_path):
    import main as cli

    assert cli.main(["--corpus-pipeline", "--out", "x"]) == 2
    assert cli.main(
        ["--corpus-pipeline", "--input", "a", "--out", "b",
         "--token-budget", "nonsense"]
    ) == 2
    assert cli.main(
        ["--corpus-pipeline", "--input", "a", "--out", "b",
         "--quality-rules", "bogus_rule"]
    ) == 2
    assert cli.main([]) == 2  # --config still required for the cf pipeline
