"""Training-data operator tests: dedup (exact/minhash/simhash/jaccard),
similarity (brute-force + LSH ANN), text analysis — with Python/NumPy
oracles."""

import itertools
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "a completely different document about spark query planning and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "spark query planning involves catalyst rules and physical strategies"),
    (5, "short text"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def _py_shingles(text, n=3):
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}


def test_exact_dedup(spark, docs_df):
    from cflog2otel_spark.operators.dedup import exact_dedup

    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs_df).collect()}
    assert out[0] == 2  # doc 3 folded into doc 0
    assert 3 not in out
    assert out[1] == 1 and out[2] == 1


def test_shingles_match_python_oracle(spark, docs_df):
    from cflog2otel_spark.operators.dedup import shingles

    rows = docs_df.select("doc_id", shingles(F.col("text")).alias("sh")).collect()
    for r in rows:
        expect = _py_shingles(DOCS[r["doc_id"]][1])
        assert set(r["sh"]) == expect, r["doc_id"]


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    from cflog2otel_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["a"], r["b"]): r["jaccard_est"] for r in minhash_lsh_pairs(docs_df).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # identical
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.4   # near-dup
    assert (0, 2) not in pairs  # unrelated must not collide in all bands


def test_ngram_jaccard_exact(spark, docs_df):
    from cflog2otel_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    cands = minhash_lsh_pairs(docs_df)
    out = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs_df, cands).collect()}
    for (a, b), j in out.items():
        sa, sb = _py_shingles(DOCS[a][1]), _py_shingles(DOCS[b][1])
        expect = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        assert j == pytest.approx(expect), (a, b)


def test_simhash_near_dup(spark, docs_df):
    from cflog2otel_spark.operators.dedup import simhash64, simhash_near_dup_pairs

    sigs = {
        r["doc_id"]: r["s"]
        for r in docs_df.select("doc_id", simhash64(F.col("text")).alias("s")).collect()
    }
    assert sigs[0] == sigs[3]  # identical text -> identical signature
    ham01 = bin((sigs[0] ^ sigs[1]) & (2**64 - 1)).count("1")
    ham02 = bin((sigs[0] ^ sigs[2]) & (2**64 - 1)).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated
    pairs = {(r["a"], r["b"]) for r in simhash_near_dup_pairs(docs_df, max_hamming=16).collect()}
    assert (0, 3) in pairs


VECS = None


@pytest.fixture(scope="module")
def emb_df(spark):
    global VECS
    rng = np.random.default_rng(11)
    base = rng.normal(size=(20, 16))
    base[7] = base[0] + rng.normal(scale=0.01, size=16)  # near-dup of 0
    VECS = base
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()


def _cos(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_brute_force_topk_matches_numpy(spark, emb_df):
    from cflog2otel_spark.operators.similarity import brute_force_topk

    q = [float(x) for x in VECS[0]]
    out = [(r["vec_id"], r["cos_sim"]) for r in brute_force_topk(emb_df, q, k=5).collect()]
    oracle = sorted(
        ((i, round(_cos(VECS[i], VECS[0]), 6)) for i in range(len(VECS))),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [i for i, _ in out] == [i for i, _ in oracle]
    for (_, s), (_, so) in zip(out, oracle):
        assert s == pytest.approx(so, abs=1e-6)
    assert out[0][0] == 0 and out[1][0] == 7  # self then the near-dup


def test_lsh_ann_finds_near_neighbor(spark, emb_df):
    from cflog2otel_spark.operators.similarity import lsh_ann_topk

    q = [float(x) for x in VECS[0]]
    out = [r["vec_id"] for r in lsh_ann_topk(emb_df, q, k=3, n_bits=8).collect()]
    assert 0 in out and 7 in out  # a 0.9999-cosine neighbor shares all sign bits


def test_embedding_near_dup_pairs(spark, emb_df):
    from cflog2otel_spark.operators.similarity import embedding_near_dup_pairs

    exact = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(emb_df, 0.95, exact=True).collect()}
    assert (0, 7) in exact
    bucketed = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(emb_df, 0.95).collect()}
    assert (0, 7) in bucketed


def test_text_analysis(spark, docs_df):
    from cflog2otel_spark.operators.text import analyze_documents

    out = {r["doc_id"]: r for r in analyze_documents(docs_df).collect()}
    r0 = out[0]
    assert r0["n_tokens"] == len(DOCS[0][1].split())
    assert r0["n_chars_computed"] == len(DOCS[0][1])
    assert r0["lang_pred"] == "en"  # 'the' markers
    assert 0.0 <= r0["quality"] <= 1.0
    assert out[0]["fingerprint"] == out[3]["fingerprint"]  # identical text
    assert out[0]["fingerprint"] != out[2]["fingerprint"]


def test_lang_id_ties_break_to_first_language(spark):
    """Tied marker scores must resolve to the FIRST language in
    LANG_MARKERS order (en > es > fr > de), matching the oracle's
    first-maximal CASE chain (ADVICE r1: reversed >-chain gave last-wins)."""
    from cflog2otel_spark.operators.text import lang_id
    from pyspark.sql import functions as F

    rows = [
        ("la de la de", "es"),   # es==fr tie on 'la'/'de' -> es (earlier)
        ("the el the el", "en"),  # en==es tie -> en
        ("xyzzy", "und"),         # no markers at all
        ("und die das ist", "de"),  # de alone
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    got = [r[0] for r in df.select(lang_id(F.col("text"))).collect()]
    assert got == [want for _, want in rows]


def test_ivf_ann_topk(spark, emb_df):
    """IVF probe of the nearest clusters must recover the true top
    neighbor (vec 7 at cos~0.9999 of vec 0) and agree with brute force on
    the head of the ranking."""
    from cflog2otel_spark.operators.similarity import brute_force_topk, ivf_ann_topk, ivf_index

    q = [float(x) for x in VECS[0]]
    index = ivf_index(emb_df, n_clusters=4)
    out = [r["vec_id"] for r in ivf_ann_topk(emb_df, q, k=3, index=index).collect()]
    assert out[0] == 0 and 7 in out  # self + the planted near-dup
    # head agreement with exact search
    exact = [r["vec_id"] for r in brute_force_topk(emb_df, q, k=2).collect()]
    assert out[:2] == exact


def test_ivf_training_sample_partition_independent(spark, emb_df):
    """ADVICE r2: the IVF training set must be a pure function of row ids —
    same selection under any partitioning, and row-for-row reproducible by
    the Python/DuckDB oracle rule."""
    from cflog2otel_spark.operators.similarity import (
        _training_threshold,
        training_filter_col,
        training_filter_py,
    )

    n = emb_df.count()
    thr = _training_threshold(n, 8)
    ids_p1 = {
        r[0]
        for r in emb_df.repartition(1)
        .filter(training_filter_col("vec_id", thr))
        .select("vec_id")
        .collect()
    }
    ids_p7 = {
        r[0]
        for r in emb_df.repartition(7)
        .filter(training_filter_col("vec_id", thr))
        .select("vec_id")
        .collect()
    }
    ids_py = {i for i in range(n) if training_filter_py(i, thr)}
    assert ids_p1 == ids_p7 == ids_py
    assert 0 < len(ids_py) < n  # the rule actually samples


def test_ivf_centroids_partition_independent(spark, emb_df):
    """Centroids from ivf_index are identical under different scan layouts
    even when the sample cap is hit (sample_size < n)."""
    from cflog2otel_spark.operators.similarity import ivf_index

    _, c1 = ivf_index(emb_df.repartition(1), n_clusters=3, sample_size=12)
    _, c2 = ivf_index(emb_df.repartition(5), n_clusters=3, sample_size=12)
    assert c1 == c2


def test_lsh_index_fingerprint_invalidation(spark, emb_df, tmp_path):
    """ADVICE r2: a persisted index keyed only by path existence serves
    stale data after the corpus or params change. The fingerprint in
    _index_meta.json forces a rebuild on either."""
    import json as _json

    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.similarity import lsh_index

    path = str(tmp_path / "lsh")
    idx1 = lsh_index(emb_df, path, n_bits=6)
    assert idx1.count() == emb_df.count()
    meta1 = _json.load(open(f"{path}/_index_meta.json"))

    # same corpus + params -> pure read, meta unchanged
    lsh_index(emb_df, path, n_bits=6)
    assert _json.load(open(f"{path}/_index_meta.json")) == meta1

    # corpus changed (one extra row) -> rebuild, index reflects new corpus
    extra = spark.createDataFrame(
        [(999, [0.5] * 16)], ["vec_id", "embedding"]
    )
    bigger = emb_df.union(extra)
    idx2 = lsh_index(bigger, path, n_bits=6)
    assert idx2.count() == emb_df.count() + 1
    assert _json.load(open(f"{path}/_index_meta.json")) != meta1

    # param change (n_bits) -> rebuild even with the same corpus
    lsh_index(bigger, path, n_bits=7)
    meta3 = _json.load(open(f"{path}/_index_meta.json"))
    assert meta3 != meta1
    sig7 = lsh_index(bigger, path, n_bits=7).filter(
        F.col("_sig") >= (1 << 6)
    )
    assert sig7.count() >= 0  # readable with the 7-bit signature


def test_ivf_write_index_fingerprint_invalidation(spark, emb_df, tmp_path):
    from cflog2otel_spark.operators.similarity import ivf_write_index

    path = str(tmp_path / "ivf")
    df1, c1 = ivf_write_index(emb_df, path, n_clusters=3)
    assert df1.count() == emb_df.count()

    extra = spark.createDataFrame([(999, [0.5] * 16)], ["vec_id", "embedding"])
    df2, c2 = ivf_write_index(emb_df.union(extra), path, n_clusters=3)
    assert df2.count() == emb_df.count() + 1  # stale index NOT served

    _, c3 = ivf_write_index(emb_df.union(extra), path, n_clusters=4)
    assert len(c3) == 4  # param change rebuilds centroids


def test_arrow_band_buckets_match_python_oracle(spark, emb_df):
    """The Arrow matmul hashing must implement exactly the documented
    semantics: bit i of band b = (dot(vec, planes[b*r+i]) >= 0), bucket =
    sum(bit_i << i) — pinned against a plain-Python recomputation."""
    from cflog2otel_spark.operators.similarity import (
        _band_buckets_arrow,
        _hyperplanes,
    )
    from pyspark.sql import functions as F

    r, n_bands = 3, 5
    planes = _hyperplanes(16, n_bands * r, seed=7)
    got = {
        row["vec_id"]: row["bk"]
        for row in emb_df.select(
            "vec_id", _band_buckets_arrow(planes, r)(F.col("embedding")).alias("bk")
        ).collect()
    }
    vecs = {row["vec_id"]: row["embedding"] for row in emb_df.collect()}
    for vid, v in vecs.items():
        want = []
        for b in range(n_bands):
            bucket = 0
            for i in range(r):
                d = sum(a * p for a, p in zip(v, planes[b * r + i]))
                if d >= 0:
                    bucket |= 1 << i
            want.append(bucket)
        assert got[vid] == want, vid


def test_ngram_contamination(spark):
    """Decontamination op vs a plain-Python oracle, including a too-short
    document (no grams) and a fully-contaminated one."""
    from cflog2otel_spark.operators.dedup import ngram_contamination

    docs = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "completely different words appear in this one entirely"),
        (2, "short text"),  # < n tokens -> 0 grams
        (3, "the quick brown fox jumps over something else instead ok"),
    ]
    bench = [(100, "we saw the quick brown fox jumps over the hill")]
    docs_df = spark.createDataFrame(docs, ["doc_id", "text"])
    bench_df = spark.createDataFrame(bench, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["hit_ratio"])
        for r in ngram_contamination(docs_df, bench_df, n=5).collect()
    }

    def grams(t, n=5):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bg = grams(bench[0][1])
    for did, text in docs:
        g = grams(text)
        hit = len(g & bg)
        assert out[did] == (len(g), hit, round(hit / len(g), 6) if g else 0.0), did
    assert out[0][1] > 0 and out[1][1] == 0 and out[2] == (0, 0, 0.0)

    # scale shape: benchmark side broadcast, no sort-merge join
    plan = (
        ngram_contamination(docs_df, bench_df, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_lsh_ann_batch_matches_single_query(spark, emb_df):
    """Batched multi-probe ANN == the single-query path run per query, and
    its plan is an equi-join on the signature column (no cross join)."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.similarity import (
        lsh_ann_topk,
        lsh_ann_topk_batch,
        lsh_index,
    )

    idx = lsh_index(emb_df, n_bits=8)
    queries = emb_df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = lsh_ann_topk_batch(idx, queries, k=5, n_bits=8, probe_hamming=1)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    for qid in range(3):
        qvec = [float(x) for x in VECS[qid]]
        single = [
            (r["vec_id"], r["cos_sim"])
            for r in lsh_ann_topk(
                emb_df, qvec, k=5, n_bits=8, probe_hamming=1, index=idx
            ).collect()
        ]
        assert got[qid] == single, qid

    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_gopher_rules_edge_cases(spark):
    """Gopher filter rules against hand-computed verdicts: empty text,
    too-short, symbol-heavy, non-alpha-heavy, and a passing document."""
    from cflog2otel_spark.operators.text import gopher_quality

    passing = ("the data and model have to be scaled with care that is " * 5).strip()
    docs = [
        (0, passing),                                  # all rules pass
        (1, ""),                                       # empty -> all fail
        (2, "too short to pass the word count rule"),  # <50 words
        (3, ("num 1 2 3 4 5 6 7 8 9 " * 10).strip()),  # mostly non-alpha words
        (4, ("# " * 60).strip()),                      # symbol-heavy
    ]
    out = {r["doc_id"]: r.asDict() for r in
           gopher_quality(spark.createDataFrame(docs, ["doc_id", "text"])).collect()}
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["word_count_ok"] is False
    assert out[2]["word_count_ok"] is False
    assert out[3]["alpha_ok"] is False
    assert out[4]["symbol_ok"] is False and out[4]["stopword_ok"] is False


def test_repetition_ratio(spark):
    from cflog2otel_spark.operators.text import repetition_ratio
    from pyspark.sql import functions as F

    docs = [
        (0, "a b a b a b"),        # grams: ab ba ab ba ab -> 2 distinct / 5
        (1, "all words differ here completely"),
        (2, "one"),                # no 2-grams
        (3, ""),
    ]
    out = {
        r["doc_id"]: r["rep"]
        for r in spark.createDataFrame(docs, ["doc_id", "text"])
        .select("doc_id", F.round(repetition_ratio(F.col("text"), 2), 6).alias("rep"))
        .collect()
    }
    assert out[0] == round(1 - 2 / 5, 6)
    assert out[1] == 0.0 and out[2] == 0.0 and out[3] == 0.0


def test_scrub_pii(spark):
    from cflog2otel_spark.operators.text import pii_counts, scrub_pii
    from pyspark.sql import functions as F

    docs = [
        (0, "mail me at john.doe+spam@sub.example.co.uk or 10.0.0.1 now"),
        (1, "no pii here at all"),
        (2, "two mails a@b.io c@d.org and ips 192.168.1.1 8.8.8.8"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    n_email, n_ip = pii_counts(F.col("text"))
    out = {
        r["doc_id"]: (r["ne"], r["ni"], r["s"])
        for r in df.select(
            "doc_id", n_email.alias("ne"), n_ip.alias("ni"),
            scrub_pii(F.col("text")).alias("s"),
        ).collect()
    }
    assert out[0] == (1, 1, "mail me at <EMAIL> or <IP> now")
    assert out[1] == (0, 0, "no pii here at all")
    assert out[2][0] == 2 and out[2][1] == 2
    assert out[2][2] == "two mails <EMAIL> <EMAIL> and ips <IP> <IP>"


def test_near_dup_threshold_one_no_crash(spark):
    """ADVICE r3: threshold >= 1.0 made the log-based band sizing divide by
    log(1.0). The clamp must degrade to a wide banding that still finds
    exact duplicates instead of raising ZeroDivisionError."""
    import numpy as np

    from cflog2otel_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(5)
    base = rng.normal(size=(10, 16))
    base[4] = base[1]  # exact duplicate pair (1, 4)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["a"], r["b"])
        for r in embedding_near_dup_pairs(df, threshold=1.0).collect()
    }
    assert (1, 4) in pairs


def test_fingerprint_detects_content_change(spark, tmp_path):
    """ADVICE r3: a regenerated corpus with the SAME ids/count/id-range but
    different vector values must invalidate a persisted index (the old
    count/min/max fingerprint missed this). Also: repeated calls with the
    same corpus hit the per-session fingerprint cache (no re-aggregate)."""
    import json as _json

    from cflog2otel_spark.operators.similarity import (
        _FP_CACHE,
        lsh_index,
    )

    rows_v1 = [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(10)]
    rows_v2 = [(i, [float(i) + 0.5, 1.0, 2.0, 3.0]) for i in range(10)]
    path = str(tmp_path / "lsh_content")

    df1 = spark.createDataFrame(rows_v1, ["vec_id", "embedding"])
    lsh_index(df1, path, n_bits=4)
    meta1 = _json.load(open(f"{path}/_index_meta.json"))

    # same ids, same count, same id min/max — only values differ
    df2 = spark.createDataFrame(rows_v2, ["vec_id", "embedding"])
    lsh_index(df2, path, n_bits=4)
    meta2 = _json.load(open(f"{path}/_index_meta.json"))
    assert meta2 != meta1, "content change must change the fingerprint"

    # same plan + params again -> cache hit (entry exists for this session)
    n_before = len(_FP_CACHE)
    lsh_index(df2, path, n_bits=4)
    assert len(_FP_CACHE) == n_before


def test_band_plan_sizing_rules():
    """Band sizing: threshold axis reproduces the audited 43x7 at 0.95 and
    55x2 at 0.4 (gate banding unchanged); the n-aware floor kicks in only
    when n_rows is passed and follows r = log2(n)+2 (without it a 200k
    near-orthogonal corpus measured 11e9 candidate pairs)."""
    from cflog2otel_spark.operators.similarity import _band_plan

    assert _band_plan(0.95, 1e-12, 384, None) == (7, 43)
    r04, b04 = _band_plan(0.4, 1e-12, 384, None)
    assert r04 == 2
    # n-aware floor: r = ceil(log2(n)) + 2, bands re-sized for recall
    assert _band_plan(0.95, 1e-12, 384, 500) == (11, 75)
    assert _band_plan(0.95, 1e-12, 384, 100) == (9, 58)
    # large corpus: r = ceil(log2(200k)) + 2 = 20, bands grow to keep recall
    r, b = _band_plan(0.95, 1e-3, 384, 200_000)
    assert r == 20
    assert b * (0.5 ** r) * 200_000 < 15  # expected random collisions per row
    # fixed_r path: bands still sized from miss_prob
    assert _band_plan(0.95, 1e-12, 384, None, fixed_r=2)[0] == 2
    # low threshold + huge n + deterministic recall would demand ~273k
    # bands; max_bands backs r off toward the threshold rule instead
    r_low, b_low = _band_plan(0.4, 1e-12, 384, 200_000)
    assert b_low <= 512 and 2 <= r_low
    # threshold >= 1 degrades, never raises
    r1, b1 = _band_plan(1.0, 1e-12, 384, None)
    assert 2 <= r1 <= 63 and b1 >= 8


def test_near_dup_n_aware_recall(spark):
    """End-to-end with the n-aware floor active: an isotropic corpus with a
    planted near-dup pair must still recall it at the production profile
    (n_rows passed, miss_prob 1e-3)."""
    import numpy as np

    from cflog2otel_spark.operators.dedup import release_persisted
    from cflog2otel_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16))
    scale = np.where(np.arange(16) % 2 == 0, 1.05, 0.95)
    vecs[299] = vecs[3] * scale  # cos ~0.9987
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["a"], r["b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.95, n_rows=300, miss_prob=1e-3
        ).collect()
    }
    release_persisted()
    assert (3, 299) in pairs


def _numpy_minhash_fold(base: list[int], k: int, seed: int) -> list[int]:
    """Oracle for minhash_signature's fold over one doc's base hashes: a
    (shingles, k) int64 broadcast multiply and a column min. numpy's % is
    floored, Spark's is truncated (the sign of the dividend), so negative
    xxhash64 bases are corrected."""
    from cflog2otel_spark.operators.dedup import MERSENNE_P, _hash_params

    params = _hash_params(k, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)
    P = np.int64(MERSENNE_P)

    def trunc_mod(x):
        r = np.remainder(x, P)
        return r - P * ((x < 0) & (r != 0))

    x = np.asarray(base, dtype=np.int64)
    if not len(x):
        return [MERSENNE_P] * k
    return trunc_mod(trunc_mod(x)[:, None] * A[None, :] + B[None, :]).min(axis=0).tolist()


def test_minhash_fold_matches_numpy_oracle(spark):
    """The JVM aggregate/zip_with fold is BIT-identical to a numpy fold of
    the same base hashes, including Spark's truncated-remainder % on
    negative xxhash64 bases, empty docs, and the engine-stable hash60 base
    (nonnegative)."""
    from cflog2otel_spark.operators.dedup import (
        _base_hash,
        minhash_signature,
        shingles,
    )

    docs = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),
        (2, ""),                      # empty -> init row (all MERSENNE_P)
        (3, "one two"),               # below shingle width -> empty set
        (4, " ".join(f"w{i}" for i in range(200))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for stable in (False, True):
        sh = shingles(F.col("text"))
        out = df.select(
            "doc_id",
            F.transform(sh, lambda s: _base_hash(s, stable)).alias("base"),
            minhash_signature(sh, 32, 42, stable).alias("jvm"),
        ).collect()
        assert len(out) == len(docs)
        for r in out:
            assert list(r["jvm"]) == _numpy_minhash_fold(r["base"], 32, 42), (stable, r["doc_id"])


def test_band_plan_degenerate_thresholds():
    """ADVICE r4: threshold <= -1 used to raise math-domain (p_bit == 0),
    and deep p_bit**r underflow could divide by log(1.0) == 0. Both ends
    must now degrade to a finite plan without raising."""
    from cflog2otel_spark.operators.similarity import _band_plan

    for thr in (-1.0, -1.5, 1.0, 2.0, 0.9999999):
        r, b = _band_plan(thr, 1e-12, 384, 200_000)
        assert r >= 2 and b >= 8
    # normal-range plans are unchanged by the log1p swap
    assert _band_plan(0.95, 1e-12, 384, None) == (7, 43)


def test_sink_dirname_injective_and_stable():
    """ADVICE r4: 'a/b' and 'a_b' must not collide, path-hostile bytes are
    escaped, and common OTel metric names stay unchanged (existing sink
    layouts keep working)."""
    from cflog2otel_spark.pipeline import sink_dirname

    assert sink_dirname("http.server.5xx_requests") == "http.server.5xx_requests"
    names = ["a/b", "a_b", "a!2Fb", "a!x2Fb", "a b", "a:b", "a\\b", "a%b"]
    encoded = [sink_dirname(n) for n in names]
    assert len(set(encoded)) == len(encoded)
    for e in encoded:
        assert "/" not in e and " " not in e and ":" not in e and "\\" not in e
    # ADVICE r5: '.' / '..' / all-dot names must map to a REAL child
    # directory, not out_dir itself or its parent — and stay injective
    dotty = [".", "..", "...", "!x2E.", "a.b", ".a"]
    dotty_enc = [sink_dirname(n) for n in dotty]
    assert len(set(dotty_enc)) == len(dotty_enc)
    for n, e in zip(dotty, dotty_enc):
        assert e not in (".", ".."), (n, e)
    assert sink_dirname("a.b") == "a.b" and sink_dirname(".a") == ".a"
