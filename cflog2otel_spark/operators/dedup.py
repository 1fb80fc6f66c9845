"""Deduplication operators for training-data pipelines.

Scale-first designs:
  - exact: hash-groupBy on a text digest — one shuffle, min(doc_id) wins.
  - minhash + LSH: shingle -> k minhashes -> b bands -> band-bucket join.
    Candidate pairs only form inside identical band buckets, so the join is
    an equi-join on (band, bucket-hash) — no O(n^2) crossing. Hot buckets
    (boilerplate shingles) are the skew risk: cap bucket width with a
    count filter before the self-join.
  - simhash: 64-bit weighted-projection signature, near-dups = hamming
    distance <= t via banded equality on 4 x 16-bit chunks.
  - n-gram jaccard: exact verify step for LSH candidates.
  - embedding cosine near-dup: see similarity.py (LSH-bucketed).

MinHash math uses universal hashing ((a*x + b) mod p) with fixed seeds so
results are deterministic across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: (x mod p) * a stays under 2^62, so the universal
# hash never overflows int64 (ANSI mode would raise on overflow)
MERSENNE_P = (1 << 31) - 1

# Intermediates persisted by the LSH ops (signature tables, band entries)
# register here so long-lived sessions can release them: repeated bench/
# contract invocations would otherwise accumulate cached blocks without
# bound (ADVICE r2). The ops stay lazy — callers decide when the consuming
# action is done and call release_persisted().
_PERSISTED: list[DataFrame] = []


def _track_persist(df: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(out)
    return out


def release_persisted() -> int:
    """Unpersist every intermediate cached by the dedup/similarity LSH ops
    in this process. Returns the number released. Safe to call any time —
    the DataFrames recompute if re-used afterwards."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    return n


def over_cap_bucket_stats(
    entries: DataFrame, keys: list[str], max_bucket: int
) -> dict[str, int]:
    """Eager candidate-volume diagnostics for a banded LSH run: total
    buckets, buckets/rows the skew cap drops, and the candidate-pair upper
    bound sum(w*(w-1)/2) of the surviving buckets. One extra aggregate job
    over the (already persisted) entry table — for bench / capacity
    planning, not the contract-query hot path."""
    agg = entries.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bw"))
    row = agg.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("_bw") > max_bucket, 1).otherwise(0)).alias(
            "n_dropped_buckets"
        ),
        F.sum(F.when(F.col("_bw") > max_bucket, F.col("_bw")).otherwise(0)).alias(
            "n_dropped_rows"
        ),
        F.sum(
            F.when(
                F.col("_bw") <= max_bucket,
                (F.col("_bw") * (F.col("_bw") - 1) / 2).cast("bigint"),
            ).otherwise(0)
        ).alias("n_candidate_pairs_bound"),
    ).first()
    return {k: int(v or 0) for k, v in row.asDict().items()}


def _log_cap_stats(op: str, entries: DataFrame, keys: list[str], max_bucket: int) -> None:
    import sys

    stats = over_cap_bucket_stats(entries, keys, max_bucket)
    print(f"[{op}] candidate-volume {stats}", file=sys.stderr, flush=True)


def _drop_over_cap_buckets(
    entries: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """Skew cap: drop every row of buckets wider than max_bucket.

    groupBy-count + broadcast ANTI-join instead of a window count: the
    window shape shuffles the full signature-carrying rows a second time
    just to count them; the groupBy shuffles only (keys, partial-count) —
    map-side combined — and the over-cap key set is by construction tiny
    (the handful of boilerplate hot buckets), so it broadcasts.
    """
    over_cap = (
        entries.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bw"))
        .filter(F.col("_bw") > max_bucket)
        .select(*keys)
    )
    return entries.join(F.broadcast(over_cap), keys, "left_anti")


def hash60(col: Column) -> Column:
    """Engine-stable 60-bit hash: the first 15 hex chars of md5, parsed as
    an integer. md5 is bit-identical everywhere, so the DuckDB oracle can
    reproduce every downstream LSH value exactly (xxhash64, the fast JVM
    default, exists only in Spark)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _base_hash(col: Column, engine_stable: bool) -> Column:
    return hash60(col) if engine_stable else F.abs(F.xxhash64(col))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical text. One hash-shuffle on the digest
    (never on the full text bytes — digest first, 16 bytes per row)."""
    digest = F.md5(F.col(text_col))
    return (
        docs.select(F.col(id_col), digest.alias("_d"))
        .groupBy("_d")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_d")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), JVM-side.

    Built as a zip_with chain over shifted slices — NOT transform-over-
    indices with element_at: capturing the token array inside the lambda
    re-evaluates the split per element (lambda bodies get no subexpression
    elimination). zip_with pads the shorter side with NULL; F.concat
    propagates the NULL so padded tails drop in the final slice.
    """
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(1)))
        parts = F.zip_with(parts, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.when(count > 0, F.slice(parts, 1, count)).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(sh)


# fixed 64-bit odd multipliers/offsets for k minhash functions (seeded, public
# universal-hash construction; deterministic across runs)
def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P - 1) | 1, rng.randrange(0, MERSENNE_P - 1)) for _ in range(k)]


def minhash_signature(
    shingle_arr: Column, k: int = 32, seed: int = 42, engine_stable: bool = False
) -> Column:
    """k-wide MinHash signature over a shingle array. Base hash is xxhash64
    (fast, JVM) or the md5-derived hash60 when engine_stable (so the DuckDB
    oracle reproduces the signature bit-for-bit); permutations are
    (a*x+b) mod p.

    Single aggregate pass: fold over the base hashes updating a k-wide
    running-minimum array against a FOLDABLE params literal — k separate
    array_min(transform(base, ...)) expressions would re-evaluate the base
    hash array k times per row.
    """
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _hash_params(k, seed)
        ]
    )
    base = F.transform(shingle_arr, lambda s: _base_hash(s, engine_stable))
    init = F.array_repeat(F.lit(MERSENNE_P).cast("bigint"), k)
    return F.aggregate(
        base,
        init,
        lambda acc, x: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(
                m, (x % MERSENNE_P * p.getField("a") + p.getField("b")) % MERSENNE_P
            ),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    seed: int = 42,
    engine_stable: bool = False,
    log_stats: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows/band bucket join: (band_id, hash(band rows)) equi-join; buckets
    wider than `max_bucket` are dropped (boilerplate guard — the skew cap
    that keeps a 100 TB self-join from exploding on one hot bucket).
    Returns (a, b, jaccard_est) with a < b, deduped across bands.

    engine_stable swaps xxhash64 for hash60 (base) and a polynomial fold
    (band bucket) so the whole candidate set is reproducible in ANSI SQL.
    log_stats=True prints the skew cap's candidate-volume numbers to
    stderr (one extra aggregate job). Persisted intermediates register for
    release_persisted().
    """
    rows_per_band = k // bands
    sh = shingles(F.col(text_col), shingle_n)
    sig = minhash_signature(sh, k, seed, engine_stable)
    # materialize the signature table (id + k bigints — tiny next to the
    # text): the cap count and both self-join sides consume it, and without
    # the persist each consumer re-runs the shingle+minhash CPU
    with_sig = _track_persist(
        docs.select(F.col(id_col).alias("a_id"), sig.alias("_sig"))
    )

    def bucket_col(b: int) -> Column:
        if not engine_stable:
            return F.xxhash64(
                F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)
            )
        # polynomial fold over the band's signature rows (values < p, so
        # acc*31 + v < 2^36 — no overflow before each mod)
        acc = F.get(F.col("_sig"), b * rows_per_band)
        for i in range(1, rows_per_band):
            acc = (acc * 31 + F.get(F.col("_sig"), b * rows_per_band + i)) % MERSENNE_P
        return acc

    band_entries = with_sig.select(
        "a_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_col(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("a_id", "_sig", "bb.band", "bb.bucket")

    if log_stats:
        _log_cap_stats("minhash_lsh_pairs", band_entries, ["band", "bucket"], max_bucket)
    band_entries = _drop_over_cap_buckets(band_entries, ["band", "bucket"], max_bucket)

    left = band_entries.select("band", "bucket", F.col("a_id"), F.col("_sig").alias("_siga"))
    right = band_entries.select(
        "band", "bucket", F.col("a_id").alias("b_id"), F.col("_sig").alias("_sigb")
    )
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("_siga"), F.col("_sigb"), lambda x, y: x == y),
                        lambda m: m,
                    )
                ).cast("double")
                / F.lit(float(k))
            ).alias("jaccard_est"),
        )
        .groupBy("a_id", "b_id")
        .agg(F.first("jaccard_est").alias("jaccard_est"))
    )
    return pairs.withColumnRenamed("a_id", "a").withColumnRenamed("b_id", "b")


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    n-grams that appear anywhere in a benchmark set — the n-gram collision
    check a training-corpus pipeline runs before training to drop eval
    contamination (13-gram variant popularized by the GPT-3 paper's
    appendix; n is a parameter here).

    Scale shape: the benchmark n-gram set is bounded (eval suites are tiny
    next to a 100 TB corpus) -> distinct + BROADCAST; the corpus side is a
    map-side shingle explode + broadcast hash join + partially-aggregated
    count. One shuffle of (doc_id, two counters); no corpus self-join, no
    sort. Returns (doc_id, n_grams, n_hit, hit_ratio) for EVERY document —
    the caller filters n_hit > 0 to quarantine.
    """
    g = shingles(F.col(text_col), n)
    doc_grams = docs.select(F.col(id_col), F.explode_outer(g).alias("_g"))
    bench = (
        benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        doc_grams.join(F.broadcast(bench), "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count("_g").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "hit_ratio",
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_hit") / F.col("n_grams"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets for candidate pairs
    (the verify stage after LSH). candidates: (a, b)."""
    sh = docs.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("_sh")
    )
    a = sh.withColumnRenamed(id_col, "a").withColumnRenamed("_sh", "_sha")
    b = sh.withColumnRenamed(id_col, "b").withColumnRenamed("_sh", "_shb")
    joined = candidates.select("a", "b").join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    return joined.select(
        "a", "b", F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard")
    )


def simhash64(text: Column, shingle_n: int = 2, engine_stable: bool = False) -> Column:
    """64-bit SimHash over word shingles: per-bit majority vote of shingle
    hashes, fully JVM-side (aggregate over bit projections). engine_stable
    uses hash60 (bits 60-63 then always 0 — a 60-bit simhash) so the DuckDB
    oracle computes the identical value."""
    sh = shingles(text, shingle_n)
    hashes = F.transform(
        sh, lambda s: hash60(s) if engine_stable else F.xxhash64(s)
    )
    # ONE aggregate pass updating a 64-wide vote array per hash — the
    # transform-over-bits-with-aggregate-inside shape would re-evaluate the
    # hash array (and the shingle split under it) 64 times per row.
    # F.shiftright/shiftleft only take literal ints in the Python API;
    # call_function routes Column shift amounts to the SQL builtins.
    # sequence(0,63) is foldable -> a constant literal in the plan.
    bits64 = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), 64),
        lambda acc, h: F.zip_with(
            acc,
            bits64,
            lambda v, bit: v
            + F.when(
                F.call_function("shiftright", h, bit.cast("int")).bitwiseAND(F.lit(1)) == 1,
                F.lit(1).cast("bigint"),
            ).otherwise(F.lit(-1).cast("bigint")),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            bits64,
            lambda v, bit: F.when(
                v > 0,
                F.call_function("shiftleft", F.lit(1).cast("bigint"), bit.cast("int")),
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1000,
    engine_stable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via 4x16-bit
    banding (any pair within distance 3 shares at least one exact 16-bit
    chunk — pigeonhole), then exact popcount verify."""
    # one simhash pass total: the 16-byte (id, signature) table feeds the
    # cap count and both join sides (see minhash_lsh_pairs); registered
    # for release_persisted()
    sh = _track_persist(
        docs.select(
            F.col(id_col),
            simhash64(F.col(text_col), engine_stable=engine_stable).alias("_sh"),
        )
    )
    chunks = sh.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("_sh"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bc"),
    ).select(id_col, "_sh", "bc.band", "bc.chunk")
    chunks = _drop_over_cap_buckets(chunks, ["band", "chunk"], max_bucket)
    a = chunks.select("band", "chunk", F.col(id_col).alias("a"), F.col("_sh").alias("_sha"))
    b = chunks.select("band", "chunk", F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))
    ham = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
