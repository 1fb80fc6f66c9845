"""Differential property for the parse stage: randomized CF log lines
through tokenize -> decode -> parse must equal a direct Python model of
the reference's field decoding (cloudfront_std_log.go:250-331):
'-' -> NULL, positional dispatch, missing tail fields stay NULL, lenient
numeric failure -> NULL, timestamp from date+time, status category,
QueryUnescape on the user agent."""

import random
import urllib.parse
from datetime import datetime

from pyspark.sql import functions as F

from cflog2otel_spark.operators.parse import decode_and_parse
from cflog2otel_spark.schemas import CF_FIELDS
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

_WORDS = ["GET", "POST", "Hit", "Miss", "abc", "x%20y", "a+b", "text/html", "-", ""]


def _gen_value(rng, dtype):
    if rng.random() < 0.15:
        return "-"
    if dtype == "long":
        if rng.random() < 0.1:
            return "notanint"  # lenient -> NULL
        return str(rng.randint(-5, 99999))
    if dtype == "double":
        if rng.random() < 0.1:
            return "nan?"  # lenient -> NULL
        return str(round(rng.uniform(0, 5000), 3))
    return rng.choice([w for w in _WORDS if w != ""]) + str(rng.randint(0, 9))


def _model_row(values):
    """Python transcription of the reference's decode loop."""
    out = {}
    for i, f in enumerate(CF_FIELDS):
        raw = values[i] if i < len(values) else None
        if raw in (None, "-"):
            out[f.col] = None
            continue
        if f.dtype == "long":
            try:
                out[f.col] = int(raw)
            except ValueError:
                out[f.col] = None
        elif f.dtype == "double":
            try:
                out[f.col] = float(raw)
            except ValueError:
                out[f.col] = None
        else:
            out[f.col] = raw
    # derivations
    d, t = out.get("date"), out.get("time")
    ts = None
    if d is not None and t is not None:
        try:
            ts = datetime.strptime(f"{d} {t}", "%Y-%m-%d %H:%M:%S")
        except ValueError:
            ts = None
    out["timestamp"] = ts
    sc = out.get("sc_status")
    out["sc_status_category"] = f"{sc // 100}xx" if sc is not None else None
    ua = out.get("cs_user_agent")
    out["cs_user_agent"] = urllib.parse.unquote_plus(ua) if ua is not None else None
    out["type"] = "CloudFront Standard Log"
    return out


def test_parse_matches_python_model_property(spark):
    rng = random.Random(11)
    lines, expected = [], []
    for _ in range(120):
        n = rng.choice([33, 33, 33, rng.randint(3, 32)])  # some short tails
        values = []
        for i, f in enumerate(CF_FIELDS[:n]):
            if f.raw == "date":
                values.append(
                    "-" if rng.random() < 0.1
                    else f"2024-03-{rng.randint(1, 28):02d}"
                )
            elif f.raw == "time":
                values.append(
                    "-" if rng.random() < 0.1
                    else f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
                )
            else:
                values.append(_gen_value(rng, f.dtype))
        lines.append("\t".join(values))
        expected.append(_model_row(values))

    tok = tokenized_df_from_lines(spark, lines, "logs/D1.2024-03-01-12.h.gz")
    parsed = decode_and_parse(tok).orderBy("doc_id")  # zero-padded index sorts
    rows = parsed.collect()
    assert len(rows) == len(expected)
    cols = [f.col for f in CF_FIELDS] + [
        "timestamp", "sc_status_category", "cs_user_agent", "type"
    ]
    for i, (row, want) in enumerate(zip(rows, expected)):
        got = {c: row[c] for c in cols}
        want_ts = want["timestamp"]
        got_ts = got["timestamp"]
        assert got_ts == want_ts, (i, lines[i], got_ts, want_ts)
        for c in cols:
            if c == "timestamp":
                continue
            assert got[c] == want[c], (i, c, lines[i], got[c], want[c])


def test_token_codec_roundtrip_unicode_property(spark):
    """encode -> decode is the identity for arbitrary UTF-8 (incl.
    multi-byte and astral chars) — the lookup-table decode must be
    byte-exact, not just ASCII-exact."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cflog2otel_spark.operators.parse import decode_tokens_col, encode_tokens_col

    texts = st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            min_size=0, max_size=30,
        ),
        min_size=1, max_size=8,
    )

    @settings(max_examples=25, deadline=None)
    @given(texts)
    def check(batch):
        df = spark.createDataFrame([(s,) for s in batch], ["s"])
        out = (
            df.select("s", encode_tokens_col(F.col("s")).alias("e"))
            .select("s", decode_tokens_col("e").alias("r"))
            .collect()
        )
        for r in out:
            assert r["r"] == r["s"], repr(r["s"])

    check()
