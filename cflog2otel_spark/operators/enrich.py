"""Enrich stage: the CEL context columns, plus broadcast dimension lookups.

The reference derives `cloudfront.distributionId` from the S3 object key
`{prefix}{distID}.{datehour}.{hash}.gz` (/root/reference/app.go:434-450) and
binds bucket/object context from the S3 event (/root/reference/cel.go:26-46).
Here `source` is a column, so the parse is a native regexp over the column —
per-file constant in practice, so Catalyst folds it cheaply; at 100 TB it
costs one regex per row with no shuffle. The event's fields are literal
columns, NULL for a run with no event; schemas.CEL_FIELDS declares them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import CEL_FIELDS

# basename(source) minus .gz, then SplitN(".", 3): distID . datehour . hash
# (app.go:434-450). datehour is free-form in the reference (any middle part).
_BASE = r"([^/]+)\.gz$"


def parse_source_key(
    df: DataFrame, source_col: str = "source", on_bad_key: str = "null"
) -> DataFrame:
    """Derive (distribution_id, datehour, object_hash) from the object key.

    on_bad_key maps the reference's skip-or-fail (app.go:306-313):
      - "null": context columns NULL for unparseable keys (lenient default
        for non-S3 sources, e.g. --text-input local paths)
      - "skip": drop every row of an unparseable-key file (the reference's
        NoSkip=false file skip); with a source-partitioned layout the
        filter prunes whole partitions
      - "fail": error the run at the first row whose key does not parse
        (NoSkip=true). The assert rides on `timestamp`, which every
        aggregation consumes, so column pruning can never drop it, and it
        costs no extra scan
    """
    base = F.regexp_extract(F.col(source_col), _BASE, 1)
    # SplitN(".", 3): first two dots split, remainder (incl. dots) is hash
    parts = F.split(base, r"\.", 3)
    valid = (base != "") & (F.size(parts) == 3)
    if on_bad_key == "skip":
        df = df.filter(valid)
    elif on_bad_key == "fail":
        msg = F.concat(
            F.lit("failed to parse object key: "),
            F.coalesce(F.col(source_col), F.lit("<null>")),
        )
        df = df.withColumn(
            "timestamp", F.when(F.assert_true(valid, msg).isNull(), F.col("timestamp"))
        )
    return df.withColumns({
        "distribution_id": F.when(valid, F.get(parts, 0)),
        "datehour": F.when(valid, F.get(parts, 1)),
        "object_hash": F.when(valid, F.get(parts, 2)),
    })


def with_event_context(df: DataFrame, ctx: dict) -> DataFrame:
    """Bind the S3 event's CEL context (the bucket.* and object.* fields of
    schemas.CEL_FIELDS, cel.go:48-69) as literal columns, each from `ctx`
    (sources.events.s3_record_context) or NULL when `ctx` lacks it.
    Constant-folded by Catalyst; zero runtime cost."""
    return df.withColumns({
        f.col: F.lit(ctx.get(f.col)).cast(f.dtype) for f in CEL_FIELDS if f.event
    })


def enrich(df: DataFrame, on_bad_key: str = "null") -> DataFrame:
    """Every CEL context column: the object-key fields (parse_source_key),
    and the event fields NULL, as for a run with no S3 event."""
    return with_event_context(parse_source_key(df, on_bad_key=on_bad_key), {})


def broadcast_lookup(
    df: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Broadcast-join a small dimension table (e.g. distribution metadata,
    edge-location geo). Explicit F.broadcast so a 1000-executor plan never
    shuffles the fact side for a dimension lookup.
    """
    return df.join(F.broadcast(dim), on=on, how=how)
