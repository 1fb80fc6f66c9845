"""Enrich stage: the CEL context columns, plus broadcast dimension lookups.

The reference derives `cloudfront.distributionId` from the S3 object key
`{prefix}{distID}.{datehour}.{hash}.gz` (/root/reference/app.go:434-450) and
binds bucket/object context from the S3 event (/root/reference/cel.go:26-46).
Here `source` is a column, so the parse is a native regexp over the column —
per-file constant in practice, so Catalyst folds it cheaply; at 100 TB it
costs one regex per row with no shuffle. The event's fields are literal
columns, NULL for a run with no event; schemas.CEL_FIELDS declares them.

Each function is built from SQL text: one `withColumns` projection of
`F.expr` columns that replaces or appends its columns, after one `where`
for the "skip" rule, so `enrich` costs two analyses and
`with_event_context` one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..celtrans import sql_literal, sql_str
from ..schemas import CEL_FIELDS

# basename(source) minus .gz, then SplitN(".", 3): distID . datehour . hash
# (app.go:434-450). datehour is free-form in the reference (any middle part).
_BASE = sql_str(r"([^/]+)\.gz$")
_DOT = sql_str(r"\.")


def _key_columns(df: DataFrame, on_bad_key: str) -> tuple[DataFrame, dict[str, Column]]:
    """`df` with the "skip" rule's filter, and the object-key columns of
    `source` (plus, for "fail", the asserting `timestamp`), each from SQL
    text."""
    base = f"regexp_extract(`source`, {_BASE}, 1)"
    # SplitN(".", 3): first two dots split, remainder (incl. dots) is hash
    parts = f"split({base}, {_DOT}, 3)"
    valid = f"({base} != '' AND size({parts}) = 3)"
    cols = {}
    if on_bad_key == "skip":
        df = df.where(valid)
    elif on_bad_key == "fail":
        msg = "concat('failed to parse object key: ', coalesce(`source`, '<null>'))"
        cols["timestamp"] = f"CASE WHEN assert_true({valid}, {msg}) IS NULL THEN `timestamp` END"
    for i, c in enumerate(("distribution_id", "datehour", "object_hash")):
        cols[c] = f"CASE WHEN {valid} THEN get({parts}, {i}) END"
    return df, {c: F.expr(sql) for c, sql in cols.items()}


def _event_columns(ctx: dict) -> dict[str, Column]:
    """The event fields of schemas.CEL_FIELDS, each a literal from `ctx` or
    NULL."""
    return {
        f.col: F.expr(f"CAST({sql_literal(ctx.get(f.col))} AS {f.dtype})")
        for f in CEL_FIELDS
        if f.event
    }


def with_event_context(df: DataFrame, ctx: dict) -> DataFrame:
    """Bind the S3 event's CEL context (the bucket.* and object.* fields of
    schemas.CEL_FIELDS, cel.go:48-69) as literal columns, each from `ctx`
    (sources.events.s3_record_context) or NULL when `ctx` lacks it.
    Constant-folded by Catalyst; zero runtime cost."""
    return df.withColumns(_event_columns(ctx))


def enrich(df: DataFrame, on_bad_key: str = "null") -> DataFrame:
    """Every CEL context column: (distribution_id, datehour, object_hash)
    from the object key in `source`, and the event fields NULL, as for a
    run with no S3 event.

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
    df, cols = _key_columns(df, on_bad_key)
    return df.withColumns(cols | _event_columns({}))


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
