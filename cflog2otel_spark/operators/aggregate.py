"""Aggregation core: Count / Sum / Histogram over tumbling time windows.

Reference semantics (/root/reference/aggregation.go):
  - window assignment: ts.Truncate(interval), end = start + interval
    (:135-138). Go Truncate anchors at the year-1 zero time, Unix time at
    the 1970 epoch — the window start is `us - pmod(us - off, d)` in Unix
    microseconds with off = (-GO_ZERO_EPOCH_OFFSET) mod d, so every
    interval matches Go exactly.
  - aggregation axis = (resource-attr-set, window, metric-attr-set)
    (:17-49, :140-148); NULL attr values are dropped from the set
    (app.go:421-424) — we group on the raw (nullable) values and drop NULLs
    when assembling the canonical attr array, which preserves grouping
    because the key set per metric is fixed.
  - Count -> Sum[int64], IsMonotonic always true (:150-192, :159)
  - Sum   -> Sum[float64], IsMonotonic from config (:194-241)
  - Histogram -> count/sum/min/max + bucket counts (:243-331); bucket rule
    is UPPER-EXCLUSIVE `v < bound` (first bucket (-inf, b0), overflow
    [b_last, +inf)) per the code and goldens, NOT the README's (a,b]
    (SURVEY.md §2.4 A9).
  - temporality is a label only (:152-155).

Spark-first: everything is native Spark SQL expressions -> HashAggregateExec
with map-side partial aggregation; the reference's O(rows x groups) linear
scans (:26-33, :170-181) become O(rows) hash upserts. Like the reference's
one accumulator for all metric configs (:50-73), every metric of a config
is ONE aggregation (aggregate_points): one shuffle, on (metric, resource
attrs, window, attrs), however many metrics there are.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..celtrans import sql_str
from ..config import Config

# seconds from 0001-01-01T00:00:00Z (Go time.Time zero) to the Unix epoch
GO_ZERO_EPOCH_OFFSET = 62135596800

# aggregate_points' metric index of a per-source stats row
SOURCE_STATS = -1

# ToAttribute (app.go:399-412): string/int64/float64/bool become typed OTel
# attributes; anything else warns and drops the attribute (ok=false)
_OTEL_TYPE_BY_SPARK = {
    "string": "STRING",
    "boolean": "BOOL",
    "double": "FLOAT64",
    "float": "FLOAT64",
    "bigint": "INT64",
    "int": "INT64",
    "smallint": "INT64",
    "tinyint": "INT64",
}


def _otel_type(spark_type: str, key: str) -> str | None:
    """The OTel type of an attribute whose expression has `spark_type`;
    None = unsupported -> the attribute is dropped entirely, mirroring
    ToAttribute's ok=false skip."""
    t = _OTEL_TYPE_BY_SPARK.get(spark_type.split("(")[0])
    if t is None:
        logging.getLogger(__name__).warning(
            "unsupported attribute type %s for key %s — dropped", spark_type, key
        )
    return t


def _interval_micros(interval_seconds: float) -> tuple[int, int]:
    """(Go zero time modulo the interval, the interval) in microseconds;
    `interval_seconds` has millisecond precision."""
    d = round(interval_seconds * 1000) * 1000
    return (-GO_ZERO_EPOCH_OFFSET * 1_000_000) % d, d


def _truncate_micros(ts: str, off: str, d: str) -> str:
    """SQL for the Unix microseconds of the tumbling window start of `ts`
    matching Go time.Time.Truncate, for (`off`, `d`) from _interval_micros:
    every interval (sub-second, not dividing a day) and every epoch (before
    1970 too) matches Go. Arithmetic rather than window(), because Spark
    allows only one window() per projection."""
    us = f"unix_micros({ts})"
    return f"{us} - pmod({us} - {off}, {d})"


def _named_struct(fields: list[tuple[str, str]]) -> str:
    """SQL for a struct of (field name, SQL expression) pairs."""
    return "named_struct(" + ", ".join(f"'{k}', {c}" for k, c in fields) + ")"


def _sql_double(x: float) -> str:
    return f"{x!r}D" if math.isfinite(x) else f"CAST({sql_str(repr(x))} AS DOUBLE)"


def _attr_array(pairs: list[tuple[str, str, str]]) -> str:
    """Static-key attr set -> SQL for the canonical key-sorted
    array<struct<key,value,value_type>>, NULL values dropped
    (app.go:421-424; key order per attribute.NewSet, observed in
    switch_case.golden.json). `pairs` are (key, column, OTel type).

    `value` carries the canonical string rendering (grouping key + wire
    text); `value_type` is the OTel type (STRING/INT64/FLOAT64/BOOL) from
    the expression's static Spark type, so the golden and OTLP encoders
    and a parquet sink consumer recover Int64/Bool typing without
    re-deriving it from the config (VERDICT r2 #7).
    """
    if not pairs:
        return "CAST(array() AS ARRAY<STRUCT<key: STRING, value: STRING, value_type: STRING>>)"
    structs = ", ".join(
        _named_struct([("key", sql_str(k)), ("value", c), ("value_type", sql_str(t))])
        for k, c, t in sorted(pairs, key=lambda kv: kv[0])
    )
    return f"filter(array({structs}), x -> x.value IS NOT NULL)"


def _bucket_index(v: str, bounds: list[float]) -> str:
    """SQL for the histogram bucket of `v` under the upper-exclusive rule:
    bucket i holds bounds[i-1] <= v < bounds[i], the last one
    v >= bounds[-1] (NaN included, as Spark orders it above every number);
    NULL for a NULL value, which counts in no bucket."""
    whens = " ".join(f"WHEN {v} < {_sql_double(b)} THEN {i}" for i, b in enumerate(bounds))
    return f"CASE WHEN {v} IS NULL THEN NULL {whens} ELSE {len(bounds)} END"


def aggregate_points(parsed: DataFrame, cfg: Config, lineage: bool = False) -> DataFrame:
    """Every metric of `cfg` in ONE aggregation: one shuffle, and under
    AQE two jobs, however many metrics there are.

    Each row becomes one entry per metric whose filter it passes (an
    `explode` of `CASE WHEN filter THEN struct END` entries, so a NULL
    filter excludes the row as a SQL WHERE does), and with `lineage` one
    per-source stats entry. One groupBy over (metric, source, resource
    attrs, window start, attrs) then computes count, sum, min, max and the
    bucket counts. The plan is built from SQL text in five analyses (the
    explode, the filter of empty entries, the window and bucket
    projection, the aggregation, the sink structs): each Column built
    through the Python API costs a py4j round trip and each DataFrame
    step an analysis, and the plan of a small object is mostly that cost.

    Output, one row per data point (per source for the stats): `p{i}`,
    an array holding metric i's sink row as a struct on the rows of metric
    i and empty on every other row; with `lineage`, `stats` the same for
    the per-source struct<source, rows, min_ts, max_ts[, tokens]>. So
    `inline(p{i})` is metric i's sink, and each row carries only its own
    struct. An array rather than a NULL struct, because the struct's
    fields then keep the nullability a sink has always had (and Arrow can
    carry the non-nullable ones). Each attribute pair carries its OTel type
    (`value_type`), from the Spark types the config's validation found
    (Config.attribute_types), which it remembers: no analysis here."""
    res_types, metric_types = cfg.attribute_types(parsed.sparkSession)

    def typed(attrs, spark_types):
        # unsupported-typed attributes drop from the set entirely
        # (ToAttribute ok=false, app.go:408-412) — with the supported CEL
        # surface every expression is scalar, so this is a guard, not a
        # hot path
        pairs = [(a, _otel_type(st, a.key)) for a, st in zip(attrs, spark_types)]
        return [(a, t) for a, t in pairs if t]

    res_kept = typed(cfg.resource_attributes, res_types)
    attr_kept = [typed(m.attributes, st) for m, st in zip(cfg.metrics, metric_types)]
    n_attrs = max(map(len, attr_kept))
    has_tok = lineage and "n_tok" in parsed.columns

    # every entry has this layout, field -> type; a field an entry does not
    # set is NULL
    layout = {"m": "INT"}
    layout |= {f"r{j}": "STRING" for j in range(len(res_kept))}
    layout |= {f"a{k}": "STRING" for k in range(n_attrs)}
    layout |= {"ts": "TIMESTAMP", "off": "BIGINT", "d": "BIGINT", "v": "DOUBLE"}
    if lineage:
        layout["source"] = "STRING"
    if has_tok:
        layout["tok"] = parsed.schema["n_tok"].dataType.simpleString()

    def entry(**values: str) -> str:
        return _named_struct([(k, values.get(k, f"CAST(NULL AS {t})")) for k, t in layout.items()])

    res_vals = {f"r{j}": f"CAST(({a.value.sql}) AS STRING)" for j, (a, _) in enumerate(res_kept)}
    entries = []
    for i, m in enumerate(cfg.metrics):
        fields = {f"a{k}": f"CAST(({a.value.sql}) AS STRING)" for k, (a, _) in enumerate(attr_kept[i])}
        if m.value is not None:
            fields["v"] = f"CAST(({m.value.sql}) AS DOUBLE)"
        off, d = _interval_micros(m.interval_seconds)
        # SQL three-valued logic: NULL filter excludes the row (pinned spec,
        # SURVEY.md §2.3); reference filter eval: aggregation.go:113-122.
        # The timestamp test comes first, so that every row evaluates it
        # (the on_bad_key="fail" assert of enrich guards it).
        keep = "timestamp IS NOT NULL"
        if m.filter is not None:
            keep += f" AND ({m.filter.sql})"
        point = entry(m=str(i), ts="timestamp", off=f"{off}L", d=f"{d}L", **res_vals, **fields)
        entries.append(f"CASE WHEN {keep} THEN {point} END")
    if lineage:
        entries.append(entry(m=str(SOURCE_STATS), ts="timestamp", source="source", tok="n_tok"))

    hists = [(i, m) for i, m in enumerate(cfg.metrics) if m.type == "Histogram"]
    derived = [f"{_truncate_micros('e.ts', 'e.off', 'e.d')} AS ws"]
    if hists:
        buckets = " ".join(f"WHEN {i} THEN {_bucket_index('e.v', m.boundaries)}" for i, m in hists)
        derived.append(f"CASE e.m {buckets} END AS b")
    rows = (
        parsed.selectExpr(f"explode(array({', '.join(entries)})) AS e")
        .where("e IS NOT NULL")
        .selectExpr("e.*", *derived)
    )

    keys = ["m"] + (["source"] if lineage else [])
    keys += [f"r{j}" for j in range(len(res_kept))] + ["ws"]
    keys += [f"a{k}" for k in range(n_attrs)]
    aggs = ["CAST(count(1) AS BIGINT) AS n"]
    if any(m.value is not None for m in cfg.metrics):
        aggs.append("CAST(sum(v) AS DOUBLE) AS s")
    if hists:
        n_buckets = max(len(m.boundaries) + 1 for _, m in hists)
        aggs += ["CAST(count(v) AS BIGINT) AS c", "CAST(min(v) AS DOUBLE) AS lo",
                 "CAST(max(v) AS DOUBLE) AS hi"]
        aggs.append("array(" + ", ".join(
            f"CAST(sum(CASE WHEN b = {j} THEN 1 ELSE 0 END) AS BIGINT)" for j in range(n_buckets)
        ) + ") AS bc")
    if lineage:
        aggs += ["min(ts) AS min_ts", "max(ts) AS max_ts"]
    if has_tok:
        aggs.append("sum(tok) AS tokens")
    agged = rows.groupBy(*keys).agg(*map(F.expr, aggs))

    res_pairs = [(a.key, f"r{j}", t) for j, (a, t) in enumerate(res_kept)]
    def only_on(m: int, fields: list[tuple[str, str]]) -> str:
        return f"CASE WHEN m = {m} THEN array({_named_struct(fields)}) ELSE array() END"

    out = []
    for i, m in enumerate(cfg.metrics):
        _, d = _interval_micros(m.interval_seconds)
        if m.type == "Count":
            extra = [("value", "n"), ("is_monotonic", "true")]  # :159
        elif m.type == "Sum":
            extra = [("value", "s"), ("is_monotonic", "true" if m.is_monotonic else "false")]
        elif m.type == "Histogram":
            no_double = "CAST(NULL AS DOUBLE)"
            extra = [
                ("count", "c"),
                ("sum", "s"),
                ("min", no_double if m.no_min_max else "lo"),
                ("max", no_double if m.no_min_max else "hi"),
                ("bounds", "array(" + ", ".join(map(_sql_double, m.boundaries)) + ")"),
                ("bucket_counts", f"slice(bc, 1, {len(m.boundaries) + 1})"),
            ]
        else:  # pragma: no cover
            raise ValueError(m.type)
        fields = [
            ("resource_attrs", _attr_array(res_pairs)),
            ("scope_name", sql_str(cfg.scope.name)),
            ("scope_version", sql_str(cfg.scope.version)),
            ("scope_schema_url", sql_str(cfg.scope.schema_url)),
            ("metric_name", sql_str(m.name)),
            ("metric_description", sql_str(m.description)),
            ("metric_unit", sql_str(m.unit)),
            ("window_start", "timestamp_micros(ws)"),
            ("window_end", f"timestamp_micros(ws + {d}L)"),
            ("attrs", _attr_array([(a.key, f"a{k}", t) for k, (a, t) in enumerate(attr_kept[i])])),
            ("temporality", sql_str(m.temporality)),
            *extra,
        ]
        out.append(f"{only_on(i, fields)} AS p{i}")
    if lineage:
        stats = [("source", "source"), ("rows", "n"), ("min_ts", "min_ts"), ("max_ts", "max_ts")]
        if has_tok:
            stats.append(("tokens", "tokens"))
        out.append(f"{only_on(SOURCE_STATS, stats)} AS stats")
    return agged.selectExpr(*out)


def aggregate_metric(parsed: DataFrame, cfg: Config) -> DataFrame:
    """The sink DataFrame of data points of a one-metric config: the
    aggregate_points plan, unnested."""
    if len(cfg.metrics) != 1:
        raise ValueError(
            f"aggregate_metric takes a one-metric config, got {len(cfg.metrics)} "
            "metrics: use aggregate_points"
        )
    return aggregate_points(parsed, cfg).selectExpr("inline(p0)")
