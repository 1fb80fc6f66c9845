"""Aggregation core: Count / Sum / Histogram over tumbling time windows.

Reference semantics (/root/reference/aggregation.go):
  - window assignment: ts.Truncate(interval), end = start + interval
    (:135-138). Go Truncate anchors at the year-1 zero time, Spark F.window
    at the 1970 epoch — we pass startTime = (-GO_ZERO_EPOCH_OFFSET) % d so
    every interval matches Go exactly (identical for any d dividing 86400s).
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

Spark-first: everything is native Column expressions -> HashAggregateExec
with map-side partial aggregation; the reference's O(rows x groups) linear
scans (:26-33, :170-181) become O(rows) hash upserts. One shuffle per metric
branch, on (resource attrs, window, attrs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import Config, MetricsConfig

# seconds from 0001-01-01T00:00:00Z (Go time.Time zero) to the Unix epoch
GO_ZERO_EPOCH_OFFSET = 62135596800

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


def attribute_types(parsed: DataFrame, attrs) -> list[str | None]:
    """Static OTel type per attribute config, from the translated
    expression's Spark type against the parsed schema (one analysis call,
    no job). None = unsupported -> the attribute is dropped entirely,
    mirroring ToAttribute's ok=false skip."""
    if not attrs:
        return []
    probe = parsed.select(
        *[F.expr(a.value.sql).alias(f"__t{i}") for i, a in enumerate(attrs)]
    )
    types = []
    for (_, dt), a in zip(probe.dtypes, attrs):
        base = dt.split("(")[0]
        t = _OTEL_TYPE_BY_SPARK.get(base)
        if t is None:
            import logging

            logging.getLogger(__name__).warning(
                "unsupported attribute type %s for key %s — dropped", dt, a.key
            )
        types.append(t)
    return types


@dataclass(frozen=True)
class AttributeTypes:
    """Static OTel types of a config's attributes: one entry per
    resource attribute, and per metric name one per metric attribute."""

    resource: list[str | None]
    metrics: dict[str, list[str | None]]


def config_attribute_types(parsed: DataFrame, cfg: Config) -> AttributeTypes:
    """attribute_types for every resource and metric attribute of `cfg`
    in one analysis call."""
    types = iter(attribute_types(
        parsed,
        list(cfg.resource_attributes) + [a for m in cfg.metrics for a in m.attributes],
    ))
    return AttributeTypes(
        [next(types) for _ in cfg.resource_attributes],
        {m.name: [next(types) for _ in m.attributes] for m in cfg.metrics},
    )


def _duration_str(seconds: float) -> str:
    ms = round(seconds * 1000)
    if ms % 1000 == 0:
        return f"{ms // 1000} seconds"
    return f"{ms} milliseconds"


def window_col(ts: Column, interval_seconds: float) -> Column:
    """Tumbling window matching Go time.Time.Truncate(interval)."""
    ms = round(interval_seconds * 1000)
    off_ms = (-GO_ZERO_EPOCH_OFFSET * 1000) % ms
    return F.window(
        ts,
        _duration_str(interval_seconds),
        _duration_str(interval_seconds),
        _duration_str(off_ms / 1000.0),
    )


def _attr_array(pairs: list[tuple[str, str, str]]) -> Column:
    """Static-key attr set -> canonical key-sorted
    array<struct<key,value,value_type>>, NULL values dropped
    (app.go:421-424; key order per attribute.NewSet, observed in
    switch_case.golden.json).

    `value` carries the canonical string rendering (grouping key + wire
    text); `value_type` is the OTel type (STRING/INT64/DOUBLE/BOOL) from
    the expression's static Spark type, so a parquet sink consumer can
    recover Int64/Bool typing without re-deriving it from the config
    (VERDICT r2 #7).
    """
    if not pairs:
        return F.array().cast(
            "array<struct<key:string,value:string,value_type:string>>"
        )
    structs = [
        F.struct(
            F.lit(k).alias("key"),
            F.col(c).alias("value"),
            F.lit(t).alias("value_type"),
        )
        for k, c, t in sorted(pairs, key=lambda kv: kv[0])
    ]
    return F.filter(F.array(*structs), lambda x: x.getField("value").isNotNull())


def aggregate_metric(
    parsed: DataFrame,
    cfg: Config,
    m: MetricsConfig,
    types: AttributeTypes | None = None,
) -> DataFrame:
    """One metric config -> one sink DataFrame of data points. `types`
    (from config_attribute_types over the same schema) skips the
    per-metric attribute-type probes."""
    df = parsed
    if m.filter is not None:
        # SQL three-valued logic: NULL filter excludes the row (pinned spec,
        # SURVEY.md §2.3); reference filter eval: aggregation.go:113-122
        df = df.filter(F.expr(m.filter.sql))
    df = df.filter(F.col("timestamp").isNotNull())

    # unsupported-typed attributes drop from the set entirely (ToAttribute
    # ok=false, app.go:408-412) — with the supported CEL surface every
    # expression is scalar, so this is a guard, not a hot path
    if types is None:
        res_types = attribute_types(parsed, cfg.resource_attributes)
        attr_types = attribute_types(parsed, m.attributes)
    else:
        res_types, attr_types = types.resource, types.metrics[m.name]
    res_pairs = [
        (a.key, f"__res_{i}", res_types[i])
        for i, a in enumerate(cfg.resource_attributes)
        if res_types[i] is not None
    ]
    attr_pairs = [
        (a.key, f"__attr_{i}", attr_types[i])
        for i, a in enumerate(m.attributes)
        if attr_types[i] is not None
    ]
    proj = [
        F.expr(a.value.sql).cast("string").alias(f"__res_{i}")
        for i, a in enumerate(cfg.resource_attributes)
        if res_types[i] is not None
    ] + [
        F.expr(a.value.sql).cast("string").alias(f"__attr_{i}")
        for i, a in enumerate(m.attributes)
        if attr_types[i] is not None
    ]
    if m.value is not None:
        proj.append(F.expr(m.value.sql).cast("double").alias("__value"))
    df = df.select(F.col("timestamp"), *proj)

    win = window_col(F.col("timestamp"), m.interval_seconds).alias("__window")
    group_cols = [F.col(p[1]) for p in res_pairs + attr_pairs]
    grouped = df.groupBy(win, *group_cols)

    if m.type == "Count":
        agged = grouped.agg(F.count(F.lit(1)).cast("long").alias("value"))
        extra = [F.col("value"), F.lit(True).alias("is_monotonic")]  # :159
    elif m.type == "Sum":
        agged = grouped.agg(F.sum("__value").cast("double").alias("value"))
        extra = [F.col("value"), F.lit(m.is_monotonic).alias("is_monotonic")]
    elif m.type == "Histogram":
        v = F.col("__value")
        bounds = m.boundaries
        bucket_aggs = []
        for i in range(len(bounds) + 1):
            if i == 0:
                cond = v < F.lit(bounds[0])
            elif i == len(bounds):
                cond = v >= F.lit(bounds[-1])
            else:
                cond = (v >= F.lit(bounds[i - 1])) & (v < F.lit(bounds[i]))
            bucket_aggs.append(
                F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
                .cast("long")
                .alias(f"__b{i}")
            )
        agged = grouped.agg(
            F.count(v).cast("long").alias("count"),
            F.sum(v).cast("double").alias("sum"),
            F.min(v).cast("double").alias("min"),
            F.max(v).cast("double").alias("max"),
            *bucket_aggs,
        )
        extra = [
            F.col("count"),
            F.col("sum"),
            (F.lit(None).cast("double") if m.no_min_max else F.col("min")).alias("min"),
            (F.lit(None).cast("double") if m.no_min_max else F.col("max")).alias("max"),
            F.array(*[F.lit(float(b)) for b in bounds]).alias("bounds"),
            F.array(*[F.col(f"__b{i}") for i in range(len(bounds) + 1)]).alias(
                "bucket_counts"
            ),
        ]
    else:  # pragma: no cover
        raise ValueError(m.type)

    return agged.select(
        _attr_array(res_pairs).alias("resource_attrs"),
        F.lit(cfg.scope.name).alias("scope_name"),
        F.lit(cfg.scope.version).alias("scope_version"),
        F.lit(cfg.scope.schema_url).alias("scope_schema_url"),
        F.lit(m.name).alias("metric_name"),
        F.lit(m.description).alias("metric_description"),
        F.lit(m.unit).alias("metric_unit"),
        F.col("__window.start").alias("window_start"),
        F.col("__window.end").alias("window_end"),
        _attr_array(attr_pairs).alias("attrs"),
        F.lit(m.temporality).alias("temporality"),
        *extra,
    )
