"""End-to-end pipeline: read -> parse -> enrich -> route -> aggregate -> sinks.

The reference interleaves all metric configs in one pass over rows
(/root/reference/aggregation.go:50-73); metrics never interact, so we branch
N independent aggregations off ONE cached parse+enrich scan (SURVEY.md §3.1).
At 100 TB the cached intermediate is the pruned projection (only columns any
metric references plus payload), serialized columnar in memory-and-disk; each
branch then does a single shuffle on its own (window, attrs) keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .config import Config
from .operators.aggregate import AttributeTypes, aggregate_metric, config_attribute_types
from .operators.enrich import enrich
from .operators.parse import decode_and_parse


def sink_dirname(name: str) -> str:
    """Collision-free filesystem directory name for a metric sink.

    The old `name.replace('/', '_')` collided ("a/b" and "a_b" mapped to
    the same directory, so their dynamic partition overwrites silently
    clobbered each other — ADVICE r4) and passed other path-hostile
    characters (spaces, colons, backslashes) through verbatim. This
    encoding is injective: bytes outside [A-Za-z0-9._-] are escaped as
    `!xHH` (UTF-8, uppercase hex) and `!` itself is always escaped, so two
    distinct metric names can never encode to the same directory. Common
    OTel-style names (`http.server.5xx_requests`) are unchanged. `!` is
    the marker instead of percent-encoding because Hadoop Path/URI
    handling can decode `%xx` sequences embedded in paths.
    """
    out = []
    for b in name.encode("utf-8"):
        c = chr(b)
        if c != "!" and (c.isascii() and (c.isalnum() or c in "._-")):
            out.append(c)
        else:
            out.append(f"!x{b:02X}")
    enc = "".join(out)
    # '.' is in the allowed set, so the names '.' and '..' (and any
    # all-dot name) would otherwise resolve to out_dir itself / its
    # parent instead of a child directory (ADVICE r5). Escape a leading
    # dot when the whole name is dots — still injective, since '!x2E'
    # only ever appears where a byte was escaped.
    if enc and set(enc) == {"."}:
        enc = "!x2E" + enc[1:]
    return enc


@dataclass
class PipelineResult:
    """One run's fan-out: the shared parsed projection and one data-point
    DataFrame per metric.

    `points()` collects every sink to the driver once and holds the rows
    until `unpersist()`, so the manifest, golden and OTLP encoders share
    one aggregation per metric instead of re-running it each. The held
    rows are bounded by windows x attribute cardinality, the same data
    points export collects anyway."""

    parsed: DataFrame
    sinks: dict[str, DataFrame]  # metric name -> data-point DataFrame
    metric_index: dict[str, int] = field(default_factory=dict)
    attr_types: AttributeTypes | None = None
    _points: dict[str, list[dict]] | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def points(self) -> dict[str, list[dict]]:
        """Metric name -> its data points as dicts, collected once. The
        sinks are independent jobs over the shared projection, so they
        are collected concurrently, each thread in the caller's job group."""
        if self._points is None:
            from concurrent.futures import ThreadPoolExecutor

            jsc = self.parsed.sparkSession.sparkContext._jsc.sc()
            props = jsc.getLocalProperties().clone()

            def collect(df: DataFrame) -> list[dict]:
                jsc.setLocalProperties(props)
                return [r.asDict(recursive=True) for r in df.collect()]

            with ThreadPoolExecutor(max(1, min(len(self.sinks), 8))) as ex:
                self._points = dict(zip(self.sinks, ex.map(collect, self.sinks.values())))
        return self._points

    def unpersist(self) -> None:
        self.parsed.unpersist()
        self._points = None


def _referenced_columns(cfg: Config) -> set[str]:
    """Column pruning for the cache: parse emits all fields, but the cached
    projection keeps only what some expression references (SURVEY.md §4
    'column pruning — worth exploiting explicitly').
    """
    import re

    sqls: list[str] = [a.value.sql for a in cfg.resource_attributes]
    for m in cfg.metrics:
        sqls += [a.value.sql for a in m.attributes]
        if m.filter is not None:
            sqls.append(m.filter.sql)
        if m.value is not None:
            sqls.append(m.value.sql)
    idents = set()
    for s in sqls:
        idents |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", s))
    return idents


def run_pipeline(
    spark: SparkSession,
    cfg: Config,
    tokenized: DataFrame,
    strict: bool = False,
    cache: str = "memory_and_disk",
    keep_payload: bool = True,
    event_time: str | None = None,
    trigger_source: str | None = None,
    repartition_by_source: bool = False,
) -> PipelineResult:
    """Run every metric config over a tokenized-sequence DataFrame.

    `event_time` + cfg.backfill enable the per-line lateness gate
    (app.go:354-361): rows with event_time - timestamp > tolerance drop.
    Pass `trigger_source` to exempt the trigger object's own lines — the
    reference applies the line gate only inside the sibling re-read loop,
    never to the trigger file (app.go:324 keeps all trigger lines). Without
    it the gate is coarse (every row gated) — a documented deviation for
    callers that don't know the trigger.
    `repartition_by_source` pre-shuffles on (source, hour(ts)) to align with
    an Iceberg (source, hours(ts)) layout so downstream window aggregations
    mostly combine map-side.
    """
    parsed = decode_and_parse(tokenized, strict=strict, keep_payload=keep_payload)
    # skip-or-fail on unparseable object keys (app.go:306-313): NoSkip=true
    # errors the run at the first bad key; otherwise the file's rows are
    # skipped, mirroring the reference's per-file skip
    if cfg.no_skip:
        from .operators.enrich import fail_on_bad_source_key

        parsed = enrich(parsed)
        parsed = fail_on_bad_source_key(parsed)
    else:
        parsed = enrich(parsed, on_bad_key="skip")
    return run_pipeline_parsed(
        spark,
        cfg,
        parsed,
        cache=cache,
        keep_payload=keep_payload,
        event_time=event_time,
        trigger_source=trigger_source,
        repartition_by_source=repartition_by_source,
    )


def run_pipeline_parsed(
    spark: SparkSession,
    cfg: Config,
    parsed: DataFrame,
    cache: str = "memory_and_disk",
    keep_payload: bool = True,
    event_time: str | None = None,
    trigger_source: str | None = None,
    repartition_by_source: bool = False,
) -> PipelineResult:
    """Fan-out over an already-parsed+enriched record set (shared by the
    tokenized and raw-text sources)."""
    cfg.validate_expressions(spark)

    if cfg.backfill.enabled and event_time is not None:
        tol = cfg.backfill.time_tolerance_seconds
        line_ok = F.col("timestamp").isNotNull() & (
            F.unix_timestamp(F.lit(event_time).cast("timestamp"))
            - F.unix_timestamp(F.col("timestamp"))
            <= F.lit(tol)
        )
        if trigger_source is not None:
            # the trigger object's own lines are never line-gated
            # (app.go:324 vs :354-361 — the gate lives in the sibling loop)
            line_ok = (F.col("source") == F.lit(trigger_source)) | line_ok
        parsed = parsed.filter(line_ok)

    needed = _referenced_columns(cfg)
    payload = ["doc_id", "tokens", "n_tok", "source"] if keep_payload else []
    keep = [
        c
        for c in parsed.columns
        if c in needed or c in payload or c == "timestamp"
    ]
    parsed = parsed.select(*dict.fromkeys(keep))

    if repartition_by_source:
        parsed = parsed.repartition("source", F.hour("timestamp"))

    if cache == "memory_and_disk":
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    elif cache == "disk":
        parsed = parsed.persist(StorageLevel.DISK_ONLY)

    types = config_attribute_types(parsed, cfg)
    sinks: dict[str, DataFrame] = {}
    index: dict[str, int] = {}
    for i, m in enumerate(cfg.metrics):
        sinks[m.name] = aggregate_metric(parsed, cfg, m, types)
        index[m.name] = i
    return PipelineResult(parsed=parsed, sinks=sinks, metric_index=index, attr_types=types)


def write_sinks(
    result: PipelineResult,
    out_dir: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    parallel: bool = True,
    partition_by: str | None = None,
) -> None:
    """Per-metric sink writers (reference sink: OTLP export per resource,
    app.go:230-239 — ours is a columnar table per metric config).

    parallel=True submits every sink write from its own thread: the metric
    branches are independent jobs over the shared persisted projection, so
    the scheduler overlaps their shuffles/IO instead of leaving cores idle
    between serial jobs (measured 1.6-1.8x on the 4-sink flagship; the
    cache lock makes the shared projection materialize exactly once).
    `partition_by` partitions every sink by that column and overwrites
    only the partitions the write holds (dynamic overwrite)."""

    def write_one(kv) -> None:
        name, df = kv
        w = df.write.format(fmt).mode(mode)
        if partition_by:
            w = w.option("partitionOverwriteMode", "dynamic").partitionBy(partition_by)
        w.save(f"{out_dir}/{sink_dirname(name)}")

    items = list(result.sinks.items())
    if parallel and len(items) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(len(items), 8)) as ex:
            list(ex.map(write_one, items))
    else:
        for kv in items:
            write_one(kv)
