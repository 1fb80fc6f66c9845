"""End-to-end pipeline: read -> parse -> enrich -> route -> aggregate -> sinks.

The reference interleaves all metric configs in one pass over rows, one
accumulator keyed by (metric, resource set, window, attribute set)
(the reference's aggregation.go:50-73). So do we: the parse+enrich
projection, which Catalyst prunes to the columns the aggregation reads,
feeds ONE aggregation of every metric (operators/aggregate.aggregate_points)
with the manifest's per-source stats folded in. It is read once, by that
aggregation's single job, so nothing is cached.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Mapping
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

from .config import Config
from .operators.aggregate import aggregate_points
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


class _Lazy(Mapping):
    """Metric name -> `build(name)`, each value built on first access."""

    def __init__(self, names, build):
        self._names, self._build = names, build
        self._values: dict = {}

    def __getitem__(self, name: str):
        if name not in self._values:
            if name not in self._names:
                raise KeyError(name)
            self._values[name] = self._build(name)
        return self._values[name]

    def __iter__(self):
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def utc_text(micros: int, fmt: str) -> str:
    """Unix microseconds formatted by `strftime(fmt)` in UTC, by arithmetic,
    so the driver's TZ never enters."""
    return (_EPOCH + timedelta(microseconds=micros)).strftime(fmt)


def _table_rows(table: pa.Table, to_ts=None) -> list[dict]:
    """The rows `collect()` + `asDict(recursive=True)` give: timestamps
    become naive driver-local datetimes built by PySpark's own
    `TimestampType.fromInternal` (so `fold` matches too), or
    `to_ts(micros)` if given (`int` keeps the Unix microseconds)."""
    conv = to_ts or TimestampType().fromInternal
    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type):
            col = col.cast(pa.int64())  # toArrow's timestamps are microseconds
            cols.append([None if v is None else conv(v) for v in col.to_pylist()])
        else:
            cols.append(col.to_pylist())
    return [dict(zip(table.column_names, r)) for r in zip(*cols)]


@dataclass
class PipelineResult:
    """One run: the parsed projection and the ONE aggregation of
    every metric (`aggregate_points`), with per-source stats when the run
    keeps the payload.

    `tables()` collects that aggregation to the driver once, as Arrow,
    splits it into one table per metric, and holds the tables (and the
    source stats) until `unpersist()`. The manifest, golden and OTLP
    encoders and `write_sinks` all read them, so a run executes one Spark
    aggregation, two jobs under AQE. The held tables are bounded by
    windows x attribute cardinality, the same data points export sends
    anyway."""

    parsed: DataFrame
    points_df: DataFrame  # aggregate_points over `parsed`
    metric_index: dict[str, int] = field(default_factory=dict)
    _tables: dict[str, pa.Table] | None = field(
        default=None, init=False, repr=False, compare=False
    )
    _stats: list[dict] | None = field(default=None, init=False, repr=False, compare=False)
    _points: Mapping | None = field(default=None, init=False, repr=False, compare=False)
    _sinks: Mapping | None = field(default=None, init=False, repr=False, compare=False)

    @property
    def sinks(self) -> Mapping[str, DataFrame]:
        """Metric name -> its data points as a DataFrame view of the one
        aggregation, each built on first access. Each view re-runs the whole
        aggregation; the product path reads `tables()` instead."""
        if self._sinks is None:
            self._sinks = _Lazy(self.metric_index, lambda name: self.points_df.selectExpr(
                f"inline(p{self.metric_index[name]})"
            ))
        return self._sinks

    def sink_schema(self, name: str) -> StructType:
        """The Spark schema of metric `name`'s sink rows, read off the one
        aggregation's schema: no view is analysed."""
        return self.points_df.schema[f"p{self.metric_index[name]}"].dataType.elementType

    def tables(self) -> dict[str, pa.Table]:
        """Metric name -> its data points as an Arrow table, from one
        `toArrow()` of the aggregation in the caller's thread (so its jobs
        run in the caller's job group)."""
        if self._tables is None:
            t = self.points_df.toArrow()

            def rows_of(col: str) -> pa.Table:
                # each row's array holds its one struct or nothing
                return pa.Table.from_struct_array(t.column(col).combine_chunks().flatten())

            self._tables = {name: rows_of(f"p{i}") for name, i in self.metric_index.items()}
            if "stats" in t.column_names:
                self._stats = _table_rows(rows_of("stats"), int)
        return self._tables

    def source_stats(self) -> list[dict]:
        """Per source: `source`, `rows`, `min_ts`/`max_ts` (Unix
        microseconds) and, with a token column, `tokens`; collected with
        the data points by `tables()`."""
        self.tables()
        if self._stats is None:
            raise ValueError(
                "this result has no per-source stats: run the pipeline with keep_payload=True"
            )
        return self._stats

    def points(self) -> Mapping[str, list[dict]]:
        """Metric name -> its data points as the dicts `collect()` +
        `asDict(recursive=True)` give, a lazy view of `tables()`. For
        tests: the encoders and sink writers read `tables()`."""
        if self._points is None:
            tables = self.tables()
            self._points = _Lazy(self.metric_index, lambda name: _table_rows(tables[name]))
        return self._points

    def unpersist(self) -> None:
        """Drop the held tables, stats and rows."""
        self._tables = self._stats = self._points = None


def parse_and_enrich(tokenized: DataFrame, cfg: Config, strict: bool = False) -> DataFrame:
    """Tokenized input -> parsed, enriched records, with the config's
    skip-or-fail on unparseable object keys (app.go:306-313): NoSkip=true
    errors the run at the first bad key; otherwise the file's rows are
    skipped, mirroring the reference's per-file skip."""
    return enrich(decode_and_parse(tokenized, strict=strict),
                  on_bad_key="fail" if cfg.no_skip else "skip")


def run_pipeline(
    spark: SparkSession,
    cfg: Config,
    tokenized: DataFrame,
    strict: bool = False,
    cache: str | None = None,
    keep_payload: bool = True,
) -> PipelineResult:
    """Run every metric config over a tokenized-sequence DataFrame.

    Which rows one invocation aggregates (its trigger object, backfill
    siblings and lateness gate) is `operators.backfill.invocation_rows`'
    job; scope the input with it first.
    `keep_payload` folds the manifest's per-source stats (rows, times and
    tokens per source) into the aggregation.
    `cache` has no effect: the projection is read once, by the one
    aggregation, so nothing is persisted. It is accepted so existing
    callers still run.
    """
    return run_pipeline_parsed(
        spark, cfg, parse_and_enrich(tokenized, cfg, strict=strict), keep_payload=keep_payload
    )


def run_pipeline_parsed(
    spark: SparkSession,
    cfg: Config,
    parsed: DataFrame,
    keep_payload: bool = True,
) -> PipelineResult:
    """Every metric over an already-parsed+enriched record set (shared by
    the tokenized and raw-text sources); options as in run_pipeline. The
    aggregation reads only the columns it references: Catalyst prunes the
    rest down to the scan."""
    cfg.validate_expressions(spark)
    return PipelineResult(
        parsed=parsed,
        points_df=aggregate_points(parsed, cfg, lineage=keep_payload and "source" in parsed.columns),
        metric_index={m.name: i for i, m in enumerate(cfg.metrics)},
    )


def write_sinks(
    result: PipelineResult,
    out_dir: str,
    fmt: str = "parquet",
    partition: str | None = None,
) -> None:
    """Per-metric sink writers (reference sink: OTLP export per resource,
    app.go:230-239 — ours is a table per metric config).

    Each metric's held table (`result.tables()`) is written from the driver
    as one file under `{out_dir}/{sink_dirname(metric)}`, so the write starts
    no Spark job once the tables are collected. Overwrite semantics: the
    sink directory is replaced, or with `partition` (a Hive-style directory
    name such as `_batch_id=3`) only that partition directory, the others
    kept. Files go through the session's Hadoop FileSystem, so every scheme
    Spark's own writer accepts works; each is written under a hidden
    temporary name and renamed into place, so readers never see a partial
    file, and `_SUCCESS` marks the sink root as Spark's writer does.

    `fmt="parquet"` writes the layout Spark's parquet writer gives by
    default: snappy, INT96 timestamps and the Spark schema in the footer,
    so readers see the column types they saw before. `fmt="json"` writes
    JSON lines as Spark's JSON writer does."""
    if fmt not in ("parquet", "json"):
        raise ValueError(f"unsupported sink format {fmt!r}: parquet or json")
    spark = result.parsed.sparkSession
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    root = Path(out_dir)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fname = f"part-00000-{uuid.uuid4()}-c000.{'snappy.parquet' if fmt == 'parquet' else 'json'}"
    for name, table in result.tables().items():
        if fmt == "parquet":
            table = table.replace_schema_metadata({
                "org.apache.spark.version": spark.version,
                "org.apache.spark.sql.parquet.row.metadata": result.sink_schema(name).json(),
            })
            buf = pa.BufferOutputStream()
            pq.write_table(table, buf, compression="snappy", use_deprecated_int96_timestamps=True)
            data = buf.getvalue().to_pybytes()
        else:
            data = _json_lines(table)
        sink = Path(root, sink_dirname(name))
        target = Path(sink, partition) if partition else sink
        fs.delete(target, True)
        tmp = Path(target, f".{fname}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(data)
        finally:
            out.close()
        if not fs.rename(tmp, Path(target, fname)):
            raise OSError(f"could not rename {tmp.toString()} into place")
        fs.create(Path(sink, "_SUCCESS"), True).close()


def _json_lines(table: pa.Table) -> bytes:
    """Spark's JSON writer output for `table`: one object per row in schema
    order, null fields omitted, timestamps as yyyy-MM-dd'T'HH:mm:ss.SSSXXX
    in UTC."""

    def utc(micros: int) -> str:
        return utc_text(micros, "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"

    def drop_nulls(v):
        if isinstance(v, dict):
            return {k: drop_nulls(x) for k, x in v.items() if x is not None}
        if isinstance(v, list):
            return [drop_nulls(x) for x in v]
        return v

    return "".join(
        json.dumps(drop_nulls(row), ensure_ascii=False, separators=(",", ":")) + "\n"
        for row in _table_rows(table, utc)
    ).encode("utf-8")
