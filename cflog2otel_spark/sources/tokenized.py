"""Tokenized-sequence sources.

The production input is an Iceberg table with columns
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)
(BASELINE.json input_hint). `read_tokenized` reads a path as Iceberg when
the session's JVM can load the Iceberg source class, and as parquet
otherwise. It asks the class loader rather than letting
`format("iceberg")` fail: Spark looks an unknown format up in a Python
data-source worker it spawns for the rest of the session, which made a
fresh session's first read ~1.8 s slower. The payload invariant —
per-row token-array equality end-to-end — is enforced by tests and
`verify_token_passthrough`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import tokenized_input_schema

_ICEBERG_SOURCE = "org.apache.iceberg.spark.source.IcebergSource"


def read_tokenized(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the tokenized corpus. Iceberg table name ('db.tbl') or
    parquet path. Filters and column pruning push down either way.
    """
    if "/" not in path_or_table:
        return spark.table(path_or_table)
    if spark.sparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(_ICEBERG_SOURCE):
        try:
            return spark.read.format("iceberg").load(path_or_table)
        except Exception:  # not an Iceberg table: read it as parquet
            pass
    return spark.read.schema(tokenized_input_schema()).parquet(path_or_table)


def lines_to_rows(lines: list[str], source: str) -> list[tuple]:
    """Encode raw log lines as tokenized rows (driver-side, tests/fixtures).

    doc_id = f"{source}:{line_no:08d}" per FIXTURES.md §1.
    """
    rows = []
    for i, line in enumerate(lines):
        toks = list(line.encode("utf-8"))
        rows.append((f"{source}:{i:08d}", toks, len(toks), source))
    return rows


def tokenized_df_from_lines(
    spark: SparkSession, lines: list[str], source: str
) -> DataFrame:
    return spark.createDataFrame(
        lines_to_rows(lines, source), schema=tokenized_input_schema()
    )


def verify_token_passthrough(parsed: DataFrame, original: DataFrame) -> int:
    """Join back on doc_id and count rows whose token arrays differ.
    Must be 0 — the payload invariant (BASELINE.json input_hint).
    """
    a = parsed.select("doc_id", F.col("tokens").alias("tokens_out"))
    b = original.select("doc_id", F.col("tokens").alias("tokens_in"))
    return (
        a.join(b, "doc_id")
        .filter(~F.expr("tokens_out == tokens_in"))
        .count()
    )
