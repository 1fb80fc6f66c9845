"""Tokenized-sequence sources.

The production input is an Iceberg table with columns
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)
(BASELINE.json input_hint). `read_tokenized` falls through format options:
iceberg -> parquet path. Where no `iceberg` data source is on the
classpath, a session finds that out on its first read and reads parquet
directly from then on: the failed lookup costs a small object's read
several times over. The payload invariant — per-row token-array equality
end-to-end — is enforced by tests and `verify_token_passthrough`.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import tokenized_input_schema


# the sessions in which the `iceberg` data source did not resolve
_WITHOUT_ICEBERG: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def read_tokenized(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the tokenized corpus. Iceberg table name ('db.tbl') or
    parquet path. Filters and column pruning push down either way.
    """
    if "/" not in path_or_table:
        return spark.table(path_or_table)
    if spark not in _WITHOUT_ICEBERG:
        try:
            return spark.read.format("iceberg").load(path_or_table)
        except Exception as exc:  # not an Iceberg table: read it as parquet
            if "DATA_SOURCE_NOT_FOUND" in str(exc):
                _WITHOUT_ICEBERG.add(spark)
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
