"""Distributed source for raw CloudFront standard-log text files (.gz or
plain), the reference's native input (S1/S2/P1 in SURVEY.md §2).

Header handling mirrors ParseCloudFrontLog (cloudfront_std_log.go:279-331):
each file's `#Fields:` directive binds columns positionally and may differ
between files. Strategy:

  1. driver-side header sniff: read only the first 64 KiB of each file
     (gzip streams decompress incrementally — no full download) to get its
     field order; tiny metadata pass, like the reference's header read.
  2. group files by identical header; ONE distributed scan per header
     group (`spark.read.text(paths)`), comment lines filtered, positional
     parse with that group's field order; groups union.

One header for the whole dataset (the overwhelmingly common case) costs a
single scan. A file without a `#Fields:` directive parses under the
canonical v1.0 header. Gzip decompression is Spark-native by extension
(S2's magic-byte sniff is unnecessary — extensions are authoritative for
CF logs).
"""

from __future__ import annotations

import gzip
import io
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.parse import parse_cf_lines


# bytes of a file's head searched for its `#Fields:` directive
_HEAD_BYTES = 65536


def sniff_header(path: str) -> list[str]:
    """Field order from a file's #Fields: directive (driver-side, bounded
    read). Empty list if no directive found in the head."""
    opener = gzip.open if path.endswith(".gz") else open
    try:
        with opener(path, "rb") as fh:
            head = fh.read(_HEAD_BYTES)
    except OSError:
        return []
    for raw in io.BytesIO(head).read().decode("utf-8", "replace").split("\n"):
        if raw.startswith("#Fields:"):
            return raw[len("#Fields:") :].strip().split(" ")
    return []


def read_cf_text(spark: SparkSession, paths: list[str], strict: bool = False) -> DataFrame:
    """Parsed log records from raw CF log files, with a `source` column
    (the file's URI) feeding the same enrichment as the tokenized path."""
    groups: dict[tuple, list[str]] = {}
    for p in paths:
        groups.setdefault(tuple(sniff_header(p)), []).append(p)

    parts: list[DataFrame] = []
    for hdr, files in groups.items():
        raw = (
            spark.read.text(files)
            .withColumn("source", F.input_file_name())
            .filter(~F.col("value").startswith("#"))
            .filter(F.col("value") != "")
            .withColumnRenamed("value", "line")
        )
        parts.append(parse_cf_lines(raw, field_order=list(hdr) or None, strict=strict))
    if not parts:
        raise ValueError("no input files")
    return reduce(DataFrame.unionByName, parts)


def object_files(paths: list[str], keys) -> dict[str, str]:
    """Object key -> the one of `paths` it names: the path equals the key
    or ends with `/<key>`. A key that names no path is left out; a key
    that names several is an error."""
    out = {}
    for key in sorted(keys):
        named = [p for p in paths if p == key or p.endswith(f"/{key}")]
        if len(named) > 1:
            raise ValueError(f"object key {key!r} names {len(named)} of the input files: {named}")
        if named:
            out[key] = named[0]
    return out
