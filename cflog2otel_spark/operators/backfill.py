"""Invocation scoping and the backfill gates (reference: app.go:322-368).

One invocation is one S3 record: the trigger object X, its event time and,
with backfill on, the listing of X's siblings. `invocation_rows` returns
the rows it aggregates. For an object key {prefix}{distID}.{datehour}.{hash}.gz
with backfill enabled and tolerance T:

  - ALL lines of X are kept (no line gate on the trigger object).
  - Sibling objects sharing {prefix}{distID}.{datehour}. are re-read iff
    eventTime - lastModified <= T   (object-level gate, app.go:341-344).
  - Within a re-read sibling, a line is kept iff
    eventTime - line.timestamp <= T (line-level gate, app.go:354-361).
  - Objects under a different (distID, datehour) prefix are out of scope
    (the ListObjectsV2 prefix).

Times without an offset are UTC; times with one are converted to UTC.

Spark mapping: the object manifest (source -> last_modified) is tiny and
stays on the driver; selection is a single filter over the corpus — with an
Iceberg / parquet layout partitioned by source, the IN-list on eligible
sources becomes partition pruning, so a backfill invocation reads exactly one
(distID, datehour) slice of a 100 TB table. Re-emission per invocation is
idempotent-by-window (delta temporality; T4 in SURVEY.md §2.6) — pair with
a dynamic-overwrite sink keyed on (window, source-hour).
"""

from __future__ import annotations

import calendar
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from ..celtrans import sql_literal, sql_str
from ..config import BackfillConfig


def _key_parts(key: str) -> tuple[str, str, str] | None:
    """(prefix, distID, datehour) of an object key, None if unparseable
    (mirrors ParseCFStandardLogObjectKey, app.go:434-450)."""
    if not key.endswith(".gz"):
        return None
    slash = key.rfind("/")
    prefix, base = key[: slash + 1], key[slash + 1 : -3]
    parts = base.split(".", 2)
    if len(parts) != 3:
        return None
    return prefix, parts[0], parts[1]


def _utc(t: str | datetime) -> datetime:
    """`t` (a datetime or ISO 8601 text) as an aware UTC datetime; a time
    without an offset is read as UTC."""
    dt = t if isinstance(t, datetime) else datetime.fromisoformat(str(t))
    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt.astimezone(timezone.utc)


def line_gate(event_time: str | datetime, tolerance_seconds: float) -> str:
    """The line-level lateness gate (app.go:354-361) as a SQL predicate:
    eventTime - timestamp <= T, both read in whole seconds as
    `unix_timestamp` does."""
    ev = calendar.timegm(_utc(event_time).utctimetuple())
    return (
        f"`timestamp` IS NOT NULL AND "
        f"{ev} - unix_timestamp(`timestamp`) <= {sql_literal(float(tolerance_seconds))}"
    )


def backfill_select(
    parsed: DataFrame,
    trigger_source: str,
    event_time: str | datetime,
    tolerance_seconds: float,
    last_modified: dict[str, str | datetime],
) -> DataFrame:
    """Select the rows one backfill-enabled invocation would aggregate.

    `last_modified` maps every candidate object key -> its LastModified
    timestamp (the listing manifest; trigger may be included or not).
    """
    kp = _key_parts(trigger_source)
    if kp is None:
        # unparseable trigger key -> skip the file (app.go:306-313)
        return parsed.limit(0)
    prefix, dist, datehour = kp
    sibling_prefix = f"{prefix}{dist}.{datehour}."

    # object-level gate, driver-side (the manifest is small metadata)
    ev = _utc(event_time)
    eligible = [
        src
        for src, lm in last_modified.items()
        if src != trigger_source
        and src.startswith(sibling_prefix)
        and (ev - _utc(lm)).total_seconds() <= tolerance_seconds
    ]
    keep = f"`source` = {sql_str(trigger_source)}"
    if eligible:
        siblings = ", ".join(sql_str(s) for s in eligible)
        keep += f" OR (`source` IN ({siblings}) AND {line_gate(ev, tolerance_seconds)})"
    return parsed.where(keep)


def invocation_rows(
    parsed: DataFrame,
    backfill: BackfillConfig,
    trigger: str | None = None,
    event_time: str | datetime | None = None,
    manifest: dict[str, str | datetime] | None = None,
) -> DataFrame:
    """The rows one invocation aggregates:

      - with a `trigger`, its own rows, plus the siblings `backfill_select`
        admits when backfill is on and both a `manifest` and a non-empty
        `event_time` are given;
      - with no trigger, the whole input, line-gated when backfill is on
        and an `event_time` is given.
    """
    tol = backfill.time_tolerance_seconds
    if trigger is None:
        if backfill.enabled and event_time:
            return parsed.where(line_gate(event_time, tol))
        return parsed
    if backfill.enabled and manifest is not None and event_time:
        return backfill_select(parsed, trigger, event_time, tol, manifest)
    return parsed.where(f"`source` = {sql_str(trigger)}")


def manifest_from_listing(base_dir: str) -> dict[str, str]:
    """Build the backfill manifest (object key -> LastModified) from a
    local directory listing — the deployment stand-in for the reference's
    ListObjectsV2 flow (app.go:322-336): keys are the paths of the `.gz`
    files relative to `base_dir`, LastModified is the file mtime (UTC). An
    Iceberg deployment derives the same map from snapshot file metadata;
    an S3 one from the real listing. Driver-side: the manifest is tiny object metadata, never
    row data."""
    import os

    out: dict[str, str] = {}
    for root, _dirs, files in os.walk(base_dir):
        for f in files:
            if not f.endswith(".gz"):
                continue
            full = os.path.join(root, f)
            key = os.path.relpath(full, base_dir)
            mt = datetime.fromtimestamp(os.path.getmtime(full), tz=timezone.utc)
            out[key] = mt.strftime("%Y-%m-%d %H:%M:%S")
    return out
