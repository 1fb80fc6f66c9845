"""Checkpoint-resumable runs: per-partition lineage manifests + metrics.

The unit of work is one `source` (one log object — the same granularity as
the reference's per-S3-notification invocation, app.go:206-241). A run
manifest records, per source: row count, min/max timestamp, and the sink
row counts — enough to (a) resume by skipping completed sources, (b) audit
which inputs fed which windows (lineage), and (c) spot skew (hot sources).

Re-emission is idempotent by construction: delta temporality means a
re-run of a source re-produces exactly its windows' deltas (T4 in
SURVEY.md §2.6); pairing with a dynamic-overwrite sink keyed on
(window_start hour) replaces rather than duplicates.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import utc_text


def skew_metrics(stats: list[dict]) -> dict:
    counts = sorted((s["rows"] for s in stats), reverse=True)
    total = sum(counts) or 1
    return {
        "n_sources": len(counts),
        "rows_total": total,
        "rows_max_source": counts[0] if counts else 0,
        "hot_source_fraction": round(counts[0] / total, 4) if counts else 0.0,
        "top5": [
            {"source": s["source"], "rows": s["rows"]}
            for s in sorted(stats, key=lambda x: -x["rows"])[:5]
        ],
    }


def _utc_or_none(micros: int | None) -> str | None:
    return None if micros is None else utc_text(micros, "%Y-%m-%d %H:%M:%S")


def write_run_manifest(
    spark: SparkSession,
    result,
    manifest_dir: str,
    input_path: str = "",
    run_id: str | None = None,
    elapsed_sec: float | None = None,
) -> int:
    """Write <dir>/manifest_<run_id>.json; returns total input rows.
    Pass the pipeline's wall time as elapsed_sec to record throughput
    alongside the skew metrics.

    `sources` are `result.source_stats()`, times as UTC text whatever the
    driver's TZ, and `sink_rows` counts the rows
    of `result.tables()`: the one aggregation that computes both is
    collected to the driver here and held on the result until
    `unpersist()`, so a later sink write, golden or OTLP encode of the same
    result runs no Spark job. The data points are bounded by windows x
    attribute cardinality, and export sends all of them anyway."""
    os.makedirs(manifest_dir, exist_ok=True)
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    stats = [
        {**s, "min_ts": _utc_or_none(s["min_ts"]), "max_ts": _utc_or_none(s["max_ts"])}
        for s in result.source_stats()
    ]
    sink_counts = {name: t.num_rows for name, t in result.tables().items()}
    total = sum(s["rows"] for s in stats)
    manifest = {
        "run_id": run_id,
        "input_path": input_path,
        "created_unix": int(time.time()),
        "sources": {s["source"]: {**s, "status": "done"} for s in stats},
        "sink_rows": sink_counts,
        "skew": skew_metrics(stats),
        "manifest_build_sec": round(time.time() - t0, 3),
    }
    if elapsed_sec is not None:
        manifest["throughput"] = {
            "elapsed_sec": round(elapsed_sec, 3),
            "rows": total,
            "seq_per_sec": round(total / elapsed_sec, 1) if elapsed_sec > 0 else None,
        }
    path = os.path.join(manifest_dir, f"manifest_{run_id}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2, default=str)
    os.replace(tmp, path)  # atomic publish: a crash never leaves a partial manifest
    return total


def completed_sources(manifest_dir: str) -> set[str]:
    """Union of sources marked done across all manifests in the dir."""
    done: set[str] = set()
    if not os.path.isdir(manifest_dir):
        return done
    for name in os.listdir(manifest_dir):
        if not (name.startswith("manifest_") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(manifest_dir, name)) as fh:
                m = json.load(fh)
        except (json.JSONDecodeError, OSError):
            continue  # partial/corrupt manifest = not done
        for src, info in m.get("sources", {}).items():
            if info.get("status") == "done":
                done.add(src)
    return done


def resume_filter(tokenized: DataFrame, manifest_dir: str) -> DataFrame:
    """Drop sources already completed by previous runs. The predicate is a
    literal IN-list on `source` — with a source-partitioned layout this is
    partition pruning, so a resumed job reads only the remaining slice."""
    done = completed_sources(manifest_dir)
    if not done:
        return tokenized
    return tokenized.filter(~F.col("source").isin(sorted(done)))
