"""One aggregation per metric per run: the manifest, golden and OTLP
encoders share the data points `PipelineResult.points()` collects once.

Self-contained: synthetic input from the generator and a config from
configs/, no reference testdata."""

from __future__ import annotations

import json
import os

import pytest

from cflog2otel_spark.config import Config, ConfigError
from cflog2otel_spark.golden import encode_golden, encode_otlp
from cflog2otel_spark.lineage import write_run_manifest
from cflog2otel_spark.pipeline import run_pipeline
from cflog2otel_spark.sources.generator import generate_tokenized

from .conftest import CONFIGS


def _group_jobs(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc._jsc.clearJobGroup()


def _manifest(spark, res, out_dir: str, run_id: str) -> dict:
    write_run_manifest(spark, res, out_dir, run_id=run_id)
    with open(os.path.join(out_dir, f"manifest_{run_id}.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def tokenized(spark):
    tok = generate_tokenized(spark, 2_000, seed=7, n_hours=1, rows_per_file=500).cache()
    yield tok
    tok.unpersist()


def test_manifest_and_export_share_one_collect(spark, tokenized, tmp_path):
    cfg = Config.load(f"{CONFIGS}/multi_metrics.json")

    res = run_pipeline(spark, cfg, tokenized)
    manifest = _in_group(
        spark, "points-manifest", lambda: _manifest(spark, res, str(tmp_path / "a"), "a")
    )
    otlp, golden = _in_group(
        spark, "points-export", lambda: (encode_otlp(res, cfg), encode_golden(res, cfg))
    )
    assert _group_jobs(spark, "points-export") == []

    counts = {name: df.count() for name, df in res.sinks.items()}
    assert manifest["sink_rows"] == counts
    assert all(counts.values())

    # the golden trees hold exactly each sink's collect(); every attribute
    # of multi_metrics.json is a string
    def attrs(pairs):
        return json.dumps([{"Key": p["key"], "Value": {"Type": "STRING", "Value": p["value"]}}
                           for p in pairs])

    ours = sorted(
        (metric["Name"], json.dumps(tree["Resource"]), dp["StartTime"],
         json.dumps(dp["Attributes"]), dp["Value"])
        for tree in golden
        for metric in tree["ScopeMetrics"][0]["Metrics"]
        for dp in metric["Data"]["DataPoints"]
    )
    theirs = sorted(
        (name, attrs(r["resource_attrs"]), r["window_start"].strftime("%Y-%m-%dT%H:%M:%SZ"),
         attrs(r["attrs"]), r["value"])
        for name, df in res.sinks.items()
        for r in df.collect()
    )
    assert ours == theirs
    n_otlp = sum(
        len(m["Data"]["Sum"]["data_points"])
        for req in otlp for rm in req["resource_metrics"]
        for sm in rm["scope_metrics"] for m in sm["metrics"]
    )
    assert n_otlp == sum(counts.values())

    # a second, independent result with export before the manifest
    res2 = run_pipeline(spark, cfg, tokenized)
    assert _in_group(
        spark, "points-export2", lambda: (encode_otlp(res2, cfg), encode_golden(res2, cfg))
    ) == (otlp, golden)
    # here export collects, on pool threads that carry the caller's job
    # group, so the zero-job check above would have seen those jobs
    assert _group_jobs(spark, "points-export2")
    held = res2.points()
    # the manifest still runs its per-source stats, but counts the held rows
    manifest2 = _manifest(spark, res2, str(tmp_path / "b"), "b")
    assert res2.points() is held
    assert manifest2["sink_rows"] == manifest["sink_rows"]

    for r in (res, res2):
        r.unpersist()
        assert r._points is None


def test_validation_is_memoized_only_on_success(spark, monkeypatch):
    import cflog2otel_spark.celtrans as celtrans

    calls = []
    real = celtrans.validate_against_schema

    def counting(spark_, exprs):
        calls.append(exprs)
        return real(spark_, exprs)

    monkeypatch.setattr(celtrans, "validate_against_schema", counting)

    cfg = Config.load(f"{CONFIGS}/multi_metrics.json")
    cfg.validate_expressions(spark)
    cfg.validate_expressions(spark)
    assert len(calls) == 1

    bad = Config.from_json({
        "scope": {"name": "test"},
        "metrics": [{"name": "m", "type": "Count", "filter": {"expr": "log.scBytes"}}],
    })
    for _ in range(2):
        with pytest.raises(ConfigError, match="filter must be boolean"):
            bad.validate_expressions(spark)
    assert len(calls) == 3


def test_config_attribute_types_match_per_list_probes(spark, tokenized):
    from cflog2otel_spark.operators.aggregate import attribute_types, config_attribute_types
    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse

    cfg = Config.from_json({
        "resource_attributes": [{"key": "svc", "value": "cf"}],
        "scope": {"name": "test"},
        "metrics": [
            {"name": "plain", "type": "Count"},
            {"name": "typed", "type": "Count", "attributes": [
                {"key": "status", "value": {"expr": "log.scStatus"}},
                {"key": "big", "value": {"expr": "log.scBytes > 1000"}},
            ]},
            {"name": "bytes", "type": "Sum", "value": {"expr": "double(log.scBytes)"},
             "attributes": [{"key": "cat", "value": {"expr": "log.scStatusCategory"}}]},
        ],
    })
    parsed = enrich(decode_and_parse(tokenized), on_bad_key="skip")
    types = config_attribute_types(parsed, cfg)
    assert types.resource == attribute_types(parsed, cfg.resource_attributes)
    assert types.metrics == {m.name: attribute_types(parsed, m.attributes) for m in cfg.metrics}
    assert types.metrics["typed"] == ["INT64", "BOOL"]
