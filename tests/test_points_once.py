"""One aggregation per run: the manifest (per-source stats included), the
sink writers and the golden and OTLP encoders share the data points
`PipelineResult` collects once, as Arrow.

Self-contained: synthetic input from the generator and a config from
configs/, no reference testdata."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest

from cflog2otel_spark.config import Config, ConfigError
from cflog2otel_spark.golden import encode_golden, encode_otlp
from cflog2otel_spark.lineage import write_run_manifest
from cflog2otel_spark.pipeline import run_pipeline, sink_dirname, write_sinks
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
    # here export collects, in the caller's thread and so in its job
    # group: the zero-job check above would have seen those jobs
    assert _group_jobs(spark, "points-export2")
    held = res2.points()
    # the manifest reads the held rows and source stats
    manifest2 = _in_group(
        spark, "points-manifest2", lambda: _manifest(spark, res2, str(tmp_path / "b"), "b")
    )
    assert _group_jobs(spark, "points-manifest2") == []
    assert res2.points() is held
    assert manifest2["sink_rows"] == manifest["sink_rows"]
    assert manifest2["sources"] == manifest["sources"]

    for r in (res, res2):
        r.unpersist()
        assert r._points is None and r._tables is None


def test_one_run_starts_at_most_two_jobs(spark, tokenized, tmp_path):
    """The whole product path, run_pipeline -> manifest -> sinks -> golden
    -> OTLP, is one aggregation: at most two Spark jobs (the shuffle map
    stage and the result stage under AQE). The manifest's per-source stats
    come out of it and equal a direct groupBy("source")."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse

    tokenized.count()  # the cached input is not part of the run
    cfg = _mixed_config()

    def run():
        res = run_pipeline(spark, cfg, tokenized)
        manifest = _manifest(spark, res, str(tmp_path / "m"), "m")
        write_sinks(res, str(tmp_path / "sinks"))
        encode_golden(res, cfg)
        encode_otlp(res, cfg)
        res.unpersist()
        return manifest

    manifest = _in_group(spark, "one-run", run)
    assert 1 <= len(_group_jobs(spark, "one-run")) <= 2

    direct = enrich(decode_and_parse(tokenized), on_bad_key="skip").groupBy("source").agg(
        F.count(F.lit(1)).alias("rows"),
        # in the session time zone, UTC, as the manifest writes them
        F.date_format(F.min("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.sum("n_tok").alias("tokens"),
    ).collect()
    assert len(direct) > 1
    assert manifest["sources"] == {
        r["source"]: {
            "source": r["source"], "rows": r["rows"], "min_ts": r["min_ts"],
            "max_ts": r["max_ts"], "tokens": r["tokens"], "status": "done",
        }
        for r in direct
    }
    assert manifest["skew"]["rows_total"] == sum(r["rows"] for r in direct)


def test_source_stats_need_the_payload(spark, tokenized):
    res = run_pipeline(spark, Config.load(f"{CONFIGS}/multi_metrics.json"), tokenized,
                       keep_payload=False)
    assert "stats" not in res.points_df.columns
    assert all(res.tables().values())
    with pytest.raises(ValueError, match="keep_payload=True"):
        res.source_stats()


def _mixed_config() -> Config:
    """Count and Sum (multi_metrics), the 5m custom-bucket Histogram, and a
    Count whose filter matches no line."""
    with open(f"{CONFIGS}/multi_metrics.json") as fh:
        d = json.load(fh)
    with open(f"{CONFIGS}/request_time_histogram_custom_buckets.json") as fh:
        d["metrics"] += json.load(fh)["metrics"]
    d["metrics"].append({"name": "none/matched", "type": "Count",
                         "filter": {"expr": "log.scStatus == 999"}})
    return Config.from_json(d)


@pytest.fixture(scope="module")
def mixed(spark, tokenized):
    cfg = _mixed_config()
    res = run_pipeline(spark, cfg, tokenized)
    yield cfg, res
    res.unpersist()


def _key(row: dict) -> str:
    return json.dumps(row, sort_keys=True, default=repr)


def _rows(df) -> list[dict]:
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=_key)


def _parquet_files(path) -> list[str]:
    return sorted(f for f in glob.glob(f"{path}/**", recursive=True) if f.endswith(".parquet"))


def test_points_keep_the_collect_row_contract(mixed):
    cfg, res = mixed
    for name, df in res.sinks.items():
        # repr keeps the datetime's fold and naive-ness
        assert sorted(map(_key, res.points()[name])) == sorted(map(_key, _rows(df))), name
        assert all(list(r) == df.columns for r in res.points()[name]), name
    assert res.points()["none/matched"] == []


def test_write_sinks_after_points_starts_no_job(spark, mixed, tmp_path):
    cfg, res = mixed
    res.points()
    out = str(tmp_path / "sinks")
    _in_group(spark, "sink-write", lambda: write_sinks(res, out))
    assert _group_jobs(spark, "sink-write") == []
    assert sorted(os.listdir(out)) == sorted(sink_dirname(m.name) for m in cfg.metrics)
    for m in cfg.metrics:
        d = f"{out}/{sink_dirname(m.name)}"
        assert len(_parquet_files(d)) == 1, m.name
        assert os.path.exists(f"{d}/_SUCCESS")
        assert not [f for f in os.listdir(d) if f.endswith(".tmp")]


def test_parquet_sinks_read_back_equal_points(spark, mixed, tmp_path):
    """Spark and DuckDB read our sinks as the rows and schema Spark's own
    parquet writer gives for the same DataFrames; a metric whose filter
    matches nothing writes a readable zero-row file."""
    import duckdb

    cfg, res = mixed
    ours, spark_out = str(tmp_path / "ours"), str(tmp_path / "spark")
    write_sinks(res, ours)
    con = duckdb.connect()
    for name, df in res.sinks.items():
        d = sink_dirname(name)
        df.write.parquet(f"{spark_out}/{d}")
        back, want = spark.read.parquet(f"{ours}/{d}"), spark.read.parquet(f"{spark_out}/{d}")
        assert back.schema == want.schema, name
        assert back.schema.simpleString() == df.schema.simpleString(), name
        assert _rows(back) == _rows(want) == sorted(res.points()[name], key=_key), name
        sql = ("SELECT * EXCLUDE (window_start, window_end), epoch(window_start), "
               "epoch(window_end) FROM read_parquet('{}/{}/*.parquet') ORDER BY ALL")
        assert (con.execute(sql.format(ours, d)).fetchall()
                == con.execute(sql.format(spark_out, d)).fetchall()), name
    assert spark.read.parquet(f"{ours}/{sink_dirname('none/matched')}").count() == 0
    assert len(_parquet_files(f"{ours}/{sink_dirname('none/matched')}")) == 1
    con.close()


def test_json_sinks_read_back_as_spark_json(spark, mixed, tmp_path):
    cfg, res = mixed
    ours, spark_out = str(tmp_path / "ours"), str(tmp_path / "spark")
    write_sinks(res, ours, fmt="json")
    for name, df in res.sinks.items():
        if name == "none/matched":
            continue  # nothing to infer a JSON schema from
        d = sink_dirname(name)
        df.write.json(f"{spark_out}/{d}")
        back, want = spark.read.json(f"{ours}/{d}"), spark.read.json(f"{spark_out}/{d}")
        assert back.schema == want.schema, name
        assert _rows(back) == _rows(want), name
        assert len(glob.glob(f"{ours}/{d}/*.json")) == 1


def test_overwrite_replaces_only_its_own_directory(spark, mixed, tmp_path):
    cfg, res = mixed
    out = str(tmp_path / "sinks")
    d = f"{out}/{sink_dirname(cfg.metrics[0].name)}"
    write_sinks(res, out, partition="_batch_id=0")
    write_sinks(res, out, partition="_batch_id=1")
    first = _parquet_files(f"{d}/_batch_id=0")
    write_sinks(res, out, partition="_batch_id=1")
    assert _parquet_files(f"{d}/_batch_id=0") == first
    assert len(first) == 1 and len(_parquet_files(f"{d}/_batch_id=1")) == 1
    back = spark.read.parquet(d)
    n = len(res.points()[cfg.metrics[0].name])
    assert sorted(r[0] for r in back.groupBy("_batch_id").count().collect()) == [0, 1]
    assert back.count() == 2 * n

    # without a partition the whole sink directory is replaced
    write_sinks(res, out)
    assert len(_parquet_files(d)) == 1
    assert spark.read.parquet(d).count() == n


def test_golden_and_otlp_times_do_not_depend_on_driver_tz(spark, tokenized, mixed, tmp_path):
    """PySpark returns naive datetimes in the driver's local time; the
    golden and OTLP encoders and the run manifest's per-source times do not
    read them, so a non-UTC driver writes the same instants."""
    cfg, res = mixed

    def outputs(r, run_id: str) -> tuple:
        m = _manifest(spark, r, str(tmp_path), run_id)
        return encode_golden(r, cfg), encode_otlp(r, cfg), m["sources"], m["sink_rows"]

    def first_window(r):
        return min(p["window_start"] for p in r.points()[cfg.metrics[0].name])

    want = outputs(res, "utc")
    first = [first_window(res)]
    tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        fresh = run_pipeline(spark, cfg, tokenized)
        try:
            got = outputs(fresh, "new_york")
            first.append(first_window(fresh))
        finally:
            fresh.unpersist()
    finally:
        if tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = tz
        time.tzset()
    assert first[0] != first[1]  # the rows really are in New York time
    assert got == want


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


def test_aggregate_metric_reuses_the_config_validation(spark, tokenized, monkeypatch):
    """aggregate_metric plans an already validated one-metric config with
    no further validation, its sink is the aggregation's `inline(p0)`, and
    a config of more metrics is refused."""
    import cflog2otel_spark.celtrans as celtrans
    from cflog2otel_spark.operators.aggregate import aggregate_metric, aggregate_points
    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse

    multi = Config.load(f"{CONFIGS}/multi_metrics.json")
    cfg = Config.from_json({**multi.to_json(), "metrics": [multi.to_json()["metrics"][1]]})
    cfg.validate_expressions(spark)
    parsed = enrich(decode_and_parse(tokenized), on_bad_key="skip")

    calls = []
    real = celtrans.validate_against_schema

    def counting(spark_, exprs):
        calls.append(exprs)
        return real(spark_, exprs)

    monkeypatch.setattr(celtrans, "validate_against_schema", counting)
    sinks = [aggregate_metric(parsed, cfg) for _ in range(3)]
    assert calls == []

    want = sorted(map(repr, aggregate_points(parsed, multi).selectExpr("inline(p1)").collect()))
    assert want
    assert sorted(map(repr, sinks[1].collect())) == want
    with pytest.raises(ValueError, match="one-metric config, got 2 metrics"):
        aggregate_metric(parsed, multi)


def test_config_attribute_types_match_per_list_probes(spark, tokenized):
    """The attribute types aggregate_points reads off the config's
    validation (against the declared parsed-log schema) are the types the
    expressions have over a real parsed record set."""
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

    def probe(attrs) -> list[str]:
        return [t for _, t in parsed.selectExpr(*(a.value.sql for a in attrs)).dtypes]

    resource, metrics = cfg.attribute_types(spark)
    assert resource == probe(cfg.resource_attributes)
    assert metrics == [probe(m.attributes) for m in cfg.metrics]
    assert metrics[1] == ["bigint", "boolean"]
