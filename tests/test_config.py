"""Negative config tests, mirroring /root/reference/config_test.go:34-51."""

import json

import pytest

from cflog2otel_spark.config import Config, ConfigError, parse_duration

from .conftest import REPO


def _base(metric):
    return {"resource_attributes": [], "metrics": [metric]}


def test_unknown_top_level_field():
    with pytest.raises(ConfigError, match="unknown field"):
        Config.from_json({"metrics": [{"name": "x"}], "bogus": 1})


def test_cel_in_non_cel_field():
    with pytest.raises(ConfigError, match="cannot use CEL native function"):
        Config.from_json(_base({"name": {"expr": "log.csHost"}}))


def test_invalid_cel_variable():
    with pytest.raises(ConfigError, match="unknown"):
        Config.from_json(_base({"name": "x", "filter": {"expr": "log.nope == 1"}}))


def test_sum_requires_value():
    with pytest.raises(ConfigError, match="value is required"):
        Config.from_json(_base({"name": "x", "type": "Sum"}))


def test_histogram_requires_value():
    with pytest.raises(ConfigError, match="value is required"):
        Config.from_json(_base({"name": "x", "type": "Histogram"}))


def test_boundaries_strictly_increasing():
    with pytest.raises(ConfigError, match="strictly increasing"):
        Config.from_json(
            _base(
                {
                    "name": "x",
                    "type": "Histogram",
                    "value": {"expr": "log.timeTaken"},
                    "boundaries": [0, 5, 5],
                }
            )
        )


def test_type_case_insensitive_and_default():
    c = Config.from_json(_base({"name": "x", "type": "count"}))
    assert c.metrics[0].type == "Count"
    c = Config.from_json(_base({"name": "x"}))
    assert c.metrics[0].type == "Count"  # zero value default
    with pytest.raises(ConfigError, match="invalid type"):
        Config.from_json(_base({"name": "x", "type": "Gauge"}))


def test_interval_default_and_min():
    c = Config.from_json(_base({"name": "x"}))
    assert c.metrics[0].interval_seconds == 60.0  # default 1m (config.go:133-135)
    with pytest.raises(ConfigError, match=">= 1ms"):
        Config.from_json(_base({"name": "x", "interval": "500us"}))


def test_default_boundaries():
    c = Config.from_json(
        _base({"name": "x", "type": "Histogram", "value": {"expr": "log.timeTaken"}})
    )
    assert c.metrics[0].boundaries == [
        0, 5, 10, 25, 50, 75, 100, 250, 500, 750, 1000, 2500, 5000, 7500, 10000,
    ]


def test_count_ignores_value_with_warning(caplog):
    c = Config.from_json(
        _base({"name": "x", "type": "Count", "value": {"expr": "double(log.scBytes)"}})
    )
    assert c.metrics[0].value is None


def test_switch_validation():
    attr = lambda sw: _base(
        {"name": "x", "attributes": [{"key": "k", "value": {"switch": sw}}]}
    )
    with pytest.raises(ConfigError, match="multiple defaults"):
        Config.from_json(attr([{"case": {"expr": "true"}, "value": "a"},
                               {"default": "x"}, {"default": "y"}]))
    with pytest.raises(ConfigError, match="value or value_expr"):
        Config.from_json(attr([{"case": {"expr": "true"}}]))
    with pytest.raises(ConfigError, match="missing case"):
        Config.from_json(attr([{"value": "a"}]))


def test_durations():
    assert parse_duration("1m") == 60
    assert parse_duration("30m") == 1800
    assert parse_duration("1h30m") == 5400
    assert parse_duration("1.5s") == 1.5
    assert parse_duration("100ms") == 0.1
    with pytest.raises(ConfigError):
        parse_duration("5 lightyears")


@pytest.mark.parametrize(
    "text,seconds",
    [("0", 0.0), ("+0", 0.0), (".5h", 1800.0), ("1.h", 3600.0), ("1h30m", 5400.0),
     ("300ms", 0.3), ("1µs", 1e-6), ("1μs", 1e-6)],  # µ U+00B5, μ U+03BC
)
def test_durations_go_accepts(text, seconds):
    """Go time.ParseDuration's cases, for the config and for CEL alike."""
    from cflog2otel_spark.celtrans import translate

    assert parse_duration(text) == pytest.approx(seconds)
    assert translate(f'duration("{text}")') == f"make_dt_interval(0, 0, 0, {parse_duration(text)!r})"


@pytest.mark.parametrize("text", ["", "+", "-", "1", ".s"])
def test_durations_go_rejects(text):
    from cflog2otel_spark.celtrans import CELTranslationError, translate

    with pytest.raises(ConfigError, match="invalid duration"):
        parse_duration(text)
    with pytest.raises(CELTranslationError, match="invalid duration"):
        translate(f'duration("{text}")')


def test_backfill_defaults():
    c = Config.from_json(
        {"metrics": [{"name": "x"}], "backfill": {"enabled": True}}
    )
    assert c.backfill.time_tolerance_seconds == 3600.0  # config.go:329-331


def test_switch_zero_values():
    """No-match-no-default returns the typed Go zero value (cel.go:239-292):
    NULL for attributes (any -> nil, dropped per app.go:415-424), false for
    filter (bool), 0.0 for value (float64)."""
    c = Config.from_json(_base({
        "name": "x",
        "type": "Sum",
        "value": {"switch": [{"case": {"expr": "log.scStatus >= 500"}, "value": 1.5}]},
        "filter": {"switch": [{"case": {"expr": "log.scStatus >= 200"}, "value": True}]},
        "attributes": [{"key": "k", "value": {"switch": [
            {"case": {"expr": "log.scStatus >= 500"}, "value": "err"}]}}],
    }))
    m = c.metrics[0]
    assert m.value.sql.endswith("ELSE CAST(0.0 AS DOUBLE) END)")
    assert m.filter.sql.endswith("ELSE false END)")
    assert m.attributes[0].value.sql.endswith("THEN 'err' END)")  # no ELSE -> NULL


def test_render_config_cli():
    """--render-config parity (cmd/cflog2otel/main.go:47,61-68): the
    reference marshals the LOADED Config struct, i.e. with Validate's
    defaults applied (interval '' -> '1m', Histogram boundary defaults) —
    not the raw evaluated jsonnet (ADVICE r3)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "main.py",
         "--config", "/root/reference/testdata/switch_case.jsonnet",
         "--render-config"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    doc = json.loads(proc.stdout)
    from cflog2otel_spark.config import Config

    assert doc == Config.load("/root/reference/testdata/switch_case.jsonnet").to_json()
    # defaults applied: every metric renders a concrete interval
    for m in doc["metrics"]:
        assert m.get("interval")
    # the printed document is exactly what Config.from_json accepts, and
    # loading it again is a fixed point (defaults already applied)
    assert Config.from_json(doc).to_json() == doc
    # omitempty parity (ADVICE r4): AggregationType is an int tagged
    # `json:"type,omitempty"` with Count == 0 (config.go:56,
    # aggregation_type.go:8), so Go drops "type" for Count metrics even
    # though switch_case.jsonnet wrote type:'Count' explicitly.
    cfg = Config.load("/root/reference/testdata/switch_case.jsonnet")
    assert any(m.type == "Count" for m in cfg.metrics)
    for m_json, m_cfg in zip(doc["metrics"], cfg.metrics):
        if m_cfg.type == "Count":
            assert "type" not in m_json
        else:
            assert m_json["type"] == m_cfg.type


def test_render_applies_histogram_defaults():
    from cflog2otel_spark.config import DEFAULT_BOUNDARIES, Config

    cfg = Config.from_json({
        "scope": {"name": "s"},
        "metrics": [
            {"name": "h", "type": "Histogram", "value": {"expr": "log.timeTaken"}},
        ],
    })
    doc = cfg.to_json()
    assert doc["metrics"][0]["boundaries"] == list(DEFAULT_BOUNDARIES)
    assert doc["metrics"][0]["interval"] == "1m"
    # non-histogram metrics do NOT invent boundaries (Go only mutates the
    # Histogram path, config.go:167-170)
    cfg2 = Config.from_json({"scope": {"name": "s"}, "metrics": [{"name": "c"}]})
    assert "boundaries" not in cfg2.to_json()["metrics"][0]
    # CELCapable raw forms round-trip verbatim
    cfg3 = Config.from_json({
        "scope": {"name": "s"},
        "metrics": [{"name": "f", "filter": {"expr": "log.scStatus >= 500"}}],
    })
    assert cfg3.to_json()["metrics"][0]["filter"] == {"expr": "log.scStatus >= 500"}
