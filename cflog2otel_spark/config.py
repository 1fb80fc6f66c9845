"""Config model — the "query plan" the user writes.

Mirrors the reference's typed config (/root/reference/config.go:18-66) with
the same defaults and validation rules:
  - metrics[].name required                      (config.go:124-126)
  - interval: duration string, default "1m"      (config.go:133-135), min 1ms
    (config.go:140-142)
  - type enum Count|Sum|Histogram, case-insensitive, default Count
    (aggregation_type.go:7-11, aggregationtype_enumer.go:52-61)
  - Count ignores `value` with a warning         (config.go:145-148)
  - Sum / Histogram require `value`              (config.go:149-152, :163-166)
  - histogram boundaries default to the OTel 15-bound set (config.go:161,
    :167-170) and must be strictly increasing    (config.go:171-183)
  - strict unknown-field rejection everywhere    (config.go:81-82, :192-254)
  - CEL expression in a non-CEL-capable field is a bespoke error
    (config.go:204-233)

We accept plain JSON (jsonnet is load-time sugar in the reference; its
`cel()` / `switch()` natives emit exactly the {"expr": ...} /
{"switch": [...]} shapes we accept — jsonnet.go:157-233).

CEL-capable values (cel.go:139-220) may be:
  - a JSON literal                      -> SQL literal
  - {"expr": "<cel>"}                   -> translated Spark SQL expression
  - {"switch": [{case,value|value_expr}...,{default|default_expr}?]}
                                        -> CASE WHEN chain (cel.go:257-291)
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field
from typing import Any

from .celtrans import CELTranslationError, parse_go_duration, sql_literal, translate

logger = logging.getLogger(__name__)

# OTel SDK default histogram boundaries (config.go:161)
DEFAULT_BOUNDARIES = [
    0.0, 5.0, 10.0, 25.0, 50.0, 75.0, 100.0, 250.0, 500.0, 750.0,
    1000.0, 2500.0, 5000.0, 7500.0, 10000.0,
]

AGGREGATION_TYPES = ("Count", "Sum", "Histogram")


class ConfigError(ValueError):
    pass


def parse_duration(s: str) -> float:
    """Go-style duration string -> seconds (e.g. '1m', '30m', '1h30m'),
    by celtrans.parse_go_duration."""
    try:
        return parse_go_duration(s)
    except ValueError as exc:
        raise ConfigError(str(exc)) from exc


@dataclass
class CELCapable:
    """A config value that is a literal, a CEL expr, or a switch.

    `sql` is the translated Spark SQL expression string; `raw` keeps the
    original JSON value so a loaded config serializes back to its source
    form — exactly what the reference's CELCapable.MarshalJSON does
    (cel.go:135-137 returns the raw bytes verbatim).
    """

    sql: str
    is_literal: bool = False
    literal: Any = None
    # render-only state: two configs with the same compiled behavior are
    # EQUAL even if their source spelling differs (jsonnet vs ported JSON)
    raw: Any = field(default=None, compare=False)

    @classmethod
    def from_json(
        cls, v: Any, where: str, allow_cel: bool = True, switch_zero: str | None = None
    ) -> "CELCapable":
        if isinstance(v, dict):
            if not allow_cel:
                # mirrors config.go:204-233
                raise ConfigError(f"cannot use CEL native function in {where}")
            keys = set(v.keys())
            if keys == {"expr"}:
                try:
                    return cls(sql=translate(v["expr"]), raw=v)
                except CELTranslationError as exc:
                    raise ConfigError(f"{where}: {exc}") from exc
            if keys == {"switch"}:
                return cls(sql=_switch_to_sql(v["switch"], where, switch_zero), raw=v)
            raise ConfigError(f"{where}: unknown object shape {sorted(keys)}")
        return cls(sql=_value_sql(v, where), is_literal=True, literal=v, raw=v)


def _switch_to_sql(cases: Any, where: str, zero_sql: str | None = None) -> str:
    """switch -> CASE WHEN; first true case wins, <=1 default. With no match
    and no default the reference returns the Go zero value of the field's
    type parameter (cel.go:239-292, `return expr.switchDefault`):
      - attributes are CELCapable[any] (config.go:42) -> zero is nil, and
        ToAttributes drops nil values (app.go:415-424) -> SQL NULL, dropped
        by the aggregation layer (zero_sql=None)
      - filter is CELCapable[bool] (config.go:58) -> false
      - value is CELCapable[float64] (config.go:59) -> 0.0 (the row still
        aggregates, contributing 0)
    Structure rules per cel.go:111-122, :168-219.
    """
    if not isinstance(cases, list) or not cases:
        raise ConfigError(f"{where}: switch must be a non-empty array")
    whens: list[tuple[str, str]] = []
    default_sql: str | None = None
    for i, c in enumerate(cases):
        if not isinstance(c, dict):
            raise ConfigError(f"{where}: switch[{i}] must be an object")
        keys = set(c.keys())
        if "default" in keys or "default_expr" in keys:
            if default_sql is not None:
                raise ConfigError(f"{where}: multiple defaults in switch")
            if keys == {"default"}:
                default_sql = _value_sql(c["default"], f"{where}.switch[{i}].default")
            elif keys == {"default_expr"}:
                default_sql = translate(c["default_expr"])
            else:
                raise ConfigError(f"{where}: switch[{i}] default with extra keys")
            continue
        if "case" not in keys:
            raise ConfigError(f"{where}: switch[{i}] missing case")
        cond = c["case"]
        if isinstance(cond, dict) and set(cond.keys()) == {"expr"}:
            cond_sql = translate(cond["expr"])
        elif isinstance(cond, str):
            cond_sql = translate(cond)
        else:
            raise ConfigError(f"{where}: switch[{i}].case must be a CEL expression")
        if keys == {"case", "value"}:
            val_sql = _value_sql(c["value"], f"{where}.switch[{i}].value")
        elif keys == {"case", "value_expr"}:
            val_sql = translate(c["value_expr"])
        else:
            raise ConfigError(f"{where}: switch[{i}] needs value or value_expr")
        whens.append((cond_sql, val_sql))
    if not whens:
        raise ConfigError(f"{where}: switch has no cases")
    parts = " ".join(f"WHEN {c} THEN {v}" for c, v in whens)
    if default_sql is None:
        default_sql = zero_sql  # typed zero value; None -> SQL NULL
    tail = f" ELSE {default_sql}" if default_sql is not None else ""
    return f"(CASE {parts}{tail} END)"


def _value_sql(v: Any, where: str) -> str:
    if isinstance(v, dict):
        if set(v.keys()) == {"expr"}:
            return translate(v["expr"])
        raise ConfigError(f"{where}: unexpected object")
    try:
        return sql_literal(v)
    except CELTranslationError as exc:
        raise ConfigError(f"{where}: {exc}") from exc


def _check_fields(d: dict, allowed: set[str], where: str) -> None:
    unknown = set(d.keys()) - allowed
    if unknown:
        # mirrors DisallowUnknownFields (config.go:81-82)
        raise ConfigError(f"{where}: unknown field(s) {sorted(unknown)}")


@dataclass
class AttributeConfig:
    key: str
    value: CELCapable

    @classmethod
    def from_json(cls, d: Any, where: str) -> "AttributeConfig":
        if not isinstance(d, dict):
            raise ConfigError(f"{where}: attribute must be an object")
        _check_fields(d, {"key", "value"}, where)
        if not d.get("key"):
            raise ConfigError(f"{where}: attribute key is required")  # config.go:235-239
        if "value" not in d:
            raise ConfigError(f"{where}: attribute value is required")  # config.go:240-243
        return cls(key=d["key"], value=CELCapable.from_json(d["value"], f"{where}.value"))

    def to_json(self) -> dict:
        return {"key": self.key, "value": self.value.raw}


@dataclass
class MetricsConfig:
    name: str
    description: str = ""
    unit: str = ""
    type: str = "Count"
    interval_seconds: float = 60.0
    attributes: list[AttributeConfig] = field(default_factory=list)
    filter: CELCapable | None = None
    value: CELCapable | None = None
    is_monotonic: bool = False
    is_cumulative: bool = False
    boundaries: list[float] = field(default_factory=lambda: list(DEFAULT_BOUNDARIES))
    no_min_max: bool = False
    # render-fidelity state: the interval string after Validate's "" -> "1m"
    # defaulting (config.go:133-135) and the user's raw boundaries (Go only
    # mutates Boundaries for Histogram metrics, config.go:167-170)
    interval_raw: str = field(default="1m", compare=False)
    boundaries_raw: list[float] | None = field(default=None, compare=False)

    @classmethod
    def from_json(cls, d: Any, where: str) -> "MetricsConfig":
        if not isinstance(d, dict):
            raise ConfigError(f"{where}: metric must be an object")
        _check_fields(
            d,
            {
                "name", "description", "interval", "unit", "type", "attributes",
                "filter", "value", "is_monotonic", "is_cumulative", "boundaries",
                "no_min_max", "emit_zero",  # emit_zero: dead field (config.go:64)
            },
            where,
        )
        name = d.get("name")
        if isinstance(name, dict):
            # bespoke error for cel()/switch() in a non-CEL-capable field
            # (config.go:204-233; config_test.go:40)
            raise ConfigError(f"cannot use CEL native function in {where}.name")
        if not isinstance(name, str) or not name:
            raise ConfigError(f"{where}: metric name is required")  # config.go:124-126

        mtype = d.get("type", "Count") or "Count"
        canon = {t.lower(): t for t in AGGREGATION_TYPES}
        if str(mtype).lower() not in canon:
            raise ConfigError(f"{where}: invalid type {mtype!r}")
        mtype = canon[str(mtype).lower()]

        interval = parse_duration(d.get("interval", "1m") or "1m")
        if interval < 0.001:
            raise ConfigError(f"{where}: interval must be >= 1ms")  # config.go:140-142

        attrs = [
            AttributeConfig.from_json(a, f"{where}.attributes[{i}]")
            for i, a in enumerate(d.get("attributes", []) or [])
        ]
        filt = (
            CELCapable.from_json(d["filter"], f"{where}.filter", switch_zero="false")
            if d.get("filter") is not None
            else None
        )
        value = (
            CELCapable.from_json(
                d["value"], f"{where}.value", switch_zero="CAST(0.0 AS DOUBLE)"
            )
            if d.get("value") is not None
            else None
        )

        if mtype == "Count" and value is not None:
            logger.warning("%s: value is ignored for Count metrics", where)  # config.go:145-148
            value = None
        if mtype in ("Sum", "Histogram") and value is None:
            raise ConfigError(f"{where}: value is required for {mtype} metrics")

        raw_bounds = d.get("boundaries")
        bounds = raw_bounds
        if mtype == "Histogram":
            if not bounds:
                bounds = list(DEFAULT_BOUNDARIES)  # config.go:167-170
            bounds = [float(b) for b in bounds]
            for lo, hi in zip(bounds, bounds[1:]):
                if hi <= lo:
                    raise ConfigError(
                        f"{where}: boundaries must be strictly increasing"
                    )  # config.go:171-183
        else:
            bounds = list(DEFAULT_BOUNDARIES)

        return cls(
            name=name,
            description=d.get("description", "") or "",
            unit=d.get("unit", "") or "",
            type=mtype,
            interval_seconds=interval,
            attributes=attrs,
            filter=filt,
            value=value,
            is_monotonic=bool(d.get("is_monotonic", False)),
            is_cumulative=bool(d.get("is_cumulative", False)),
            boundaries=bounds,
            no_min_max=bool(d.get("no_min_max", False)),
            interval_raw=str(d.get("interval") or "1m"),
            boundaries_raw=(
                bounds if mtype == "Histogram"
                else ([float(b) for b in raw_bounds] if raw_bounds else None)
            ),
        )

    @property
    def temporality(self) -> str:
        # label only; no cross-run accumulation (aggregation.go:152-155)
        return "CumulativeTemporality" if self.is_cumulative else "DeltaTemporality"

    def to_json(self) -> dict:
        """Defaults-applied JSON form, matching what the reference's
        `json.Marshal(cfg)` emits after Validate mutated the struct
        (interval defaulted to "1m", Histogram boundaries filled in):
        field order per the Go struct tags, omitempty semantics, CELCapable
        values rendered as their raw source form."""
        out: dict[str, Any] = {"name": self.name}
        if self.description:
            out["description"] = self.description
        out["interval"] = self.interval_raw
        if self.unit:
            out["unit"] = self.unit
        # The reference marshals AggregationType as an int with
        # `json:"type,omitempty"` (config.go:56) and Count is the zero
        # value (aggregation_type.go:8), so Go's -render-config DROPS the
        # key for Count metrics even when the source wrote type:'Count'
        # (as switch_case.jsonnet does). Mirror that omitempty behavior.
        if self.type != "Count":
            out["type"] = self.type
        if self.attributes:
            out["attributes"] = [a.to_json() for a in self.attributes]
        if self.filter is not None:
            out["filter"] = self.filter.raw
        if self.value is not None:
            out["value"] = self.value.raw
        if self.is_monotonic:
            out["is_monotonic"] = True
        if self.is_cumulative:
            out["is_cumulative"] = True
        if self.boundaries_raw is not None:
            out["boundaries"] = self.boundaries_raw
        if self.no_min_max:
            out["no_min_max"] = True
        return out


@dataclass
class ScopeConfig:
    name: str = ""
    version: str = ""
    schema_url: str = ""

    @classmethod
    def from_json(cls, d: Any) -> "ScopeConfig":
        if d is None:
            return cls()
        _check_fields(d, {"name", "version", "schema_url"}, "scope")
        return cls(
            name=d.get("name", "") or "",
            version=d.get("version", "") or "",
            schema_url=d.get("schema_url", "") or "",
        )

    def to_json(self) -> dict:
        # ScopeConfig.Name has no omitempty (config.go:46) — always present
        out: dict[str, Any] = {"name": self.name}
        if self.version:
            out["version"] = self.version
        if self.schema_url:
            out["schema_url"] = self.schema_url
        return out


@dataclass
class BackfillConfig:
    enabled: bool = False
    time_tolerance_seconds: float = 3600.0  # default 1h (config.go:329-331)
    time_tolerance_raw: str = field(default="", compare=False)

    @classmethod
    def from_json(cls, d: Any) -> "BackfillConfig":
        if d is None:
            return cls()
        _check_fields(d, {"enabled", "time_tolerance"}, "backfill")
        tol = d.get("time_tolerance")
        return cls(
            enabled=bool(d.get("enabled", False)),
            time_tolerance_seconds=parse_duration(tol) if tol else 3600.0,
            time_tolerance_raw=str(tol or ""),
        )

    def to_json(self) -> dict:
        out: dict[str, Any] = {}
        if self.enabled:
            out["enabled"] = True
        if self.time_tolerance_raw:
            out["time_tolerance"] = self.time_tolerance_raw
        return out


@dataclass
class Config:
    resource_attributes: list[AttributeConfig]
    scope: ScopeConfig
    metrics: list[MetricsConfig]
    backfill: BackfillConfig
    no_skip: bool = False
    otel: dict = field(default_factory=dict)
    # the expressions the last successful validate_expressions checked,
    # and their Spark types
    _validated: dict | None = field(default=None, init=False, repr=False, compare=False)
    _types: dict | None = field(default=None, init=False, repr=False, compare=False)

    @classmethod
    def from_json(cls, d: Any) -> "Config":
        if not isinstance(d, dict):
            raise ConfigError("config must be a JSON object")
        _check_fields(
            d,
            {"otel", "resource_attributes", "scope", "metrics", "backfill", "no_skip"},
            "config",
        )
        metrics = d.get("metrics") or []
        if not metrics:
            raise ConfigError("config: at least one metric is required")
        return cls(
            resource_attributes=[
                AttributeConfig.from_json(a, f"resource_attributes[{i}]")
                for i, a in enumerate(d.get("resource_attributes", []) or [])
            ],
            scope=ScopeConfig.from_json(d.get("scope")),
            metrics=[
                MetricsConfig.from_json(m, f"metrics[{i}]") for i, m in enumerate(metrics)
            ],
            backfill=BackfillConfig.from_json(d.get("backfill")),
            no_skip=bool(d.get("no_skip", False)),
            otel=d.get("otel", {}) or {},
        )

    def to_json(self) -> dict:
        """Serialize the LOADED config back to JSON with defaults applied —
        the `-render-config` contract (cmd/cflog2otel/main.go:61-68 marshals
        the validated Config struct, so e.g. a metric that omitted
        `interval` renders with "1m" and a Histogram without boundaries
        renders the default bucket list). Shape mirrors the Go struct tags:
        otel/scope/backfill always present (Go can't omit structs), empty
        scalar fields omitted, CELCapable values in their raw source form."""
        out: dict[str, Any] = {
            "otel": {k: v for k, v in self.otel.items() if v},
        }
        if self.resource_attributes:
            out["resource_attributes"] = [a.to_json() for a in self.resource_attributes]
        out["scope"] = self.scope.to_json()
        out["metrics"] = [m.to_json() for m in self.metrics]
        out["backfill"] = self.backfill.to_json()
        if self.no_skip:
            out["no_skip"] = True
        return out

    @classmethod
    def render(cls, path: str) -> Any:
        """Evaluate a config file to its JSON document without building the
        Config — the `-render-config` surface (cmd/cflog2otel/main.go:61-68).
        `.json` parses as plain JSON; anything else (the reference's native
        `.jsonnet` surface, jsonnet.go:45-233) evaluates through the bundled
        jsonnet subset with the cel/switch/env/must_env/json_escape/
        base64_encode natives registered."""
        if path.endswith(".json"):
            try:
                with open(path) as fh:
                    try:
                        return json.load(fh)
                    except json.JSONDecodeError as exc:
                        raise ConfigError(
                            f"{path}: invalid JSON: {exc}"
                        ) from exc
            except OSError as exc:
                raise ConfigError(f"{path}: {exc}") from exc
        from .jsonnet_min import JsonnetError, evaluate_file

        try:
            return evaluate_file(path)
        except (JsonnetError, OSError) as exc:
            # OSError: an unreadable/missing file is a config error, not a
            # crash — the bare-invocation default (cflog2otel.jsonnet,
            # main.go:45 parity) must fail with the error contract
            raise ConfigError(str(exc)) from exc

    @classmethod
    def load(cls, path: str) -> "Config":
        """Load a config file (render + build)."""
        return cls.from_json(cls.render(path))

    def expressions(self) -> dict[str, str]:
        """Every translated expression of the config, {where: sql}: resource
        attributes, then per metric its attributes, filter and value."""
        exprs: dict[str, str] = {}
        for i, a in enumerate(self.resource_attributes):
            exprs[f"resource_attributes[{i}]"] = a.value.sql
        for i, m in enumerate(self.metrics):
            for j, a in enumerate(m.attributes):
                exprs[f"metrics[{i}].attributes[{j}]"] = a.value.sql
            if m.filter is not None:
                exprs[f"metrics[{i}].filter"] = m.filter.sql
            if m.value is not None:
                exprs[f"metrics[{i}].value"] = m.value.sql
        return exprs

    def attribute_types(self, spark) -> tuple[list[str], list[list[str]]]:
        """The Spark type (simpleString) of each resource attribute, and per
        metric of each of its attributes, from validate_expressions."""
        types = self.validate_expressions(spark)
        return (
            [types[f"resource_attributes[{j}]"] for j in range(len(self.resource_attributes))],
            [
                [types[f"metrics[{i}].attributes[{j}]"] for j in range(len(m.attributes))]
                for i, m in enumerate(self.metrics)
            ],
        )

    def validate_expressions(self, spark) -> dict[str, str]:
        """Load-time analysis probe, mirroring cel.go:222-237; returns each
        expression's Spark type against schemas.parsed_log_schema,
        {where: simpleString}, keyed as expressions() is. Success is
        remembered for the expressions it checked, so re-validating an
        unchanged config costs no analysis; a failure raises every time."""
        from .celtrans import validate_against_schema

        exprs = self.expressions()
        if exprs == self._validated:
            return self._types
        types = validate_against_schema(spark, exprs)
        for i, m in enumerate(self.metrics):
            if m.filter is not None and types[f"metrics[{i}].filter"] != "boolean":
                raise ConfigError(
                    f"metrics[{i}].filter must be boolean, got {types[f'metrics[{i}].filter']}"
                )
            if m.value is not None and types[f"metrics[{i}].value"] not in (
                "double", "float", "bigint", "int", "smallint", "tinyint", "decimal",
            ):
                raise ConfigError(
                    f"metrics[{i}].value must be numeric, got {types[f'metrics[{i}].value']}"
                )
        self._validated, self._types = exprs, types
        return types
