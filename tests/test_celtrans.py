"""CEL->SQL translator unit tests (no Spark needed for pure translation)."""

import json

import pytest

from cflog2otel_spark.celtrans import CELTranslationError, translate
from cflog2otel_spark.config import Config
from cflog2otel_spark.sources.events import dummy_s3_notification, s3_record_context
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import SOURCE1, generated_lines


@pytest.mark.parametrize(
    "cel,sql",
    [
        ("log.scStatusCategory", "sc_status_category"),
        ("cloudfront.distributionId", "distribution_id"),
        ('log.scStatusCategory == "5xx"', "(sc_status_category = '5xx')"),
        (
            '!log.xHostHeader.contains("cloudfront.net")',
            "(NOT contains(x_host_header, 'cloudfront.net'))",
        ),
        (
            'log.csUriStem.startsWith("/index.html")',
            "startswith(cs_uri_stem, '/index.html')",
        ),
        ("double(log.scBytes)", "CAST(sc_bytes AS DOUBLE)"),
        (
            "log.timeTaken * 1000.0",
            "(time_taken * CAST(1000.0 AS DOUBLE))",
        ),
        ("log.scStatus >= 500 && log.scStatus < 600",
         "((sc_status >= 500L) AND (sc_status < 600L))"),
        ("log.scStatus == 200 || log.scStatus == 304",
         "((sc_status = 200L) OR (sc_status = 304L))"),
        ('log.csMethod.endsWith("T")', "endswith(cs_method, 'T')"),
        ('log.csUriStem.matches("^/api/.*")', "regexp_like(cs_uri_stem, '^/api/.*')"),
        ("size(log.csUriStem)", "length(cs_uri_stem)"),
        ("log.scBytes + log.csBytes", "(sc_bytes + cs_bytes)"),
        ("log.scBytes / 2", "(sc_bytes DIV 2L)"),  # CEL int division truncates
        ("log.timeTaken / 2.0", "(time_taken / CAST(2.0 AS DOUBLE))"),
        ("string(log.scStatus)", "CAST(sc_status AS STRING)"),
        ('log.scStatus == 200 ? "ok" : "bad"',
         "(CASE WHEN (sc_status = 200L) THEN 'ok' ELSE 'bad' END)"),
        ("-log.timeTaken", "(- time_taken)"),
        ('"pre" + log.csMethod', "concat('pre', cs_method)"),
        ("object.key", "source"),
        ("bucket.name", "bucket_name"),
    ],
)
def test_translate(cel, sql):
    assert translate(cel) == sql


@pytest.mark.parametrize(
    "bad",
    [
        "log.unknownField",
        "notavar.x",
        "log.scStatus ==",
        'log.csUriStem.explode("x")',
        "log.scStatus @ 3",
    ],
)
def test_translate_errors(bad):
    with pytest.raises(CELTranslationError):
        translate(bad)


def test_string_escaping():
    assert translate("log.csUriStem == \"it's\"") == "(cs_uri_stem = 'it\\'s')"


def test_validate_against_schema(spark):
    from cflog2otel_spark.celtrans import validate_against_schema

    types = validate_against_schema(
        spark,
        {
            "f": translate('log.scStatusCategory == "5xx"'),
            "v": translate("double(log.scBytes)"),
            "a": translate("log.xHostHeader"),
        },
    )
    assert types == {"f": "boolean", "v": "double", "a": "string"}

    with pytest.raises(CELTranslationError):
        validate_against_schema(spark, {"bad": "nonexistent_col + 1"})


@pytest.mark.parametrize(
    "cel,sql",
    [
        (
            'log.csMethod in ["GET", "HEAD"]',
            "(cs_method IN ('GET', 'HEAD'))",
        ),
        ("log.scStatus in [200, 304]", "(sc_status IN (200L, 304L))"),
        (
            '!(log.csMethod in ["POST"])',
            "(NOT (cs_method IN ('POST')))",
        ),
    ],
)
def test_in_operator(cel, sql):
    assert translate(cel) == sql


def test_in_requires_list():
    # csHost is a scalar string column — `in` needs a list or map rhs
    with pytest.raises(CELTranslationError, match="list or map"):
        translate("log.csMethod in log.csHost")


def test_every_reference_cel_string_translates():
    """Every cel('...') expression in the reference README and testdata
    configs must translate (the surface a real user would paste). The one
    deliberate exception is invalid_cel.jsonnet's typo'd field, which must
    raise the unknown-field error."""
    import glob
    import re

    from cflog2otel_spark.celtrans import CELTranslationError, translate

    pat = re.compile(r"cel\('([^']+)'\)")
    sources = ["/root/reference/README.md"] + sorted(
        glob.glob("/root/reference/testdata/*.jsonnet")
    )
    seen = set()
    for path in sources:
        with open(path) as fh:
            for expr in pat.findall(fh.read()):
                seen.add((path.rsplit("/", 1)[-1], expr))
    assert len({e for _, e in seen}) >= 8  # the surface is non-trivial
    for fname, expr in sorted(seen):
        if "csURIStem" in expr:  # invalid_cel.jsonnet's deliberate typo
            import pytest as _pytest

            with _pytest.raises(CELTranslationError):
                translate(expr)
            continue
        sql = translate(expr)
        assert sql and isinstance(sql, str), (fname, expr)


def test_in_empty_list_is_false():
    """CEL evaluates `x in []` to false; SQL `IN ()` is a parse error, so
    the translator emits the constant (ADVICE r2)."""
    assert translate("log.csMethod in []") == "(1 = 0)"
    assert translate("!(log.scStatus in [])") == "(NOT (1 = 0))"


@pytest.mark.parametrize(
    "cel,sql",
    [
        ("has(log.xForwardedFor)", "(x_forwarded_for IS NOT NULL)"),
        ("has(cloudfront.distributionId)", "(distribution_id IS NOT NULL)"),
        (
            '!has(log.csReferer) && log.scStatusCategory == "5xx"',
            "((NOT (cs_referer IS NOT NULL)) AND (sc_status_category = '5xx'))",
        ),
        ('duration("5m")', "make_dt_interval(0, 0, 0, 300.0)"),
        ('duration("2h45m")', "make_dt_interval(0, 0, 0, 9900.0)"),
        ('duration("300ms")', "make_dt_interval(0, 0, 0, 0.3)"),
        ('duration("-1.5h")', "make_dt_interval(0, 0, 0, -5400.0)"),
        (
            'log.timestamp - timestamp("2019-12-01 22:00:00") < duration("5m")',
            "((timestamp - to_timestamp('2019-12-01 22:00:00')) < "
            "make_dt_interval(0, 0, 0, 300.0))",
        ),
        (
            'log.timestamp + duration("1h") > timestamp("2019-12-01 23:00:00")',
            "((timestamp + make_dt_interval(0, 0, 0, 3600.0)) > "
            "to_timestamp('2019-12-01 23:00:00'))",
        ),
    ],
)
def test_has_and_duration(cel, sql):
    assert translate(cel) == sql


@pytest.mark.parametrize(
    "bad",
    [
        "has(log.scStatus + 1)",      # macro takes a field path, not an expr
        "has(42)",
        "has(log.unknownField)",
        'duration(log.csMethod)',     # literal only
        'duration("5 parsecs")',
        'duration("")',
        'duration("m5")',
    ],
)
def test_has_and_duration_errors(bad):
    with pytest.raises(CELTranslationError):
        translate(bad)


def test_duration_timestamp_arithmetic_analyzes(spark):
    """The translated interval/timestamp expressions must pass Spark
    analysis against the parsed-log schema (the reference accepts these in
    any CEL field — cel.go:86-109)."""
    from cflog2otel_spark.celtrans import validate_against_schema

    types = validate_against_schema(
        spark,
        {
            "h": translate("has(log.xForwardedFor)"),
            "w": translate(
                'log.timestamp - timestamp("2019-12-01 22:00:00") '
                '< duration("5m")'
            ),
            "shift": translate('log.timestamp + duration("30s")'),
        },
    )
    assert types["h"] == "boolean"
    assert types["w"] == "boolean"
    assert types["shift"].startswith("timestamp")


def test_has_filter_through_full_pipeline(spark, cf_fixture_df):
    """configs/has_filter.json drives has() + duration()/timestamp
    arithmetic through config-load -> CEL translation -> probe validation
    -> the actual aggregation, and the per-window counts equal a direct
    DataFrame computation of the same predicate."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.config import Config
    from cflog2otel_spark.pipeline import run_pipeline
    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse

    cfg = Config.load("configs/has_filter.json")
    res = run_pipeline(spark, cfg, cf_fixture_df)
    sink = res.sinks["http.server.requests_with_referer"]
    got = sum(r["value"] for r in sink.collect())

    parsed = enrich(decode_and_parse(cf_fixture_df))
    want = parsed.filter(
        F.col("cs_referer").isNotNull()
        & (
            F.col("timestamp")
            < F.expr("to_timestamp('2019-12-01 00:00:00') + INTERVAL 24 HOURS")
        )
    ).count()
    assert want > 0 and got == want


@pytest.mark.parametrize(
    "cel,sql",
    [
        (
            "[1, 2, 3].exists(x, x == log.scStatus)",
            "exists(array(1L, 2L, 3L), _cel0_x -> (_cel0_x = sc_status))",
        ),
        (
            "[1, 2, 3].all(v, v > 0)",
            "forall(array(1L, 2L, 3L), _cel0_v -> (_cel0_v > 0L))",
        ),
        (
            "[1, 2, 3].filter(v, v % 2 == 1).size()",
            "size(filter(array(1L, 2L, 3L), _cel0_v -> ((_cel0_v % 2L) = 1L)))",
        ),
        (
            "size([1, 2].map(v, v * 2))",
            "size(transform(array(1L, 2L), _cel0_v -> (_cel0_v * 2L)))",
        ),
        (
            "[1, 2, 3].exists_one(v, v == 2)",
            "(size(filter(array(1L, 2L, 3L), _cel0_v -> (_cel0_v = 2L))) = 1)",
        ),
        # nested comprehensions: unique lambda names, lexical shadowing
        (
            "[[1],[2]].exists(xs, xs.exists(x, x == 2))",
            "exists(array(array(1L), array(2L)), _cel0_xs -> "
            "exists(_cel0_xs, _cel1_x -> (_cel1_x = 2L)))",
        ),
        # map literals: indexing, key membership, key iteration
        (
            "{'a': 1, 'b': 2}['a'] == 1",
            "(element_at(map('a', 1L, 'b', 2L), 'a') = 1L)",
        ),
        ("'a' in {'a': 1}", "map_contains_key(map('a', 1L), 'a')"),
        (
            "{'a':1}.exists(k, k == 'a')",
            "exists(map_keys(map('a', 1L)), _cel0_k -> (_cel0_k = 'a'))",
        ),
        # list literal as a value: 0-based indexing via 1-based element_at
        (
            "[10, 20][0] == 10",
            "(element_at(array(10L, 20L), CAST((0L) + 1 AS INT)) = 10L)",
        ),
        # `in` over a computed list falls back to array_contains (the
        # literal fast path still emits SQL IN, tested above)
        (
            "2 in [1, 2].map(v, v + 1)",
            "array_contains(transform(array(1L, 2L), "
            "_cel0_v -> (_cel0_v + 1L)), 2L)",
        ),
        ("[]", "array()"),
        ("{}", "map()"),
    ],
)
def test_comprehension_macros_translate(cel, sql):
    assert translate(cel) == sql


@pytest.mark.parametrize(
    "bad",
    [
        "[1,2].frobnicate(x, x)",       # unknown macro/method
        "log.uri[0]",                    # unknown field
        "log.csUriStem[0]",              # indexing a scalar column
        "5 in 6",                        # `in` needs list or map
        "[1,2].exists(1, x)",            # iteration var must be ident
    ],
)
def test_comprehension_macro_errors(bad):
    with pytest.raises(CELTranslationError):
        translate(bad)


def test_comprehension_macros_evaluate(spark):
    """The emitted HOF SQL must not only analyze — it must EVALUATE to
    CEL's semantics (0-based index, key iteration, exists_one = exactly
    one, shadowing) on a real row."""
    map_index = translate("{'a': 7}['a']")
    rows = spark.sql(
        "SELECT "
        f"({translate('[1, 2, 3].exists(x, x == 2)')}) AS a, "
        f"({translate('[1, 2, 3].all(v, v > 0)')}) AS b, "
        f"({translate('[1, 2, 3].filter(v, v % 2 == 1).size()')}) AS c, "
        f"({translate('[10, 20][1]')}) AS d, "
        f"({translate('[2, 2].exists_one(v, v == 2)')}) AS e, "
        f"({map_index}) AS f, "
        f"({translate('[1,2].map(x, [3,4].map(x, x * 2).size() + x).size()')}) AS g"
    ).collect()[0]
    assert rows["a"] is True
    assert rows["b"] is True
    assert rows["c"] == 2
    assert rows["d"] == 20
    assert rows["e"] is False   # two matches -> not exactly one
    assert rows["f"] == 7
    assert rows["g"] == 2


@pytest.mark.parametrize(
    "cel,sql",
    [
        ("log.timestamp.getFullYear()", "year(timestamp)"),
        ("log.timestamp.getMonth()", "(month(timestamp) - 1)"),
        ("log.timestamp.getDate()", "day(timestamp)"),
        ("log.timestamp.getDayOfMonth()", "(day(timestamp) - 1)"),
        ("log.timestamp.getDayOfWeek()", "(dayofweek(timestamp) - 1)"),
        ("log.timestamp.getHours() == 22", "(hour(timestamp) = 22L)"),
        ("log.timestamp.getMinutes()", "minute(timestamp)"),
        ("log.timestamp.getSeconds()", "second(timestamp)"),
    ],
)
def test_timestamp_accessors_translate(cel, sql):
    assert translate(cel) == sql


def test_timestamp_accessors_evaluate(spark):
    """CEL calendar conventions on a known instant: 2019-12-01 22:01:35
    was a Sunday. getMonth is 0-based (December = 11), getDayOfMonth
    0-based, getDate 1-based, getDayOfWeek 0 = Sunday."""
    from cflog2otel_spark.celtrans import translate as tr

    def ev(cel):
        sql = tr(cel).replace(
            "timestamp", "timestamp'2019-12-01 22:01:35.250'", 1
        )
        return spark.sql(f"SELECT ({sql}) AS v").collect()[0]["v"]

    assert ev("log.timestamp.getFullYear()") == 2019
    assert ev("log.timestamp.getMonth()") == 11
    assert ev("log.timestamp.getDate()") == 1
    assert ev("log.timestamp.getDayOfMonth()") == 0
    assert ev("log.timestamp.getDayOfWeek()") == 0
    assert ev("log.timestamp.getDayOfYear()") == 334
    assert ev("log.timestamp.getHours()") == 22
    assert ev("log.timestamp.getMinutes()") == 1
    assert ev("log.timestamp.getSeconds()") == 35
    assert ev("log.timestamp.getMilliseconds()") == 250


@pytest.mark.parametrize(
    "cel,sql",
    [
        # CEL list + list / bytes + bytes is concatenation, not SQL `+`
        ("['a'] + ['b']", "concat(array('a'), array('b'))"),
        ("bytes('a') + bytes('b')",
         "concat(CAST('a' AS BINARY), CAST('b' AS BINARY))"),
        ("bool('true')", "CAST('true' AS BOOLEAN)"),
        ("uint(log.scStatus)", "CAST(sc_status AS BIGINT)"),
        ("dyn(log.scStatus)", "sc_status"),
        ("42u", "42L"),
        ("0xFF", "255L"),
        ("0x10u", "16L"),
        ("size(bytes('abc'))", "length(CAST('abc' AS BINARY))"),
        (
            "log.timestamp.getHours('America/New_York')",
            "hour(from_utc_timestamp(timestamp, 'America/New_York'))",
        ),
    ],
)
def test_stdlib_conversions_translate(cel, sql):
    assert translate(cel) == sql


def test_stdlib_conversions_evaluate(spark):
    """The emitted SQL evaluates with cel-go standard-library semantics."""
    a = translate("([1] + [2, 3]).size()")
    b = translate("bool('true')")
    c = translate("bytes('ab') + bytes('c') == bytes('abc')")
    d = translate("size(bytes('abc'))")
    e = translate("uint(7) + 1u")
    f = translate("dyn([1,2]) + [3]")
    rows = spark.sql(
        f"SELECT ({a}) AS a, ({b}) AS b, ({c}) AS c, "
        f"({d}) AS d, ({e}) AS e, ({f})[2] AS f"
    ).collect()[0]
    assert rows["a"] == 3
    assert rows["b"] is True
    assert rows["c"] is True
    assert rows["d"] == 3
    assert rows["e"] == 8
    assert rows["f"] == 3


def test_tz_accessor_evaluates(spark):
    """2019-12-01 22:01:35 UTC is 17:01 in America/New_York (EST, -5)."""
    sql = translate("log.timestamp.getHours('America/New_York')").replace(
        "(timestamp,", "(timestamp'2019-12-01 22:01:35',", 1
    )
    assert spark.sql(f"SELECT ({sql}) AS v").collect()[0]["v"] == 17
    with pytest.raises(CELTranslationError, match="timezone argument"):
        translate("log.timestamp.getHours(5)")


def test_string_of_timestamp_is_rfc3339(spark):
    """cel-go string(timestamp) yields RFC 3339 with the fractional
    second trimmed of trailing zeros (time.RFC3339Nano); a plain CAST
    would give Spark's space-separated form."""
    s = translate("string(log.timestamp)")
    for lit, want in [
        ("timestamp'2019-12-01 22:01:35.250'", "2019-12-01T22:01:35.25Z"),
        ("timestamp'2019-12-01 22:01:35'", "2019-12-01T22:01:35Z"),
        ("timestamp'2019-12-01 22:01:35.123456'",
         "2019-12-01T22:01:35.123456Z"),
        ("timestamp'2019-12-01 22:01:40'", "2019-12-01T22:01:40Z"),
    ]:
        q = s.replace("(timestamp,", f"({lit},", 1)
        assert spark.sql(f"SELECT ({q}) AS v").collect()[0]["v"] == want
    # non-timestamp operands keep the plain cast
    assert translate("string(log.scStatus)") == "CAST(sc_status AS STRING)"


def test_global_matches_form():
    """cel-go defines matches() both as a method and a two-argument
    global function."""
    assert translate("matches(log.csUriStem, '^/api')") == (
        "regexp_like(cs_uri_stem, '^/api')"
    )
    with pytest.raises(CELTranslationError):
        translate("matches(log.csUriStem)")


def test_timestamp_of_int_is_epoch_seconds(spark):
    """cel-go timestamp(int) interprets the int as Unix epoch seconds."""
    assert translate("timestamp(1575237695)") == (
        "CAST(1575237695L AS TIMESTAMP)"
    )
    v = spark.sql(
        f"SELECT ({translate('string(timestamp(1575237695))')}) AS v"
    ).collect()[0]["v"]
    assert v == "2019-12-01T22:01:35Z"


def test_map_field_selection(spark):
    """CEL field selection on map values: m.key == m['key']; a missing
    key raises (ANSI element_at = CEL's no_such_key)."""
    assert translate("{'a': 7}.a") == "element_at(map('a', 7L), 'a')"
    assert spark.sql(
        f"SELECT ({translate(chr(123) + chr(39) + 'a' + chr(39) + ': 7' + chr(125) + '.a + 1')}) AS v"
    ).collect()[0]["v"] == 8


def test_nested_map_selection_translates():
    assert translate("{'a': {'b': 2}}.a.b") == (
        "element_at(element_at(map('a', map('b', 2L)), 'a'), 'b')"
    )


def _context_cfg() -> Config:
    return Config.from_json({
        "scope": {"name": "t"},
        "metrics": [{
            "name": "requests",
            "type": "Count",
            "interval": "1h",
            "attributes": [
                {"key": "object.size", "value": {"expr": "object.size"}},
                {"key": "bucket.name", "value": {"expr": "bucket.name"}},
            ],
        }],
    })


def _attrs(points) -> set:
    return {frozenset((a["key"], a["value"]) for a in p["attrs"]) for p in points}


def test_event_context_without_an_event_is_null(spark, tmp_path):
    """Every CEL context variable is bound on every run, as the reference's
    NewCELVariables does (cel.go:19-69): object.* and bucket.* attributes
    resolve on runs with no S3 event, in batch and in the streaming drain,
    and their NULLs drop out of the attribute set (app.go:421-424)."""
    from cflog2otel_spark.pipeline import run_pipeline, sink_dirname
    from cflog2otel_spark.streaming.stream import run_streaming_pipeline

    cfg = _context_cfg()
    corpus = tokenized_df_from_lines(spark, generated_lines(spark, 200, seed=5), SOURCE1)
    points = run_pipeline(spark, cfg, corpus).points()["requests"]
    assert sum(p["value"] for p in points) == 200
    assert _attrs(points) == {frozenset()}

    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    corpus.coalesce(1).write.parquet(inp)
    (query,) = run_streaming_pipeline(spark, cfg, inp, out, ck)
    assert query.awaitTermination(180), "streaming query timed out (180s)"
    rows = [r.asDict(recursive=True)
            for r in spark.read.parquet(f"{out}/{sink_dirname('requests')}").collect()]
    assert sum(r["value"] for r in rows) == 200
    assert _attrs(rows) == {frozenset()}


def test_event_context_binds_the_s3_record(spark):
    """The same records bound to a dummy S3 notification carry its
    object.size and bucket.name."""
    from cflog2otel_spark.operators.enrich import enrich, with_event_context
    from cflog2otel_spark.operators.parse import decode_and_parse
    from cflog2otel_spark.pipeline import run_pipeline_parsed

    corpus = tokenized_df_from_lines(spark, generated_lines(spark, 200, seed=5), SOURCE1)
    (record,) = json.loads(dummy_s3_notification(f"s3://bench-bucket/{SOURCE1}"))["Records"]
    parsed = with_event_context(
        enrich(decode_and_parse(corpus), on_bad_key="skip"), s3_record_context(record)
    )
    points = run_pipeline_parsed(spark, _context_cfg(), parsed).points()["requests"]
    assert sum(p["value"] for p in points) == 200
    assert _attrs(points) == {
        frozenset({("object.size", "1024"), ("bucket.name", "bench-bucket")})
    }
