"""Backfill E2E — the FIXTURES.md §5 scenario (reference app_test.go:70-150):
event time 2019-12-01T22:56:00Z, 30m tolerance, and the three sibling
objects; expected data points 4xx@22:39 = 3, 2xx@22:42 = 3, 5xx@22:51 = 3
(RT3's 22:10 lines dropped by the line gate, RT2 dropped by the object
gate)."""

from datetime import datetime, timezone

from cflog2otel_spark.config import Config
from cflog2otel_spark.operators.aggregate import aggregate_metric
from cflog2otel_spark.operators.backfill import backfill_select
from cflog2otel_spark.operators.enrich import enrich
from cflog2otel_spark.operators.parse import decode_and_parse
from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

from .conftest import CF_LINES, CF_LINES2, CONFIGS, RT2, SOURCE1, SOURCE2

EVENT_TIME = "2019-12-01 22:56:00"
LAST_MODIFIED = {
    RT2: "2019-12-01 22:05:00",      # object gate: 51m > 30m -> skipped
    SOURCE2: "2019-12-01 22:40:00",  # read; line gate applies
    SOURCE1: "2019-12-01 22:52:00",  # the trigger
}


def test_backfill_e2e(spark):
    corpus = (
        tokenized_df_from_lines(spark, CF_LINES, SOURCE1)
        .union(tokenized_df_from_lines(spark, CF_LINES2, SOURCE2))
        # RT2 content would also be SOURCE2-shaped; object gate must drop it
        .union(tokenized_df_from_lines(spark, CF_LINES2, RT2))
    )
    parsed = enrich(decode_and_parse(corpus))
    cfg = Config.load(f"{CONFIGS}/backfil_config.json")
    selected = backfill_select(
        parsed, SOURCE1, EVENT_TIME, cfg.backfill.time_tolerance_seconds, LAST_MODIFIED
    )
    sink = aggregate_metric(selected, cfg)
    rows = {
        (r["window_start"], r["attrs"][0]["value"]): r["value"]
        for r in sink.collect()
    }
    assert rows == {
        (datetime(2019, 12, 1, 22, 39), "4xx"): 3,
        (datetime(2019, 12, 1, 22, 42), "2xx"): 3,
        (datetime(2019, 12, 1, 22, 51), "5xx"): 3,
    }


def test_backfill_trigger_lines_never_line_gated(spark):
    """Trigger-object lines are kept even when older than the tolerance
    (the line gate only applies to re-read siblings, app.go:354-361)."""
    corpus = tokenized_df_from_lines(spark, CF_LINES2, SOURCE2)  # 22:10 and 22:39 lines
    parsed = enrich(decode_and_parse(corpus))
    selected = backfill_select(parsed, SOURCE2, EVENT_TIME, 30 * 60, LAST_MODIFIED)
    assert selected.count() == 6  # all lines, incl. the 22:10 ones


def test_backfill_unparseable_trigger_skips(spark):
    parsed = enrich(decode_and_parse(tokenized_df_from_lines(spark, CF_LINES, SOURCE1)))
    assert backfill_select(parsed, "not-a-gz.txt", EVENT_TIME, 1800, {}).count() == 0


def test_backfill_select_matches_python_model_property(spark):
    """Differential property: backfill_select over randomized corpora,
    manifests, and event times equals a direct Python model of the
    reference's loops (app.go:322-368): keep every trigger line; re-read a
    sibling iff its prefix matches and eventTime-lastModified <= T; keep a
    sibling line iff eventTime-ts <= T. The model compares aware UTC
    datetimes; every other trial writes the event time and the manifest's
    LastModified values with UTC offsets, which the gates must convert
    rather than drop."""
    import random
    from datetime import timedelta

    rng = random.Random(7)
    utc = timezone.utc
    zones = [utc, timezone(timedelta(hours=1)), timezone(timedelta(hours=-5, minutes=-30))]
    base = datetime(2024, 3, 1, 12, 0, 0, tzinfo=utc)
    prefix = "logs/D1."
    sources = [
        f"{prefix}2024-03-01-12.h{i}.gz" for i in range(4)
    ] + ["logs/D2.2024-03-01-12.x.gz", "not-a-key.txt"]

    def text(t, zoned):
        # no offset reads as UTC; with one, the same instant elsewhere
        if not zoned:
            return t.replace(tzinfo=None).isoformat(sep=" ")
        return t.astimezone(rng.choice(zones)).isoformat()

    for trial in range(12):
        zoned = trial % 2 == 1
        tol = rng.choice([600, 1800, 3600])
        event_time = base + timedelta(minutes=rng.randint(-30, 90))
        trigger = rng.choice(sources[:4])
        last_modified = {
            s: base + timedelta(minutes=rng.randint(-120, 60)) for s in sources
        }
        rows = []
        for i in range(60):
            src = rng.choice(sources)
            ts = base + timedelta(minutes=rng.randint(-120, 60))
            rows.append((str(i), src, ts))

        # ---- python model of app.go:322-368
        sibling_prefix = trigger.rsplit(".", 2)[0] + "."  # {prefix}{dist}.{datehour}.
        want = set()
        for rid, src, ts in rows:
            if src == trigger:
                want.add(rid)
                continue
            if not src.startswith(sibling_prefix):
                continue
            if (event_time - last_modified[src]).total_seconds() > tol:
                continue
            if (event_time - ts).total_seconds() > tol:
                continue
            want.add(rid)

        df = spark.createDataFrame(rows, ["doc_id", "source", "timestamp"])
        got = {
            r["doc_id"]
            for r in backfill_select(
                df, trigger, text(event_time, zoned), tol,
                {k: text(v, zoned) for k, v in last_modified.items()},
            ).select("doc_id").collect()
        }
        assert got == want, (trial, trigger, tol, sorted(got ^ want))

    # a LastModified offset is converted, not dropped: 23:40+01:00 is 960 s
    # before 22:56Z, so a 15-minute tolerance skips the object
    sibling = f"{prefix}2024-03-01-12.h1.gz"
    df = spark.createDataFrame(
        [("0", sibling, datetime(2019, 12, 1, 22, 50, tzinfo=utc))],
        ["doc_id", "source", "timestamp"],
    )
    manifest = {sibling: "2019-12-01T23:40:00+01:00"}
    trigger = f"{prefix}2024-03-01-12.h0.gz"
    assert backfill_select(df, trigger, "2019-12-01T22:56:00Z", 900, manifest).count() == 0
    assert backfill_select(df, trigger, "2019-12-01T22:56:00Z", 960, manifest).count() == 1
