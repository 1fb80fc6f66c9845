from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FIXTURES = f"{REFERENCE}/testdata/fixtures"
CONFIGS = f"{REPO}/configs"

SOURCE1 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT4KCN4SGK9.gz"
SOURCE2 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT3KCN4SGK9.gz"
RT2 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT2KCN4SGK9.gz"

_CHROME = (
    "Mozilla/5.0%20(Windows%20NT%2010.0;%20Win64;%20x64)%20AppleWebKit/537.36"
    "%20(KHTML,%20like%20Gecko)%20Chrome/78.0.3904.108%20Safari/537.36"
)


def _cf_line(time, edge, sc_bytes, ip, uri, status, referer, ua, result,
             request_id, host, proto, cs_bytes, time_taken, port) -> str:
    """One 33-field CloudFront standard-log line of 2019-12-01 in the
    FIXTURES.md §2 field order."""
    error = result == "Error"
    return "\t".join([
        "2019-12-01", time, edge, sc_bytes, ip, "GET",
        "d111111abcdef8.cloudfront.net", uri, status, referer, ua, "-", "-",
        result, request_id, host, proto, cs_bytes, time_taken, "-",
        "-" if error else "TLSv1.2", "-" if error else "ECDHE-RSA-AES128-GCM-SHA256",
        result, "HTTP/1.1" if error else "HTTP/2.0", "-", "-", port, time_taken,
        "OriginDnsError" if error else result, "text/html",
        "507" if error else "78", "-", "-",
    ])


# The FIXTURES.md §1 fixture objects, written by hand so the §4/§5 values
# can be checked by eye. SOURCE1: three 2xx at 22:42 (392 bytes, 1/0/1 ms
# each) and three 5xx at 22:51 (900 bytes, 102/107/103 ms), so config 1
# gives {2xx@22:42: 3, 5xx@22:51: 3}, config 4's bytes {2xx: 1176,
# 5xx: 2700} and config 5's histogram buckets [0,5) = 3 (sum 2) and
# [100,250) = 3 (sum 312).
CF_LINES = [
    _cf_line("22:42:31", "LAX1", "392", "192.0.2.100", "/index.html", "200", "-", _CHROME,
             "Hit", "SOX4xwn4XV6Q4rgb7XiVGOHms_BGlTAC4KyHmureZmBNrjGdRLiNIQ==",
             "d111111abcdef8.cloudfront.net", "https", "23", "0.001", "11040"),
    _cf_line("22:42:31", "LAX1", "392", "192.0.2.100", "/index.html", "200", "-", _CHROME,
             "Hit", "k6WGMNkEzR5BEM_SaF47gjtX9zBDO2m349OY2an0QPEaUum1ZOLrow==",
             "d111111abcdef8.cloudfront.net", "https", "23", "0.000", "11040"),
    _cf_line("22:42:40", "LAX1", "392", "192.0.2.100", "/index.html", "200", "-", _CHROME,
             "Hit", "f37nTMVvnKvV2ZSvEsivup_c2kZ7VXzYdjC-GUQZ5qNs-89BlWazbw==",
             "d111111abcdef8.cloudfront.net", "https", "23", "0.001", "11040"),
    _cf_line("22:51:27", "SEA19-C1", "900", "192.0.2.200", "/favicon.ico", "502",
             "http://www.example.com/", _CHROME,
             "Error", "1pkpNfBQ39sYMnjjUQjmH2w1wdJnbHYTbag21o_3OfcQgPzdL2RSSQ==",
             "www.example.com", "http", "675", "0.102", "25260"),
    _cf_line("22:51:26", "SEA19-C1", "900", "192.0.2.200", "/", "502", "-", _CHROME,
             "Error", "3AqrZGCnF_g0-5KOvfA7c9XLcf4YGvMFSeFdIetR1N_2y8jSis8Zxg==",
             "www.example.com", "http", "735", "0.107", "3802"),
    _cf_line("22:51:59", "SEA19-C2", "900", "192.0.2.200", "/", "502", "-", "curl/7.55.1",
             "Error", "kBkDzGnceVtWHqSCqBUqtA_cEs2T3tFUBbnBNkB9El_uVRhHgcZfcw==",
             "www.example.com", "http", "387", "0.103", "12644"),
]

# SOURCE2, the backfill sibling of FIXTURES.md §5: three 3xx lines at 22:10,
# which the 30m line gate drops at event time 22:56, and three 4xx lines
# at 22:39, which it keeps.
CF_LINES2 = [
    _cf_line("22:10:05", "NRT57-C1", "511", "192.0.2.10", "/old", "301", "-", "curl/7.55.1",
             "Redirect", "Rq1bV0gZ2c7sVw8FvJ0bZ2Ug2tQ0nB5xq9iV1c2c3d4e5f6g7h8i9j==",
             "d111111abcdef8.cloudfront.net", "https", "40", "0.002", "40001"),
    _cf_line("22:10:20", "NRT57-C1", "511", "192.0.2.11", "/old", "301", "-", "curl/7.55.1",
             "Redirect", "Zt2cW1hA3d8tWx9GwK1cA3Vh3uR1oC6yr0jW2d3e4f5g6h7i8j9k0l==",
             "d111111abcdef8.cloudfront.net", "https", "40", "0.003", "40002"),
    _cf_line("22:10:41", "NRT57-C1", "511", "192.0.2.12", "/old", "301", "-", "curl/7.55.1",
             "Redirect", "Xp3dX2iB4e9uXy0HxL2dB4Wi4vS2pD7zs1kX3e4f5g6h7i8j9k0l1m==",
             "d111111abcdef8.cloudfront.net", "https", "40", "0.002", "40003"),
    _cf_line("22:39:02", "LAX1", "1064", "192.0.2.20", "/missing.html", "404", "-", _CHROME,
             "Error", "Bq4eY3jC5f0vYz1IyM3eC5Xj5wT3qE8at2lY4f5g6h7i8j9k0l1m2n==",
             "d111111abcdef8.cloudfront.net", "https", "31", "0.004", "51001"),
    _cf_line("22:39:17", "LAX1", "1064", "192.0.2.21", "/missing.html", "404", "-", _CHROME,
             "Error", "Cr5fZ4kD6g1wZa2JzN4fD6Yk6xU4rF9bu3mZ5g6h7i8j9k0l1m2n3o==",
             "d111111abcdef8.cloudfront.net", "https", "31", "0.005", "51002"),
    _cf_line("22:39:58", "LAX1", "1064", "192.0.2.22", "/missing.html", "403", "-", _CHROME,
             "Error", "Ds6gA5lE7h2xAb3KaO5gE7Zl7yV5sG0cv4nA6h7i8j9k0l1m2n3o4p==",
             "d111111abcdef8.cloudfront.net", "https", "31", "0.004", "51003"),
]

# CF_LINES as the text of a standard-log file, under the FIXTURES.md §2
# header directives
CF_LOG_TEXT = "".join(f"{line}\n" for line in [
    "#Version: 1.0",
    "#Fields: date time x-edge-location sc-bytes c-ip cs-method cs(Host) cs-uri-stem "
    "sc-status cs(Referer) cs(User-Agent) cs-uri-query cs(Cookie) x-edge-result-type "
    "x-edge-request-id x-host-header cs-protocol cs-bytes time-taken x-forwarded-for "
    "ssl-protocol ssl-cipher x-edge-response-result-type cs-protocol-version fle-status "
    "fle-encrypted-fields c-port time-to-first-byte x-edge-detailed-result-type "
    "sc-content-type sc-content-len sc-range-start sc-range-end",
    *CF_LINES,
])

# The S3 notification of the FIXTURES.md §5 trigger (SOURCE1, event time
# 22:56Z), in the shape sources/events.py reads, and the same notification
# as the body of an SQS message.
S3_NOTIFICATION = json.dumps({"Records": [{
    "eventVersion": "2.1",
    "eventSource": "aws:s3",
    "awsRegion": "us-east-1",
    "eventTime": "2019-12-01T22:56:00.000Z",
    "eventName": "ObjectCreated:Put",
    "s3": {
        "s3SchemaVersion": "1.0",
        "configurationId": "testConfigRule",
        "bucket": {
            "name": "example-bucket",
            "ownerIdentity": {"principalId": "EXAMPLE"},
            "arn": "arn:aws:s3:::example-bucket",
        },
        "object": {
            "key": SOURCE1,
            "size": 1024,
            "eTag": "0123456789abcdef0123456789abcdef",
            "sequencer": "0A1B2C3D4E5F678901",
        },
    },
}]})
SQS_EVENT = json.dumps({"Records": [{
    "messageId": "19dd0b57-b21e-4ac1-bd88-01bbb068cb78",
    "eventSource": "aws:sqs",
    "eventSourceARN": "arn:aws:sqs:us-east-1:123456789012:my-queue",
    "body": S3_NOTIFICATION,
}]})


@pytest.fixture(scope="session")
def spark():
    from cflog2otel_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cf_fixture_df(spark):
    """The 6-line SOURCE1 object (CF_LINES) as a tokenized DataFrame."""
    from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

    return tokenized_df_from_lines(spark, CF_LINES, SOURCE1).cache()


def generated_lines(spark, n_rows: int, seed: int) -> list[str]:
    """Deterministic CloudFront log lines from the generator, one hour of
    2024-03-01, in doc_id order."""
    from cflog2otel_spark.sources.generator import generate_lines

    rows = generate_lines(spark, n_rows, seed=seed, n_hours=1).orderBy("doc_id").collect()
    return [r["line"] for r in rows]


@pytest.fixture(scope="session")
def generated_df(spark):
    """200 generator lines as one object of SOURCE1 (one distribution, so
    one resource): input for tests that need no reference line."""
    from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

    return tokenized_df_from_lines(spark, generated_lines(spark, 200, seed=5), SOURCE1).cache()


def metric_windows(spark, epoch_us: list[int], interval: float) -> dict:
    """{(window start, window end) in Unix microseconds: data points} of a
    Count metric with `interval` (seconds, ms precision) over one row at
    each of `epoch_us`, as aggregate_metric builds the sink."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.config import Config
    from cflog2otel_spark.operators.aggregate import aggregate_metric

    cfg = Config.from_json({
        "resource_attributes": [],
        "scope": {"name": "t"},
        "metrics": [{"name": "n", "type": "Count", "interval": f"{round(interval * 1000)}ms"}],
    })
    parsed = spark.createDataFrame([(u,) for u in epoch_us], "us long").select(
        F.timestamp_micros("us").alias("timestamp")
    )
    rows = aggregate_metric(parsed, cfg).select(
        F.unix_micros("window_start").alias("start"),
        F.unix_micros("window_end").alias("end"),
        "value",
    ).collect()
    return {(r["start"], r["end"]): r["value"] for r in rows}


def summed_points(rows) -> dict:
    """Data points keyed by (window start, resource attrs, attrs), the rows
    of one key combined the way a delta consumer sums data points: counts,
    sums and histogram buckets added, min/max of the extremes. Sums are
    rounded so per-batch partial sums compare equal to one batch sum."""
    pts: dict = {}
    for r in rows:
        r = r if isinstance(r, dict) else r.asDict(recursive=True)
        key = (
            str(r["window_start"]),
            frozenset((a["key"], a["value"]) for a in r["resource_attrs"]),
            frozenset((a["key"], a["value"]) for a in r["attrs"]),
        )
        if "bucket_counts" in r:
            v = [r["count"], r["sum"], r["min"], r["max"], r["bucket_counts"]]
            if key in pts:
                o = pts[key]
                v = [o[0] + v[0], o[1] + v[1], min(o[2], v[2]), max(o[3], v[3]),
                     [a + b for a, b in zip(o[4], v[4])]]
        else:
            v = [r["value"] + (pts[key][0] if key in pts else 0)]
        pts[key] = v
    return {k: tuple(round(x, 6) if isinstance(x, float) else
                     tuple(x) if isinstance(x, list) else x for x in v)
            for k, v in pts.items()}
