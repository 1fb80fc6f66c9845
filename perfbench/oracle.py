"""Independent oracle: the benchmark config's data points computed by
DuckDB straight from the generator's raw log lines (before tokenization),
and a comparator for the pipeline's sink tables.

A data point's key is (metric, window start in epoch seconds, resource
attribute set, attribute set); its value is (value,) for Count and Sum and
(count, sum, min, max, bucket counts) for Histogram.
"""

from __future__ import annotations

import math

# The config under test: bench.py's MULTI_CFG (Count, Sum, Histogram and a
# filtered switch), copied here so the benchmark does not import bench.py.
MULTI_CFG = {
    "resource_attributes": [
        {"key": "service.name", "value": "Amazon CloudFront"},
        {"key": "aws.cloudfront.distribution_id",
         "value": {"expr": "cloudfront.distributionId"}},
    ],
    "scope": {"name": "bench"},
    "metrics": [
        {
            "name": "requests",
            "type": "Count",
            "attributes": [{"key": "http.status_code",
                            "value": {"expr": "log.scStatusCategory"}}],
        },
        {
            "name": "bytes",
            "type": "Sum",
            "unit": "Byte",
            "value": {"expr": "double(log.scBytes)"},
            "attributes": [{"key": "http.status_code",
                            "value": {"expr": "log.scStatusCategory"}}],
            "is_monotonic": True,
        },
        {
            "name": "request_time",
            "type": "Histogram",
            "unit": "ms",
            "value": {"expr": "log.timeTaken * 1000.0"},
        },
        {
            "name": "by_origin",
            "type": "Count",
            "attributes": [
                {
                    "key": "origin",
                    "value": {
                        "switch": [
                            {"case": {"expr": 'log.csUriStem.startsWith("/api/")'},
                             "value": "app"},
                            {"case": {"expr": 'log.csUriStem == "/favicon.ico"'},
                             "value": "static"},
                            {"default": "S3"},
                        ]
                    },
                },
            ],
            "filter": {"expr": "log.scStatus >= 200"},
        },
    ],
}

# OTel SDK default explicit bounds; request_time sets none
HIST_BOUNDS = [0.0, 5.0, 10.0, 25.0, 50.0, 75.0, 100.0, 250.0, 500.0, 750.0,
               1000.0, 2500.0, 5000.0, 7500.0, 10000.0]
HIST_METRICS = {"request_time"}

# Positions (1-based, DuckDB split_part) of the W3C fields the config reads.
_FIELDS_SQL = """
  SELECT source,
    strptime(split_part(line, chr(9), 1) || ' ' || split_part(line, chr(9), 2),
             '%Y-%m-%d %H:%M:%S') AS ts,
    CAST(split_part(line, chr(9), 4) AS DOUBLE) AS sc_bytes,
    split_part(line, chr(9), 8) AS uri,
    CAST(split_part(line, chr(9), 9) AS BIGINT) AS status,
    CAST(split_part(line, chr(9), 19) AS DOUBLE) * 1000.0 AS rt,
    split_part(regexp_extract(source, '([^/]+)\\.gz$', 1), '.', 1) AS dist
  FROM read_parquet('{path}/*.parquet')
"""


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _res(dist: str) -> frozenset:
    return frozenset({("service.name", "Amazon CloudFront"),
                      ("aws.cloudfront.distribution_id", dist)})


def expected_points(lines_path: str, by_source: bool = False) -> dict:
    """Oracle data points from a parquet directory of raw lines (doc_id, line,
    source). With by_source, returns {source: points} (one S3 object per
    source), else the points of the whole table."""
    con = _connect()
    con.execute(f"CREATE TEMP VIEW f AS {_FIELDS_SQL.format(path=lines_path)}")
    grp = "source, " if by_source else "'' AS source, "
    gby = "source, " if by_source else ""
    out: dict = {}

    def put(src, key, value):
        out.setdefault(src, {})[key] = value

    cat = "CAST(status // 100 AS VARCHAR) || 'xx'"
    for src, dist, ws, c, n, s in con.execute(f"""
        SELECT {grp} dist, epoch(date_trunc('minute', ts))::BIGINT, {cat},
               count(*), sum(sc_bytes)
        FROM f GROUP BY {gby} dist, 3, 4""").fetchall():
        attrs = frozenset({("http.status_code", c)})
        put(src, ("requests", ws, _res(dist), attrs), (n,))
        put(src, ("bytes", ws, _res(dist), attrs), (s,))
    origin = ("CASE WHEN starts_with(uri, '/api/') THEN 'app' "
              "WHEN uri = '/favicon.ico' THEN 'static' ELSE 'S3' END")
    for src, dist, ws, o, n in con.execute(f"""
        SELECT {grp} dist, epoch(date_trunc('minute', ts))::BIGINT, {origin},
               count(*)
        FROM f WHERE status >= 200 GROUP BY {gby} dist, 3, 4""").fetchall():
        put(src, ("by_origin", ws, _res(dist), frozenset({("origin", o)})), (n,))
    buckets = [f"count(*) FILTER (WHERE rt < {HIST_BOUNDS[0]})"]
    buckets += [f"count(*) FILTER (WHERE rt >= {lo} AND rt < {hi})"
                for lo, hi in zip(HIST_BOUNDS, HIST_BOUNDS[1:])]
    buckets.append(f"count(*) FILTER (WHERE rt >= {HIST_BOUNDS[-1]})")
    for row in con.execute(f"""
        SELECT {grp} dist, epoch(date_trunc('minute', ts))::BIGINT,
               count(rt), sum(rt), min(rt), max(rt), {', '.join(buckets)}
        FROM f GROUP BY {gby} dist, 3""").fetchall():
        src, dist, ws, n, s, lo, hi, *bc = row
        put(src, ("request_time", ws, _res(dist), frozenset()),
            (n, s, lo, hi, tuple(bc)))
    con.close()
    return out if by_source else out.get("", {})


def sink_points(out_dir: str, metric_dirs: dict[str, str],
                partitioned: bool = False) -> dict:
    """Data points read back by DuckDB from the parquet sinks under
    `out_dir` (metric name -> sink directory name). Streaming sinks are
    partitioned and may hold one row per (key, micro-batch): rows of one
    key are combined — counts and sums added, min/max of extremes."""
    con = _connect()
    pts: dict = {}
    for metric, d in metric_dirs.items():
        glob = f"{out_dir}/{d}/**/*.parquet" if partitioned else f"{out_dir}/{d}/*.parquet"
        hist = metric in HIST_METRICS
        cols = ("count, sum, min, max, bucket_counts" if hist else "value")
        rows = con.execute(f"""
            SELECT epoch(window_start)::BIGINT, resource_attrs, attrs, {cols}
            FROM read_parquet('{glob}', hive_partitioning = {str(partitioned).lower()})
        """).fetchall()
        for ws, res, attrs, *vals in rows:
            key = (metric, ws,
                   frozenset((a["key"], a["value"]) for a in res),
                   frozenset((a["key"], a["value"]) for a in attrs))
            if hist:
                n, s, lo, hi, bc = vals
                v = (n, s, lo, hi, tuple(bc))
            else:
                v = (vals[0],)
            pts[key] = _combine(pts[key], v) if key in pts else v
    con.close()
    return pts


def _combine(a: tuple, b: tuple) -> tuple:
    if len(a) == 1:
        return (a[0] + b[0],)
    return (a[0] + b[0], a[1] + b[1], min(a[2], b[2]), max(a[3], b[3]),
            tuple(x + y for x, y in zip(a[4], b[4])))


def _close(x, y) -> bool:
    if isinstance(x, tuple) or isinstance(y, tuple):
        return (isinstance(x, tuple) and isinstance(y, tuple)
                and len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y)))
    if x is None or y is None:
        return x is y
    return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)


def compare_points(expected: dict, actual: dict, limit: int = 5) -> list[str]:
    """Human-readable mismatches (at most `limit`); empty when equal.
    Values compare with a 1e-9 relative tolerance, since sums accumulate
    in a different order."""
    problems = []
    for key in sorted(expected.keys() - actual.keys(), key=repr)[:limit]:
        problems.append(f"missing {key}")
    for key in sorted(actual.keys() - expected.keys(), key=repr)[:limit]:
        problems.append(f"unexpected {key}")
    for key in sorted(expected.keys() & actual.keys(), key=repr):
        if not _close(expected[key], actual[key]):
            problems.append(f"value {key}: want {expected[key]} got {actual[key]}")
            if len(problems) >= 3 * limit:
                break
    return problems


def corpus_problems(out_dir: str, tokens_kept: int, pack_budget: int) -> tuple[list[str], str]:
    """The corpus job's invariants, read back from its written sequences:
    packed tokens equal the funnel's tokens_kept and no sequence exceeds
    pack_budget. Also returns a digest of the sorted output, which must be
    the same for every run over the same input."""
    con = _connect()
    glob = f"{out_dir}/sequences/**/*.parquet"
    n_tok, longest, digest = con.execute(f"""
        SELECT coalesce(sum(len(tokens)), 0), coalesce(max(len(tokens)), 0),
               md5(coalesce(string_agg(source || ':' || seq_id || ':' ||
                   array_to_string(tokens, ','), ';' ORDER BY source, seq_id), ''))
        FROM read_parquet('{glob}', hive_partitioning = true)""").fetchone()
    con.close()
    problems = []
    if n_tok != tokens_kept:
        problems.append(f"packed tokens {n_tok} != tokens_kept {tokens_kept}")
    if longest > pack_budget:
        problems.append(f"sequence of {longest} tokens exceeds pack_budget {pack_budget}")
    return problems, digest
