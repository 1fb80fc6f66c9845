"""One SHA-256 per output a batch run hands out, for every configs/*.json.

Each config runs over the same generated corpus (fixed seed and row count)
and prints, per output, a line `<config> <output> <sha256>`:

  golden    encode_golden trees as JSON
  otlp      encode_otlp requests as JSON
  wire      to_wire of each request as JSON
  protobuf  encode_export_request bytes
  json_sink JSON-sink lines, per metric
  parquet   parquet sinks as pyarrow reads them back, per metric

The encoders order their output by construction, so the first four hash
the text as emitted. Sink rows follow the order Spark collects the data
points in, which is no contract, so those two hash their rows sorted.

The corpus is the generator's rows (2024), plus rows every config keeps:
generator rows of 2019-12-01, inside `has_filter.json`'s time range, and a
few hand-written lines whose `x-host-header` is not a `*.cloudfront.net`
host, which `switch_with_cel_value.json` counts. The script exits
non-zero when any config's protobuf output is empty: a digest of empty
output shows nothing.

Two trees that print the same lines hand out the same bytes: run this at
two commits, and under two `TZ` values, and diff what it prints.

Usage: python scripts/output_digest.py [--rows 3000] [--seed 11] [--master local[2]]
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


OTHER_HOST_SOURCE = "logs/E2OTHERHOST.2024-03-01-00.OTHERHOST1.gz"
# tab-separated CloudFront lines (FIXTURES.md §2 field order) served under
# hosts outside *.cloudfront.net
OTHER_HOST_LINES = [
    "\t".join([
        "2024-03-01", t, "LAX1", "392", "192.0.2.100", "GET", "www.example.com",
        "/index.html", status, "-", "curl/7.55.1", "-", "-", "Hit", "OTHERHOST" + t[-2:],
        host, "https", "23", "0.001", "-", "TLSv1.2", "ECDHE-RSA-AES128-GCM-SHA256", "Hit",
        "HTTP/2.0", "-", "-", "11040", "0.001", "Hit", "text/html", "78", "-", "-",
    ])
    for t, status, host in [
        ("00:00:01", "200", "www.example.com"),
        ("00:00:02", "502", "www.example.com"),
        ("00:00:03", "200", "static.example.org"),
        ("00:01:04", "404", "www.example.com"),
    ]
]


def _sha(data: str | bytes) -> str:
    return hashlib.sha256(data.encode("utf-8") if isinstance(data, str) else data).hexdigest()


def _sink_digests(out: str, cfg, fmt: str) -> dict[str, str]:
    """Metric name -> digest of its one sink file's rows, sorted."""
    import pyarrow.parquet as pq

    from cflog2otel_spark.pipeline import sink_dirname

    digests = {}
    for m in cfg.metrics:
        (path,) = glob.glob(os.path.join(out, sink_dirname(m.name), "part-*"))
        if fmt == "json":
            with open(path, encoding="utf-8") as fh:
                digests[m.name] = _sha("".join(sorted(fh)))
            continue
        table = pq.read_table(path)
        rows = sorted(json.dumps(r, sort_keys=True, default=str) for r in table.to_pylist())
        spark_schema = table.schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        digests[m.name] = _sha("\n".join(
            [table.schema.remove_metadata().to_string(), spark_schema.decode(), *rows]
        ))
    return digests


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rows", type=int, default=3000)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args()

    from cflog2otel_spark.config import Config
    from cflog2otel_spark.export import to_wire
    from cflog2otel_spark.golden import encode_golden, encode_otlp
    from cflog2otel_spark.otlp_proto import encode_export_request
    from cflog2otel_spark.pipeline import run_pipeline, write_sinks
    from cflog2otel_spark.session import get_spark
    from cflog2otel_spark.sources.generator import generate_tokenized
    from cflog2otel_spark.sources.tokenized import tokenized_df_from_lines

    spark = get_spark(master=args.master, app_name="output_digest", shuffle_partitions=4)
    empty = []
    try:
        tok = (
            generate_tokenized(spark, args.rows, seed=args.seed, n_hours=2, rows_per_file=500)
            .unionByName(generate_tokenized(
                spark, args.rows // 6, seed=args.seed, n_hours=2, rows_per_file=500,
                start_ts="2019-12-01 00:00:00",
            ))
            .unionByName(tokenized_df_from_lines(spark, OTHER_HOST_LINES, OTHER_HOST_SOURCE))
            .cache()
        )
        for path in sorted(glob.glob(os.path.join(REPO, "configs", "*.json"))):
            name = os.path.basename(path)
            cfg = Config.load(path)
            res = run_pipeline(spark, cfg, tok)
            reqs = encode_otlp(res, cfg)
            proto = b"".join(encode_export_request(to_wire(r)) for r in reqs)
            if not proto:
                empty.append(name)
            lines = [
                ("golden", _sha(json.dumps(encode_golden(res, cfg)))),
                ("otlp", _sha(json.dumps(reqs))),
                ("wire", _sha(json.dumps([to_wire(r) for r in reqs]))),
                ("protobuf", _sha(proto)),
            ]
            with tempfile.TemporaryDirectory() as out:
                for fmt, label in (("json", "json_sink"), ("parquet", "parquet")):
                    write_sinks(res, os.path.join(out, fmt), fmt=fmt)
                    for metric, digest in _sink_digests(os.path.join(out, fmt), cfg, fmt).items():
                        lines.append((f"{label}[{metric}]", digest))
            res.unpersist()
            for output, digest in lines:
                print(f"{name} {output} {digest}", flush=True)
        tok.unpersist()
    finally:
        spark.stop()
    if empty:
        sys.exit(f"empty protobuf output for {', '.join(empty)}")


if __name__ == "__main__":
    main()
