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

    spark = get_spark(master=args.master, app_name="output_digest", shuffle_partitions=4)
    try:
        tok = generate_tokenized(
            spark, args.rows, seed=args.seed, n_hours=2, rows_per_file=500
        ).cache()
        for path in sorted(glob.glob(os.path.join(REPO, "configs", "*.json"))):
            name = os.path.basename(path)
            cfg = Config.load(path)
            res = run_pipeline(spark, cfg, tok)
            reqs = encode_otlp(res, cfg)
            lines = [
                ("golden", _sha(json.dumps(encode_golden(res, cfg)))),
                ("otlp", _sha(json.dumps(reqs))),
                ("wire", _sha(json.dumps([to_wire(r) for r in reqs]))),
                ("protobuf", _sha(b"".join(encode_export_request(to_wire(r)) for r in reqs))),
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


if __name__ == "__main__":
    main()
