"""spark-submit entry point.

  spark-submit --py-files cflog2otel_spark.zip main.py \
      --config configs/multi_metrics.json \
      (--input /data/tokenized_corpus | --text-input FILE...) \
      --out /data/sinks \
      [--format parquet|json] [--strict] [--golden-stdout] \
      [--s3-event event.json | --s3-url s3://bucket/key |
       --trigger-source KEY [--event-time 2019-12-01T22:56:00Z]] \
      [--manifest listing.json | --backfill-auto-manifest DIR] \
      [--checkpoint-dir DIR [--resume]] \
      [--export-otlp [URL] [--otlp-encoding json|protobuf]] \
      [--stream] [--config-validate-only] [--render-config] [--local-collector]

Each S3 record of --s3-event/--s3-url is one invocation, scoped to its
object; --trigger-source/--event-time is a one-record invocation; with
neither, the whole input is one. With backfill on, an invocation that has
a manifest and an event time also reads the trigger's gated siblings, and
the whole input is line-gated by --event-time
(cflog2otel_spark/operators/backfill.py).

Usage errors exit 2 before Spark starts. Each invocation then runs to
the end: sinks (under record_<i>/ for a several-record event), golden
stdout, OTLP export and, last, its --checkpoint-dir manifest.

Mirrors the reference CLI surface (/root/reference/cmd/cflog2otel/main.go:43-51):
  --config-validate-only ≈ -config-validate-only
  --render-config ≈ -render-config (evaluate jsonnet, print JSON, exit)
  --local-collector / --golden-stdout ≈ -local-collector (JSON to stdout)
  --s3-url ≈ -s3-url (dummy S3 notification synthesized from the URL);
  --log-level/--log-prettify ≈ -log-level/-log-prettify;
  --trigger-source/--event-time ≈ one S3 record's object key and eventTime;
  --backfill-auto-manifest ≈ the ListObjectsV2 sibling listing
  (app.go:322-336), derived from a directory's file mtimes.

Package a zip for --py-files with: python scripts/make_pyfiles.py
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _env_default(name: str, fallback: str | None = None) -> str | None:
    """Reference flag/env duality (cmd/cflog2otel/main.go:50
    flag.VisitAll(flagx.EnvToFlag)): every reference-shared flag also
    reads its $UPPER_SNAKE environment variable when the flag is absent."""
    import os

    v = os.environ.get(name)
    return v if v not in (None, "") else fallback


def _env_flag(name: str) -> bool:
    v = _env_default(name)
    return (v or "").lower() in ("1", "true", "yes", "on")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="CloudFront-log -> OTel-metrics Spark pipeline")
    ap.add_argument(
        "--config",
        # the reference defaults -config to "cflog2otel.jsonnet"
        # (cmd/cflog2otel/main.go:45); explicit flag > $CONFIG > default
        default=_env_default("CONFIG", "cflog2otel.jsonnet"),
        help="metric config (jsonnet or JSON); default cflog2otel.jsonnet, "
        "not needed with --corpus-pipeline ($CONFIG)",
    )
    ap.add_argument(
        "--log-level",
        default=_env_default("LOG_LEVEL", "info"),
        help="log level: debug/info/warn/error — applied to both python "
        "logging and the Spark JVM logger ($LOG_LEVEL; reference "
        "cmd/cflog2otel/main.go:43)",
    )
    ap.add_argument(
        "--log-prettify",
        action="store_true",
        default=_env_flag("LOG_PRETTIFY"),
        help="indent the JSON run-stats/export lines written to stderr "
        "($LOG_PRETTIFY; reference main.go:44 pretty-prints its JSON logs)",
    )
    ap.add_argument(
        "--corpus-pipeline",
        action="store_true",
        help="run the training-corpus job instead of the cf pipeline: "
        "tokenize -> Gopher quality -> exact + near dedup -> "
        "decontaminate (--bench-input) -> sample -> token-budget mix -> "
        "pack -> write sequences + lineage manifest. --input is the "
        "documents parquet (doc_id, text, source), --out the output dir",
    )
    ap.add_argument(
        "--bench-input",
        help="benchmark documents parquet for token n-gram decontamination "
        "(corpus mode)",
    )
    ap.add_argument(
        "--pack-budget", type=int, default=2048,
        help="tokens per packed training sequence (corpus mode)",
    )
    ap.add_argument(
        "--sample-fraction", type=float, default=None,
        help="deterministic per-doc sample fraction applied to every "
        "source (corpus mode)",
    )
    ap.add_argument(
        "--token-budget", action="append", default=[],
        metavar="SOURCE=N",
        help="per-source token budget, repeatable (corpus mode): keep docs "
        "in id order until the source has N tokens",
    )
    ap.add_argument(
        "--no-quality", action="store_true",
        help="corpus mode: skip the Gopher quality gate",
    )
    ap.add_argument(
        "--quality-rules",
        help="corpus mode: comma-separated subset of Gopher rules to "
        "conjoin (default all five); e.g. drop stopword_ok for "
        "non-English corpora",
    )
    ap.add_argument(
        "--no-near-dedup", action="store_true",
        help="corpus mode: skip MinHash near-dup clustering",
    )
    ap.add_argument("--input", help="tokenized corpus: parquet path or iceberg table")
    ap.add_argument(
        "--text-input",
        nargs="+",
        help="raw CloudFront standard-log files (.gz or plain text) instead of --input",
    )
    ap.add_argument("--out", help="sink output directory")
    ap.add_argument(
        "--format", default="parquet", choices=["parquet", "json"],
        help="sink file format: one parquet file, or JSON lines, per metric",
    )
    ap.add_argument("--strict", action="store_true", help="fail on malformed rows (reference semantics)")
    ap.add_argument(
        "--event-time",
        help="invocation event time (ISO 8601, UTC unless it has an offset): "
        "with backfill on, gates the siblings of --trigger-source, or every "
        "line of the input without one (app.go:341-361)",
    )
    ap.add_argument(
        "--trigger-source",
        help="object key of the triggering file: the run aggregates this "
        "object alone, as for one S3 record, plus its manifest-gated "
        "siblings with backfill on, --event-time and a manifest; its own "
        "lines are never line-gated (app.go:324)",
    )
    ap.add_argument(
        "--manifest",
        help="JSON file mapping object key -> LastModified (the S3 listing); "
        "with backfill on, every invocation with a trigger object and an "
        "event time runs the reference's full object+line backfill gate "
        "(app.go:322-368)",
    )
    ap.add_argument(
        "--backfill-auto-manifest",
        help="directory whose listing becomes the backfill manifest (keys = "
        "paths relative to the directory, LastModified = file mtime UTC) — "
        "the local stand-in for the reference's ListObjectsV2 sibling "
        "discovery (app.go:322-336); alternative to --manifest",
    )
    ap.add_argument(
        "--s3-event",
        help="Lambda event JSON file (raw S3 notification, or SQS/SNS-"
        "wrapped); unwrapped per app.go:58-203 — each S3 record becomes a "
        "trigger: its key scopes the scan (partition pruning), its "
        "eventTime drives the backfill gate, bucket/object fields bind the "
        "CEL context",
    )
    ap.add_argument(
        "--s3-url",
        default=_env_default("S3_URL"),
        help="s3://bucket/key convenience trigger: synthesizes the same "
        "dummy S3 notification the reference builds (main.go:48,86-99 + "
        "generateDummyS3Notification) and runs it through the --s3-event "
        "path ($S3_URL)",
    )
    ap.add_argument(
        "--config-validate-only", action="store_true",
        default=_env_flag("CONFIG_VALIDATE_ONLY"),
    )
    ap.add_argument(
        "--render-config",
        action="store_true",
        default=_env_flag("RENDER_CONFIG"),
        help="evaluate + load the config (jsonnet or JSON) and print its "
        "defaults-applied JSON form, then exit "
        "(reference -render-config, cmd/cflog2otel/main.go:47,61-68)",
    )
    ap.add_argument(
        "--golden-stdout", "--local-collector", dest="golden_stdout",
        action="store_true", default=_env_flag("LOCAL_COLLECTOR"),
    )
    ap.add_argument(
        "--stream",
        action="store_true",
        help="run as a Structured Streaming job over --input (new files = "
        "new micro-batches, the reference's new-object-new-invocation "
        "model); drains available data (availableNow) and writes one delta "
        "row per key per micro-batch under --out (readers sum a key's "
        "rows); requires --checkpoint-dir",
    )
    ap.add_argument(
        "--export-otlp",
        nargs="?",
        const="__config__",
        help="POST the aggregated metrics to an OTLP/HTTP collector. With "
        "no value, uses the config's otel.endpoint (+ otel.gzip); pass a "
        "URL to override",
    )
    ap.add_argument(
        "--otlp-encoding",
        default="json",
        choices=["json", "protobuf"],
        help="OTLP/HTTP body encoding for --export-otlp: proto-JSON or the "
        "binary ExportMetricsServiceRequest (application/x-protobuf — the "
        "message bytes the reference's gRPC exporter frames)",
    )
    ap.add_argument(
        "--export-otlp-grpc",
        help="export the aggregated metrics over OTLP gRPC to HOST:PORT — "
        "the reference's native transport (app.go:243-258); requires the "
        "grpc package (feature-gated like PIL: absent in this sandbox, "
        "fails with a clear error pointing at --export-otlp "
        "--otlp-encoding protobuf, which sends the identical message bytes)",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--checkpoint-dir", help="lineage manifest dir for resumable runs")
    ap.add_argument(
        "--resume",
        action="store_true",
        help="skip sources already marked done in --checkpoint-dir manifests "
        "(an IN-list filter on source = partition pruning on a "
        "source-partitioned layout)",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    import logging

    _LEVELS = {"debug": "DEBUG", "info": "INFO", "warn": "WARN",
               "warning": "WARN", "error": "ERROR"}
    log_level = _LEVELS.get((args.log_level or "info").lower())
    if log_level is None:
        # reference behavior: fall back to info with a warning
        # (cmd/cflog2otel/main.go:104-108,137-139)
        print(f"failed to parse log level {args.log_level!r}, "
              "fallback to info", file=sys.stderr)
        log_level = "INFO"
    logging.basicConfig(
        level=getattr(logging, "WARNING" if log_level == "WARN" else log_level)
    )

    from cflog2otel_spark.config import Config, ConfigError
    from cflog2otel_spark.session import get_spark

    def jd(obj) -> str:
        # --log-prettify indents the JSON diagnostics (main.go:44,75-96)
        return json.dumps(obj, indent=2 if args.log_prettify else None)

    if args.corpus_pipeline:
        if not (args.input and args.out):
            print("--corpus-pipeline requires --input and --out", file=sys.stderr)
            return 2
        budgets: dict[str, int] = {}
        for spec in args.token_budget:
            if "=" not in spec:
                print(f"bad --token-budget {spec!r} (want SOURCE=N)", file=sys.stderr)
                return 2
            src, n = spec.rsplit("=", 1)
            try:
                budgets[src] = int(n)
            except ValueError:
                print(f"bad --token-budget {spec!r} (want SOURCE=N)", file=sys.stderr)
                return 2
        from cflog2otel_spark.corpus import GOPHER_RULES

        rules = GOPHER_RULES
        if args.quality_rules:
            rules = tuple(
                r.strip() for r in args.quality_rules.split(",") if r.strip()
            )
            bad = set(rules) - set(GOPHER_RULES)
            if bad or not rules:
                print(
                    f"bad --quality-rules: {sorted(bad) or 'empty'} "
                    f"(choose from {', '.join(GOPHER_RULES)})",
                    file=sys.stderr,
                )
                return 2
        spark = get_spark(master=args.master, app_name="corpus_pipeline")
        spark.sparkContext.setLogLevel(log_level)
        try:
            from cflog2otel_spark.corpus import run_corpus_pipeline, write_corpus

            t0 = time.time()
            docs = spark.read.parquet(args.input)
            bench = (
                spark.read.parquet(args.bench_input) if args.bench_input else None
            )
            res = run_corpus_pipeline(
                spark,
                docs,
                bench=bench,
                pack_budget=args.pack_budget,
                quality_rules=rules,
                sample_fractions=(
                    {} if args.sample_fraction is not None else None
                ),
                default_sample_fraction=(
                    args.sample_fraction if args.sample_fraction is not None else 1.0
                ),
                token_budgets=budgets or None,
                quality=not args.no_quality,
                near_dup=not args.no_near_dedup,
            )
            manifest = write_corpus(
                res, args.out, input_path=args.input,
                elapsed_sec=time.time() - t0,
            )
            res.unpersist()
            print(jd({"corpus": manifest["funnel"],
                       "run_id": manifest["run_id"]}), file=sys.stderr)
            return 0
        finally:
            spark.stop()

    if not args.config:
        print("--config is required", file=sys.stderr)
        return 2
    try:
        cfg = Config.load(args.config)
    except ConfigError as exc:
        print(f"config error: {exc}", file=sys.stderr)
        return 2
    if args.render_config:
        # serialize the LOADED config (defaults applied — interval "1m",
        # Histogram boundary defaults), matching the reference's marshal of
        # the validated struct (cmd/cflog2otel/main.go:61-68); single
        # evaluation, no Spark
        print(json.dumps(cfg.to_json(), indent=2))
        return 0

    plan = None
    if not args.config_validate_only:
        try:
            plan = _plan(args, cfg)
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2

    spark = get_spark(master=args.master, app_name="cflog2otel")
    spark.sparkContext.setLogLevel(log_level)
    try:
        try:
            cfg.validate_expressions(spark)
        except Exception as exc:
            print(f"config error: {exc}", file=sys.stderr)
            return 2
        if args.config_validate_only:
            print("config is valid")
            return 0

        if args.stream:
            from cflog2otel_spark.streaming.stream import run_streaming_pipeline

            t0 = time.time()
            try:
                queries = run_streaming_pipeline(
                    spark, cfg, args.input, args.out, args.checkpoint_dir
                )
            except ValueError as exc:
                print(str(exc), file=sys.stderr)
                return 2
            for q in queries:
                q.awaitTermination()
            print(
                jd({"run": {"elapsed_sec": round(time.time() - t0, 3)}}),
                file=sys.stderr,
            )
            return 0

        return _run(spark, cfg, args, plan, jd)
    finally:
        spark.stop()


def _plan(args: argparse.Namespace, cfg):
    """The part of a cf run that needs no Spark: every usage check, then
    (invocations, manifest, files, OTLP/HTTP endpoint). An invocation is
    one S3 record of --s3-event/--s3-url, the --trigger-source object, or
    else the whole input; `files` maps each object key read to its
    --text-input file (None: read every file). Raises ValueError, with the
    message to print, for flags a run cannot use."""
    if not args.input and not args.text_input:
        raise ValueError("--input or --text-input is required unless --config-validate-only")
    if args.stream:
        if not (args.input and args.out and args.checkpoint_dir):
            raise ValueError("--stream requires --input, --out and --checkpoint-dir")
        return None
    if args.resume and not args.checkpoint_dir:
        raise ValueError("--resume requires --checkpoint-dir")
    endpoint = args.export_otlp
    if endpoint == "__config__":
        endpoint = cfg.otel.get("endpoint")
        if not endpoint:
            raise ValueError("no OTLP endpoint configured")
    from cflog2otel_spark.export import GRPC_AVAILABLE

    if args.export_otlp_grpc and not GRPC_AVAILABLE:
        raise ValueError("--export-otlp-grpc needs the grpc package; try --otlp-encoding protobuf")

    if args.s3_event or args.s3_url:
        from cflog2otel_spark.sources.events import (
            collect_s3_records, dummy_s3_notification, s3_record_context)

        if args.s3_event:
            with open(args.s3_event) as fh:
                event_json = fh.read()
        else:
            event_json = dummy_s3_notification(args.s3_url)
        invocations = [s3_record_context(r) for r in collect_s3_records(event_json)]
    else:
        invocations = [{"source": args.trigger_source, "event_time": args.event_time}]
    triggers = {ctx["source"] for ctx in invocations} - {None}

    manifest = None
    if args.manifest:
        with open(args.manifest) as fh:
            manifest = json.load(fh)
    elif args.backfill_auto_manifest:
        from cflog2otel_spark.operators.backfill import manifest_from_listing

        manifest = manifest_from_listing(args.backfill_auto_manifest)
    elif cfg.backfill.enabled and triggers:
        print(
            "backfill enabled but no --manifest: sibling discovery "
            "skipped, processing the trigger object only", file=sys.stderr,
        )

    # an object key names the --text-input file that holds its lines, as
    # an S3 key names its object; with backfill on, the manifest's keys
    # name the siblings the gate may read
    files = None
    if args.text_input and triggers:
        from cflog2otel_spark.sources.cf_text import object_files

        keys = triggers | set(manifest or ()) if cfg.backfill.enabled else triggers
        files = object_files(args.text_input, keys)
        missing = sorted(triggers - files.keys())
        if missing:
            raise ValueError(f"object key {missing[0]!r} names none of the input files")
    return invocations, manifest, files, endpoint


def _run(spark, cfg, args: argparse.Namespace, plan, jd) -> int:
    """Run each invocation of `plan` to the end before the next: its rows,
    the one aggregation, sinks, golden stdout, OTLP/HTTP, gRPC and, once
    those are out, the lineage manifest that marks its sources done. Only
    one invocation's data points are held at a time. A failed export
    stops the run with exit code 1, its sources not done."""
    from cflog2otel_spark.golden import encode_golden, encode_otlp
    from cflog2otel_spark.lineage import resume_filter, write_run_manifest
    from cflog2otel_spark.operators.backfill import invocation_rows
    from cflog2otel_spark.operators.enrich import enrich, with_event_context
    from cflog2otel_spark.pipeline import parse_and_enrich, run_pipeline_parsed, write_sinks

    invocations, manifest, files, endpoint = plan
    if not invocations:
        print("no s3 notifications, skipping", file=sys.stderr)
        return 0
    t0 = time.time()
    if args.text_input:
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from cflog2otel_spark.sources.cf_text import read_cf_text

        if files is None:
            parsed = read_cf_text(spark, args.text_input, strict=args.strict)
        else:
            # a named file's rows carry its object key as their source, as
            # an S3 object's rows do
            parsed = reduce(DataFrame.unionByName, (
                read_cf_text(spark, [path], strict=args.strict).withColumn("source", F.lit(key))
                for key, path in files.items()
            ))
        parsed = enrich(parsed)
    else:
        from cflog2otel_spark.sources.tokenized import read_tokenized

        parsed = parse_and_enrich(read_tokenized(spark, args.input), cfg, strict=args.strict)
    if args.resume:
        parsed = resume_filter(parsed, args.checkpoint_dir)

    n_rows = 0
    for i, ctx in enumerate(invocations):
        t_inv = time.time()
        res = run_pipeline_parsed(spark, cfg, invocation_rows(
            with_event_context(parsed, ctx), cfg.backfill,
            ctx["source"], ctx["event_time"], manifest,
        ))
        if args.out:
            # the reference exports per notification; several records get
            # one sink directory each
            out = args.out if len(invocations) == 1 else f"{args.out}/record_{i}"
            write_sinks(res, out, fmt=args.format)
        if args.golden_stdout:
            for tree in encode_golden(res, cfg):
                print(json.dumps(tree, indent=2))
        if endpoint or args.export_otlp_grpc:
            from cflog2otel_spark.export import export_otlp_grpc, export_otlp_http

            reqs, headers = encode_otlp(res, cfg), cfg.otel.get("headers") or None
            target = endpoint
            try:
                if endpoint:
                    n = export_otlp_http(reqs, endpoint, gzip=bool(cfg.otel.get("gzip")),
                                         headers=headers, encoding=args.otlp_encoding)
                    print(jd({"exported": n}), file=sys.stderr)
                if args.export_otlp_grpc:
                    target = args.export_otlp_grpc
                    n = export_otlp_grpc(reqs, target, headers=headers)
                    print(jd({"exported_grpc": n}), file=sys.stderr)
            except Exception as exc:  # the collector's, not the run's: one line
                what = ctx["source"] or " ".join(args.text_input or [args.input])
                print(f"OTLP export of {what} to {target} failed: {exc}", file=sys.stderr)
                return 1
        if args.checkpoint_dir:
            n_rows += write_run_manifest(
                spark, res, args.checkpoint_dir, input_path=args.input,
                elapsed_sec=time.time() - t_inv,
            )
        res.unpersist()

    dt = time.time() - t0
    stats = {"elapsed_sec": round(dt, 3)}
    if args.checkpoint_dir:
        stats.update({"rows": n_rows, "seq_per_sec": round(n_rows / dt, 1)})
    # spark-submit's PythonRunner can merge the child's stderr into
    # stdout; keep --golden-stdout output pure JSON by skipping stats
    if not args.golden_stdout:
        print(jd({"run": stats}), file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
