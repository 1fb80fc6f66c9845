"""The benchmark's workloads: one operation each, driven through the
package's public entry points, plus the traced variant that wraps every
call into a layer in a span and measures the sequential layers as a
ladder of noop-sink prefixes.

An operation is what `latency_p50_s` times and `fail_rate` counts:
one S3 object (per_object), one availableNow drain (stream_stateful) or
one run (bulk, corpus).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from typing import Callable

from measure import Tracer
import oracle
import inputs

# Input sizes per workload. Sized so that one run, set-up included, stays
# inside the benchmark's per-run budget on a 4-CPU host; the per_object,
# stream_stateful and corpus operations cost mostly fixed per-job overhead
# at these sizes (a corpus operation takes ~7.5 s whether it reads 200
# documents or 800).
BULK_INPUT = {"n_rows": 24_000}
STREAM_INPUT = {"n_rows": 12_000}
# 4 files x 6 distributions = 24 objects in one hour; the hot
# distribution's objects hold ~650 lines, the others ~130
OBJECT_INPUT = {"n_rows": 5_200, "partitioned": True, "n_hours": 1,
                "rows_per_file": 1_300}
CORPUS_DOCS = 800
PACK_BUDGET = 2048
NEAR_DUP_JACCARD = 0.8    # an LSH pair at or above this estimate is useful


class NullTracer:
    """Stands in for Tracer in untraced operations."""

    class _Span:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def span(self, name, diagnostic=False):
        return self._Span()


class SparkHooks:
    """Span-boundary hooks: one job group per layer, and the layer's jobs,
    completed tasks and shuffle-write bytes from the driver's status store.
    Jobs are attributed by id range, so jobs submitted from helper threads
    (the parallel sink writes, streaming queries) count for the layer that
    started them even though those threads do not inherit the job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._next_job = 0
        self._starts: list[int] = []
        self._groups: list[str | None] = [None]

    def _job_cursor(self) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        while self.tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        return self._next_job

    def enter(self, name: str) -> None:
        self._starts.append(self._job_cursor())
        self._groups.append(name)
        self.sc.setJobGroup(name, name)

    def exit(self, name: str) -> dict:
        lo, hi = self._starts.pop(), self._job_cursor()
        self._groups.pop()
        if self._groups[-1] is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(self._groups[-1], self._groups[-1])
        store = self.sc._jsc.sc().statusStore()
        tasks = shuffle = 0
        for job in range(lo, hi):
            info = self.tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = self.tracker.getStageInfo(stage)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                tasks += st.numCompletedTasks
                shuffle += store.lastStageAttempt(stage).shuffleWriteBytes()
        return {"jobs": hi - lo, "tasks": tasks, "shuffle_bytes": shuffle}


def run_prefix(df) -> dict:
    """Execute a DataFrame's physical plan to the end and drop the rows
    (the noop sink of the ladder). Returns its output rows and the files
    its scans read, from the executed plan's metrics."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    leaves = qe.executedPlan().collectLeaves()
    files = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics().get("numFiles")
        if m.isDefined():
            files += m.get().value()
    return {"rows": rows, "files": files}


def scan_ladder(spark, tr: Tracer, table: str, source: str | None) -> dict:
    """scan -> parse -> enrich as noop prefixes; a layer's time is its
    delta over the prefix before it."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.operators.enrich import enrich
    from cflog2otel_spark.operators.parse import decode_and_parse
    from cflog2otel_spark.sources.tokenized import read_tokenized

    scan = read_tokenized(spark, table)
    if source is not None:
        scan = scan.filter(F.col("source") == source)
    parse = decode_and_parse(scan)
    steps = [("scan", scan), ("parse", parse),
             ("enrich", enrich(parse, on_bad_key="skip"))]
    counts = {}
    for name, df in steps:
        with tr.span(f"ladder.{name}", diagnostic=True):
            counts[name] = run_prefix(df)
    return {"scan.rows": counts["scan"]["rows"],
            "scan.files": counts["scan"]["files"],
            "parse.rows_out": counts["parse"]["rows"],
            "enrich.rows_out": counts["enrich"]["rows"]}


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


@dataclass
class Op:
    """One operation's outcome: records it consumed and how to check it."""
    records: int
    check: Callable[[], list[str]]
    extra: dict = field(default_factory=dict)


class Workload:
    """Base: subclasses prepare inputs (untimed), compute the
    oracle, and run one operation, traced or not."""

    name = ""

    def __init__(self, work_dir: str, seed: int):
        # the session (started before prepare(), which generates the
        # inputs in it) and the loaded Config
        self.spark = self.cfg = None
        self.work_dir, self.seed = work_dir, seed
        self._n = 0

    def out_dir(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.work_dir, f"{kind}-{self._n}")

    def prepare(self) -> None:
        """Inputs and the oracle's expected outputs. Runs after the
        session starts and before the set-up's warm-up; not timed."""
        raise NotImplementedError

    def warmup(self) -> None:
        """The set-up's warm-up pass of the workload's code path."""
        self.op()

    def op(self, tr=None) -> Op:
        raise NotImplementedError


def _metric_dirs(cfg) -> dict[str, str]:
    from cflog2otel_spark.pipeline import sink_dirname

    return {m.name: sink_dirname(m.name) for m in cfg.metrics}


class _ProductPath(Workload):
    """main.py's --out --checkpoint-dir --export-otlp sequence after the
    parsed, scoped record set is built: run_pipeline_parsed ->
    write_run_manifest -> write_sinks -> encode_otlp -> to_wire ->
    encode_export_request. The HTTP POST is replaced by building its body."""

    def parsed(self, table: str, source: str | None):
        from pyspark.sql import functions as F

        from cflog2otel_spark.operators.enrich import enrich, with_event_context
        from cflog2otel_spark.operators.parse import decode_and_parse
        from cflog2otel_spark.sources.events import (
            collect_s3_records,
            dummy_s3_notification,
            s3_record_context,
        )
        from cflog2otel_spark.sources.tokenized import read_tokenized

        parsed = enrich(decode_and_parse(read_tokenized(self.spark, table)),
                        on_bad_key="skip")
        if source is None:
            return parsed
        (rec,) = collect_s3_records(dummy_s3_notification(f"s3://bench-bucket/{source}"))
        ctx = s3_record_context(rec)
        return with_event_context(parsed, ctx).filter(F.col("source") == ctx["source"])

    def product(self, parsed, out: str, tr, expected: dict) -> Op:
        from cflog2otel_spark.export import to_wire
        from cflog2otel_spark.golden import encode_otlp
        from cflog2otel_spark.lineage import write_run_manifest
        from cflog2otel_spark.otlp_proto import encode_export_request
        from cflog2otel_spark.pipeline import run_pipeline_parsed, write_sinks

        spark, cfg = self.spark, self.cfg
        traced = isinstance(tr, Tracer)
        tr = tr or NullTracer()
        with tr.span("pipeline.plan"):
            res = run_pipeline_parsed(spark, cfg, parsed)
        extra = {}
        if traced:
            with tr.span("pipeline.persist"):
                res.parsed.count()
            extra["pipeline.cached_bytes"] = cached_bytes(spark)
            with tr.span("aggregate", diagnostic=True):
                for df in res.sinks.values():
                    df.write.format("noop").mode("overwrite").save()
        with tr.span("manifest"):
            rows = write_run_manifest(spark, res, f"{out}/checkpoint", run_id="bench")
        if traced:
            with open(f"{out}/checkpoint/manifest_bench.json") as fh:
                extra["aggregate.points"] = sum(json.load(fh)["sink_rows"].values())
        with tr.span("sink_write"):
            write_sinks(res, f"{out}/sinks")
        with tr.span("export.collect"):
            reqs = encode_otlp(res, cfg)
        with tr.span("export.encode"):
            bodies = [encode_export_request(to_wire(r)) for r in reqs]
        res.unpersist()
        n_points = sum(
            len(m["Data"].get("Sum", m["Data"].get("Histogram"))["data_points"])
            for r in reqs for rm in r["resource_metrics"]
            for sm in rm["scope_metrics"] for m in sm["metrics"])
        extra.update({
            "export.points": n_points,
            "export.bytes": sum(len(b) for b in bodies),
            "sink_write.files": sum(
                1 for _, _, fs in os.walk(f"{out}/sinks") for f in fs
                if f.endswith(".parquet")),
        })
        dirs = _metric_dirs(cfg)

        def check() -> list[str]:
            problems = oracle.compare_points(expected, oracle.sink_points(f"{out}/sinks", dirs))
            if rows != sum(p[0] for k, p in expected.items() if k[0] == "requests"):
                problems.append(f"manifest rows {rows} disagree with the oracle")
            if n_points != len(expected):
                problems.append(f"{n_points} OTLP data points, oracle has {len(expected)}")
            return problems

        return Op(rows, check, extra)


class Bulk(_ProductPath):
    name = "bulk"

    def prepare(self) -> None:
        self.inp = inputs.log_inputs(self.spark, self.work_dir, self.seed, BULK_INPUT)
        self.expected = oracle.expected_points(self.inp["lines"])

    def op(self, tr=None) -> Op:
        if tr is not None:
            extra = scan_ladder(self.spark, tr, self.inp["tokenized"], None)
        res = self.product(self.parsed(self.inp["tokenized"], None),
                           self.out_dir("bulk"), tr, self.expected)
        if tr is not None:
            res.extra.update(extra)
        return res


class PerObject(_ProductPath):
    """Closed loop, one caller: each S3 notification is handled to the
    end (its OTLP request bytes exist) before the next is handed over.
    Timed objects are the hot distribution's (~650 lines each, so every
    run sees the same object size); the set-up warms up on a small one."""

    name = "per_object"

    def prepare(self) -> None:
        from cflog2otel_spark.sources.generator import DISTRIBUTIONS

        self.inp = inputs.log_inputs(self.spark, self.work_dir, self.seed, OBJECT_INPUT)
        self.expected = oracle.expected_points(self.inp["lines"], by_source=True)
        rng = random.Random(self.seed)
        hot = f"/{DISTRIBUTIONS[0]}."
        self.objects = sorted(k for k in self.expected if hot in k)
        self.small = sorted(k for k in self.expected if hot not in k)
        rng.shuffle(self.objects)
        rng.shuffle(self.small)
        self._next = 0

    def _object(self, key: str, tr) -> Op:
        return self.product(self.parsed(self.inp["tokenized"], key),
                            self.out_dir("object"), tr, self.expected[key])

    def warmup(self) -> None:
        self._object(self.small[0], None)

    def op(self, tr=None) -> Op:
        key = self.objects[self._next % len(self.objects)]
        self._next += 1
        if tr is not None:
            extra = scan_ladder(self.spark, tr, self.inp["tokenized"], key)
        res = self._object(key, tr)
        if tr is not None:
            res.extra.update(extra)
        return res


class StreamStateful(Workload):
    """A fresh-checkpoint availableNow drain of the per-metric stateful
    topology (parse tee + one RocksDB-backed query per metric)."""

    name = "stream_stateful"

    def prepare(self) -> None:
        self.inp = inputs.log_inputs(self.spark, self.work_dir, self.seed, STREAM_INPUT)
        self.expected = oracle.expected_points(self.inp["lines"])

    def drain(self, tr) -> Op:
        from cflog2otel_spark.streaming.stream import run_streaming_pipeline

        out = self.out_dir("stream")
        traced = isinstance(tr, Tracer)
        tr = tr or NullTracer()
        with tr.span("stream.tee"):
            queries = run_streaming_pipeline(
                self.spark, self.cfg, self.inp["tokenized"], f"{out}/sinks",
                f"{out}/checkpoint", watermark="1 hour", trigger_once=True)
        with tr.span("stream.agg"):
            for q in queries:
                q.awaitTermination()
        expected = self.expected
        rows = sum(v[0] for k, v in expected.items() if k[0] == "requests")
        extra = {}
        if traced:
            progress = [p for q in queries for p in q.recentProgress]
            ops = [s for p in progress for s in p.get("stateOperators", [])]
            extra = {
                "stream.staging_bytes": dir_bytes(f"{out}/checkpoint/parsed_staging/data"),
                "stream.queries": len(queries),
                "stream.batches": len(progress),
                "stream.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress),
                "stream.commit_ms": sum(s.get("commitTimeMs", 0) for s in ops),
                "stream.state_rows": sum(s.get("numRowsTotal", 0) for s in ops),
                "stream.state_bytes": sum(s.get("memoryUsedBytes", 0) for s in ops),
            }
        dirs = _metric_dirs(self.cfg)

        def check() -> list[str]:
            return oracle.compare_points(
                expected, oracle.sink_points(f"{out}/sinks", dirs, partitioned=True))

        return Op(rows, check, extra)

    def op(self, tr=None) -> Op:
        if tr is not None:
            extra = scan_ladder(self.spark, tr, self.inp["tokenized"], None)
        res = self.drain(tr)
        if tr is not None:
            res.extra.update(extra)
        return res


class Corpus(Workload):
    """corpus.run_corpus_pipeline + write_corpus, set up as bench.py's
    run_corpus: a 1/17 benchmark slice for decontamination, 0.9 sampling."""

    name = "corpus"

    def prepare(self) -> None:
        self.docs = inputs.documents(self.work_dir, self.seed, CORPUS_DOCS)
        self.digests: set[str] = set()

    def run(self, path: str, tr, digests: set[str] | None) -> Op:
        from pyspark.sql import functions as F

        from cflog2otel_spark.corpus import run_corpus_pipeline, write_corpus
        from cflog2otel_spark.operators.dedup import release_persisted

        traced = isinstance(tr, Tracer)
        tr = tr or NullTracer()
        docs = self.spark.read.parquet(path)
        bench = docs.filter(F.col("doc_id") % 17 == 0)
        out = self.out_dir("corpus")
        with tr.span("corpus.verdicts"):
            res = run_corpus_pipeline(
                self.spark, docs, bench=bench, pack_budget=PACK_BUDGET,
                sample_fractions={}, default_sample_fraction=0.9)
        if traced:
            with tr.span("corpus.pack", diagnostic=True):
                run_prefix(res.sequences)
        with tr.span("corpus.write"):
            manifest = write_corpus(res, out)
        res.unpersist()
        release_persisted()
        funnel = manifest["funnel"]

        def check() -> list[str]:
            problems, digest = oracle.corpus_problems(out, funnel["tokens_kept"], PACK_BUDGET)
            if digests is not None:
                digests.add(digest)
                if len(digests) > 1:
                    problems.append(f"output digest differs between runs: {sorted(digests)}")
            return problems

        return Op(funnel["docs_in"], check, {"corpus.docs_kept": funnel["docs_kept"]})

    def op(self, tr=None) -> Op:
        extra = self.ladder(tr) if tr is not None else {}
        res = self.run(self.docs, tr, self.digests)
        res.extra.update(extra)
        return res

    def ladder(self, tr: Tracer) -> dict:
        """Each gate as its own noop run; a gate's time is its delta over
        the prefix it shares with the job (the scan, or the tokenizer)."""
        from pyspark.sql import functions as F

        from cflog2otel_spark.operators.clustering import dedup_keep
        from cflog2otel_spark.operators.dedup import minhash_lsh_pairs, release_persisted
        from cflog2otel_spark.operators.text import gopher_quality
        from cflog2otel_spark.operators.tokens import (
            sequence_dedup,
            token_ngram_contamination,
            tokenize_documents,
        )

        docs = self.spark.read.parquet(self.docs)
        tok = tokenize_documents(docs)
        bench = tokenize_documents(docs.filter(F.col("doc_id") % 17 == 0))
        steps = [
            ("corpus.scan", docs),
            ("corpus.tokenize", tok),
            ("corpus.quality", gopher_quality(docs)),
            ("corpus.exact_dedup", sequence_dedup(tok)),
            ("corpus.contamination", token_ngram_contamination(tok, bench)),
        ]
        for name, df in steps:
            with tr.span(name, diagnostic=True):
                run_prefix(df)
        pairs = minhash_lsh_pairs(docs)
        with tr.span("corpus.near_dedup", diagnostic=True):
            run_prefix(dedup_keep(docs, pairs.select("a", "b")))
        n, kept = pairs.agg(
            F.count("*"),
            F.coalesce(F.sum((F.col("jaccard_est") >= NEAR_DUP_JACCARD).cast("int")),
                       F.lit(0))).first()
        release_persisted()
        return {"corpus.lsh_candidates": n, "corpus.lsh_pairs_kept": kept}


WORKLOADS = {w.name: w for w in (Bulk, PerObject, StreamStateful, Corpus)}
