#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload per_object --seed 1 --seconds 6 --trace 0

Run from the repository root. Starts a Spark session sized from the host,
generates the workload's inputs from --seed in it (under .perfbench_work/,
removed at exit), finishes the set-up, runs the workload's operation in a
closed loop for --seconds, checks every output against the DuckDB oracle,
and prints one line per metric followed, as the last line, by one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 is a separate run
that reports the per-layer metrics (spans around each call into a layer)
and the tracing overhead. See perfbench/README.md and perfbench/layers.json.
"""

from __future__ import annotations

import time

T_START = time.time()  # "process start" for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from inputs import stop_spark  # noqa: E402
from measure import (  # noqa: E402
    CpuSteal,
    RssSampler,
    Tracer,
    jit_cpu_seconds,
    median,
    tree_cpu_seconds,
)

MIN_OPS = 3  # timed operations per run, however long they take

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MiB",
}
# printed on their own lines with --trace 0, not in the result line: wall
# time on a shared host follows the neighbours' load (see timed())
WALL_UNITS = {
    "latency_p50_s": "s",
    "rows_per_s": "records/s",
    "steal_share": "ratio",
}

# layer -> (span names whose self times are the layer's .s metrics)
# Ladder spans are cumulative prefixes: a layer's time is its delta over
# the prefix named second.
LADDER = {
    "scan.s": ("ladder.scan", None),
    "parse.s": ("ladder.parse", "ladder.scan"),
    "enrich.s": ("ladder.enrich", "ladder.parse"),
    "corpus.tokenize_s": ("corpus.tokenize", "corpus.scan"),
    "corpus.quality_s": ("corpus.quality", "corpus.scan"),
    "corpus.exact_dedup_s": ("corpus.exact_dedup", "corpus.tokenize"),
    "corpus.near_dedup_s": ("corpus.near_dedup", "corpus.scan"),
    "corpus.contamination_s": ("corpus.contamination", "corpus.tokenize"),
}
SPAN_TIMES = {
    "pipeline.plan_s": "pipeline.plan",
    "pipeline.persist_s": "pipeline.persist",
    "aggregate.s": "aggregate",
    "sink_write.s": "sink_write",
    "manifest.s": "manifest",
    "export.collect_s": "export.collect",
    "export.encode_s": "export.encode",
    "stream.tee_s": "stream.tee",
    "stream.agg_s": "stream.agg",
    "corpus.pack_s": "corpus.pack",
    "corpus.write_s": "corpus.write",
}
# counts reported by the operations themselves (Op.extra)
OP_COUNTS = {
    "scan.rows": "rows", "scan.files": "count", "parse.rows_out": "rows",
    "enrich.rows_out": "rows", "pipeline.cached_bytes": "bytes",
    "aggregate.points": "count", "sink_write.files": "count",
    "export.points": "count", "export.bytes": "bytes",
    "stream.staging_bytes": "bytes", "stream.queries": "count",
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms", "stream.state_rows": "rows",
    "stream.state_bytes": "bytes", "corpus.lsh_candidates": "count",
    "corpus.lsh_pairs_kept": "count", "corpus.docs_kept": "count",
}
# layers whose spans report Spark jobs and tasks (the session starts
# before any span, so it has only session.start_s)
LAYERS = ["scan", "parse", "enrich", "pipeline", "aggregate",
          "sink_write", "manifest", "export", "stream", "corpus"]


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric a traced run of `workload` reports, with its
    unit: the corpus layer's for corpus, every other layer's for the log
    workloads. A layer the workload does not run reports 0."""
    common = {"session.start_s": "s", "trace.overhead_s": "s"}
    units = {"aggregate.shuffle_bytes": "bytes"}
    units.update({k: "s" for k in LADDER})
    units.update({k: "s" for k in SPAN_TIMES})
    units.update(OP_COUNTS)
    for layer in LAYERS:
        units[f"{layer}.jobs"] = "count"
        units[f"{layer}.tasks"] = "count"
    corpus = workload == "corpus"
    common.update({k: u for k, u in units.items() if k.startswith("corpus.") == corpus})
    return common


def span_layer(name: str) -> str:
    """Layer a span's jobs and tasks count for."""
    head = name.split(".", 1)
    if head[0] == "ladder":
        return head[1]
    return head[0]


def host_sizing() -> dict[str, str]:
    """Spark launch sized from this host: local[nproc], and a driver heap
    of a quarter of physical memory (1 to 8 GiB). session.py reads both
    from the environment."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    gib = max(1, min(8, kib // (1024 * 1024) // 4))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": f"{gib}g"}


def start_spark():
    from cflog2otel_spark.session import get_spark

    return get_spark(extra={"spark.ui.showConsoleProgress": "false"})


def load_config(spark):
    from cflog2otel_spark.config import Config

    import oracle

    cfg = Config.from_json(oracle.MULTI_CFG)
    cfg.validate_expressions(spark)
    return cfg


def layer_summary(tracer: Tracer, trace_id: int, extra: dict) -> dict[str, float]:
    """One traced operation's per-layer metrics."""
    spans = tracer.by_name(trace_id)
    total = {name: sum(st for _, st in items) for name, items in spans.items()}
    out: dict[str, float] = {}
    for metric, (span, base) in LADDER.items():
        if span in total:
            out[metric] = total[span] - (total.get(base, 0.0) if base else 0.0)
    for metric, span in SPAN_TIMES.items():
        if span in total:
            out[metric] = total[span]
    for span, items in spans.items():
        layer = span_layer(span)
        if layer not in LAYERS:
            continue
        for s, _ in items:
            for key in ("jobs", "tasks"):
                out[f"{layer}.{key}"] = out.get(f"{layer}.{key}", 0) + s.counts.get(key, 0)
    if "aggregate" in spans:
        out["aggregate.shuffle_bytes"] = sum(s.counts.get("shuffle_bytes", 0)
                                             for s, _ in spans["aggregate"])
    out.update(extra)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sizing = host_sizing()
    work_dir = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    os.environ.update(sizing)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    try:
        try:
            from cflog2otel_spark.session import _xms_for
        except ImportError as exc:
            print(f"cannot import the cflog2otel_spark package: {exc}", file=sys.stderr)
            return 2
        # session.py's -Xms default, plus keeping the JVMs' temp files
        # (the driver's and spark-submit's launcher's) in the work directory
        jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}"
        # fixed JIT compiler threads, so their CPU time can be told apart
        # from the operations' (measure.jit_cpu_seconds)
        os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
            f"{_xms_for(sizing['SPARK_DRIVER_MEMORY'])} {jvm_tmp} "
            "-XX:-UseDynamicNumberOfCompilerThreads")
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        result, wall = run(WORKLOADS[args.workload], args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    print(f"# host SPARK_GRAFT_CPUS={sizing['SPARK_GRAFT_CPUS']} "
          f"SPARK_DRIVER_MEMORY={sizing['SPARK_DRIVER_MEMORY']}")
    print(f"# fail_rate {result['failed'] / result['attempted']} ratio "
          f"({result['failed']} of {result['attempted']} operations)")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    for name, value in wall.items():
        print(f"{name} {value} {WALL_UNITS[name]} (wall clock, not gated)")
    print(json.dumps(result))
    return 0


def log(msg: str) -> None:
    print(f"[perfbench] {time.time() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def run(workload_cls, args, work_dir: str) -> tuple[dict, dict]:
    """The result line (correct, attempted, failed, metrics) and the
    wall-clock figures printed beside it."""
    wl = workload_cls(work_dir, args.seed)
    t = time.perf_counter()
    spark = wl.spark = start_spark()
    session_s = time.perf_counter() - t
    log("session started")
    try:
        # inputs and oracle: the benchmark's own preparation, left out of
        # setup_s
        t = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t
        log(f"inputs and oracle ready in {prep_s:.3f}s")
        wl.cfg = load_config(spark)
        wl.warmup()
        setup_s = time.time() - T_START - prep_s
        log(f"set up in {setup_s:.3f}s")

        ops = []
        if args.trace:
            metrics = traced(wl, args.seconds, session_s, ops)
        else:
            metrics = timed(wl, args.seconds, ops, jvm_pid(spark))
            metrics["setup_s"] = setup_s
        log(f"measured {len(ops)} operations")
        failed = 0
        for op in ops:
            problems = op.check()
            if problems:
                failed += 1
                print(f"[perfbench] {wl.name}: oracle mismatch: {problems}", file=sys.stderr)
        log("outputs checked")
    finally:
        stop_spark(spark)
    units = END_TO_END_UNITS if not args.trace else per_layer_units(wl.name)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
    }, {k: metrics[k] for k in WALL_UNITS if k in metrics}


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def timed(wl, seconds: float, ops: list, jvm: int) -> dict:
    """Closed loop with one caller. Per operation: wall time, and the CPU
    time of the Python driver, its JVM and their descendants, less the
    JVM's JIT compiler threads. The gated cost is CPU seconds per
    operation: on a shared host, neighbours' load moved per_object's wall
    latency by up to 65% between runs of one seed (the share of CPU time
    stolen from this guest rose from under 1% to 10%). JIT compilation is
    left out because it is warm-up: still 40-60% of the CPU time of the
    first operations after the set-up, and shrinking with every one."""
    pids = [os.getpid(), jvm]

    def cpu() -> float:
        return tree_cpu_seconds(pids) - jit_cpu_seconds(jvm)

    latencies: list[float] = []
    cpus: list[float] = []
    rates: list[float] = []
    with RssSampler(pids) as rss, CpuSteal() as steal:
        t0 = time.perf_counter()
        while len(latencies) < MIN_OPS or time.perf_counter() - t0 < seconds:
            c, t = cpu(), time.perf_counter()
            op = wl.op()
            latencies.append(time.perf_counter() - t)
            cpus.append(cpu() - c)
            rates.append(op.records / latencies[-1])
            ops.append(op)
    log(f"operations: wall {[round(x, 3) for x in latencies]} s, "
        f"CPU {[round(x, 3) for x in cpus]} s; CPU stolen by other guests {steal.share():.1%}")
    return {
        "cpu_s_per_op": median(cpus),
        "peak_rss_mb": rss.peak / 2**20,
        # wall-clock figures, printed but not gated (see cpu_s_per_op)
        "latency_p50_s": median(latencies),
        "rows_per_s": median(rates),
        "steal_share": steal.share(),
    }


def traced(wl, seconds: float, session_s: float, ops: list) -> dict:
    """Alternate untraced and traced operations. Layer metrics are medians
    over the traced ones; the tracing overhead is the traced operations'
    wall time outside diagnostic spans minus the untraced wall time."""
    from workloads import SparkHooks

    tracer = Tracer(SparkHooks(wl.spark))
    plain: list[float] = []
    spanned: list[float] = []
    summaries: list[dict] = []
    t0 = time.perf_counter()
    while len(plain) < 1 or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        ops.append(wl.op())
        plain.append(time.perf_counter() - t)
        tid = tracer.new_trace()
        with tracer.span("op") as root:
            op = wl.op(tracer)
        ops.append(op)
        diag = sum(s.duration for s in tracer.spans
                   if s.trace_id == tid and s.diagnostic)
        spanned.append(root.duration - diag)
        summaries.append(layer_summary(tracer, tid, op.extra))
    keys = {k for s in summaries for k in s}
    metrics = {k: median([s.get(k, 0) for s in summaries]) for k in keys}
    metrics["session.start_s"] = session_s
    metrics["trace.overhead_s"] = median(spanned) - median(plain)
    return metrics


if __name__ == "__main__":
    raise SystemExit(main())
