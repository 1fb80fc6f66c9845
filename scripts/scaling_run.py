"""Two-parallelism scaling evidence (BASELINE.json north rule): run the
SAME pipeline job over the SAME deterministic corpus at local[N] and
local[4N], report throughput at both + scaling efficiency
thr(4N) / (4 * thr(N)).

Each level runs in its own subprocess (Spark local master is fixed per
JVM). Writes SCALING.json and a markdown table to BENCH.md.

Usage: python scripts/scaling_run.py [--rows 2000000] [--n 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from cflog2otel_spark.session import get_spark
from cflog2otel_spark.config import Config
from cflog2otel_spark.pipeline import run_pipeline, write_sinks
from bench import MULTI_CFG

cpus = int(os.environ["SCALE_CPUS"])
corpus_path = os.environ["SCALE_CORPUS"]
spark = get_spark(master=f"local[{cpus}]", app_name=f"scale{cpus}",
                  shuffle_partitions=cpus)
corpus = spark.read.parquet(corpus_path)
n = corpus.count()
# The FIRST full-scale run in a fresh JVM is 3-10x slower (C2/codegen +
# heap growth; see BENCH.md "measurement protocol") — run the job once
# untimed at full scale, then time three steady-state runs and take the
# MIN. On this steal-prone host VM every timing error is additive
# (neighbor steal adds wall, never removes it), so the minimum is the
# best estimator of the uncontended wall; both parallelism levels get the
# identical protocol, so the efficiency ratio compares steady states, not
# JIT or neighbor noise.
runs = []
for i in range(4):
    t0 = time.time()
    res = run_pipeline(spark, Config.from_json(MULTI_CFG), corpus, keep_payload=False)
    write_sinks(res, f"/tmp/scale_sinks_{cpus}_{i}")
    runs.append(round(time.time() - t0, 3))
    res.unpersist()
    import shutil
    shutil.rmtree(f"/tmp/scale_sinks_{cpus}_{i}", ignore_errors=True)
dt = min(runs[1:])
print(json.dumps({"cpus": cpus, "rows": n, "sec": round(dt, 3),
                  "runs": runs, "cold_sec": runs[0],
                  "seq_per_sec": round(n / dt, 1)}))
spark.stop()
"""


def wait_for_idle(max_wait: int = 600, threshold: float = 2.0) -> None:
    """Block until the 1-minute load average drops below `threshold` —
    launching a level into leftover load (a prior JVM's GC threads, a
    neighbor burst) measured local[8] slower than local[2] once."""
    import time as _time

    t0 = _time.time()
    while _time.time() - t0 < max_wait:
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
        if load1 < threshold:
            return
        print(f"[scaling] waiting for idle (load {load1:.1f})", file=sys.stderr)
        _time.sleep(15)


def run_level(cpus: int, corpus: str) -> dict:
    wait_for_idle()
    env = dict(os.environ, REPO=REPO, SCALE_CPUS=str(cpus), SCALE_CORPUS=corpus)
    out = subprocess.run(
        [sys.executable, "-c", CHILD], env=env, capture_output=True, text=True, timeout=3600
    )
    if out.returncode != 0:
        raise RuntimeError(f"local[{cpus}] run failed:\n{out.stderr[-3000:]}")
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    # 6M rows: a 2M-row job finished in ~14 s at local[8] (measured when
    # session.py still preset -Xms at 3/4 of -Xmx), where the ~3 s fixed per-job cost (scheduler, sink
    # commits) dilutes the ratio — a longer job measures compute scaling,
    # which is what the north rule is about
    ap.add_argument("--rows", type=int, default=6_000_000)
    ap.add_argument("--n", type=int, default=2, help="small parallelism level (big = 4n); default 2 — this sandbox delivers ~2.4 effective cores (see BENCH.md)")
    args = ap.parse_args()

    corpus = f"/tmp/cflog_corpus_scaling_{args.rows}"
    if not os.path.exists(f"{corpus}/_SUCCESS"):
        env = dict(
            os.environ,
            REPO=REPO,
            SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
            BENCH_CORPUS_ROWS=str(args.rows),
            BENCH_CORPUS_PATH=corpus,
        )
        gen = (
            "import os,sys; sys.path.insert(0, os.environ['REPO']);"
            "from cflog2otel_spark.session import get_spark;"
            "import bench; spark = get_spark(master='local[32]');"
            "bench.ensure_corpus(spark); spark.stop()"
        )
        r = subprocess.run([sys.executable, "-c", gen], env=env, timeout=3600,
                           capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError(f"corpus gen failed:\n{r.stderr[-3000:]}")

    small = run_level(args.n, corpus)
    big = run_level(args.n * 4, corpus)
    eff = big["seq_per_sec"] / (4 * small["seq_per_sec"])
    report = {
        "corpus_rows": small["rows"],
        "n_cpus": args.n,
        "levels": [small, big],
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(report, indent=2))
    with open(f"{REPO}/SCALING.json", "w") as fh:
        json.dump(report, fh, indent=2)


if __name__ == "__main__":
    main()
