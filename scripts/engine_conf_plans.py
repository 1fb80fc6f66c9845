"""Which engine confs change a plan or a timing: dump every registry
query's join, scan and Python nodes with and without each conf that
`get_spark` used to set, then time the queries each conf reaches.

For each scale-factor directory and each variant (`base`: the session
with none of the confs below set; `control`: the same again, so plan
noise shows; one variant per conf: `base` plus that conf alone), a fresh
process builds every `plans.driver_queries.QUERIES` entry, records the
static plan (AQE's initial plan), collects it, and records the AQE final
plan. Per plan it keeps the join operators (name, join type, build side,
keys without expression ids), the file scans (file, split count) and the
Python evaluation nodes (rows they received). For the queries a builder
runs eagerly (iterative rounds, localCheckpoints, cached inputs) it keeps
the join operators of their static and final plans, read from the SQL
status store. The summary names, per conf, scale factor and plan kind,
the queries whose operators differ from both `base` and `control`: a
plan that one of the two plain sessions also shows is session noise,
not the conf's doing. A query that differs between `base` and `control`
is listed as unstable and timed for no conf.

Then, at the last (largest) scale factor given, one session times each
conf against `base` on the queries whose plans it changes, and the Arrow
batch size on the queries with a Python node (which it reaches without a
plan change): build plus collect, MIN_PAIRS pairs alternating which side
runs first, with the host's CPU steal over each pair read from /proc/stat.

Usage:
  python scripts/engine_conf_plans.py --out plans/r11/engine_confs.json \
      SF_DIR [SF_DIR ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# every conf get_spark set before this evidence was taken, with that value
CONFS = {
    "preferSortMergeJoin=false": ("spark.sql.join.preferSortMergeJoin", "false"),
    "maxShuffledHashJoinLocalMapThreshold=128m": (
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"),
    "files.maxPartitionBytes=256m": ("spark.sql.files.maxPartitionBytes", "256m"),
    "arrow.maxRecordsPerBatch=100000": (
        "spark.sql.execution.arrow.maxRecordsPerBatch", "100000"),
    "arrow.pyspark.enabled=true": ("spark.sql.execution.arrow.pyspark.enabled", "true"),
}
VARIANTS = ["base", "control", *CONFS]

# expression ids and the session-wide lambda variable counter, which
# differ between two builds of one query
_IDS = re.compile(r"#\d+L?|\bplan_id=\d+|\bid=#?\d+|(?<=lambda )(\w+?)_\d+\b")


def _plain(text: str) -> str:
    return _IDS.sub(lambda m: m.group(1) or "", text)


_PYTHON_NODES = ("EvalPython", "MapInPandas", "MapInArrow", "InPandas", "InArrow")


def _session(variant: str):
    from cflog2otel_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="engine_confs", shuffle_partitions=4,
                      extra={"spark.ui.showConsoleProgress": "false"})
    for key, _ in CONFS.values():
        spark.conf.unset(key)
    if variant in CONFS:
        spark.conf.set(*CONFS[variant])
    return spark


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    if cls == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    out = []
    for seq in (node.children(), node.subqueries()):
        out += [seq.apply(i) for i in range(seq.size())]
    return out


def _metric(node, name: str):
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else None


def _operators(plan, executed: bool) -> dict:
    """The join, file scan and Python nodes anywhere under `plan`."""
    joins, scans, python = [], [], []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        if "Join" in cls or cls == "CartesianProductExec":
            joins.append(_plain(node.simpleString(25)))
        elif cls == "FileSourceScanExec":
            paths = node.relation().location().rootPaths()
            files = sorted(os.path.basename(paths.apply(i).toString()) for i in range(paths.size()))
            scans.append({"files": files, "splits": node.inputRDD().getNumPartitions()})
        elif any(k in name for k in _PYTHON_NODES):
            entry = {"node": name}
            if executed:
                entry["rows"] = _metric(node, "pythonNumRowsReceived")
            python.append(entry)
        stack += _children(node)
    return {
        "joins": sorted(joins),
        "scans": sorted(scans, key=json.dumps),
        "python": sorted(python, key=json.dumps),
    }


# a join in the tree of a formatted plan description: `<tree> Name args (id)`
_JOIN = re.compile(
    r"^[\s:|+*-]*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin"
    r"|CartesianProduct)\b([^()]*)\(\d+\)\s*$"
)


def _text_joins(description: str) -> dict:
    """The join operators (name, join type, build side) in the plan trees of
    an executed query's formatted description: its initial (static) and
    final sections, or both for a tree without AQE sections."""
    out = {"static": [], "final": []}
    kinds = ("static", "final")
    for line in description.splitlines():
        if "== Final Plan ==" in line:
            kinds = ("final",)
        elif "== Initial Plan ==" in line:
            kinds = ("static",)
        elif line.startswith("Subquery:"):
            kinds = ("static", "final")  # a subquery's own tree follows
        elif line.startswith("(") or line.startswith("====="):
            kinds = ()  # operator details, not a tree
        elif m := _JOIN.match(line):
            for k in kinds:
                out[k].append(" ".join((m.group(1) + m.group(2)).split()))
    return {k: sorted(v) for k, v in out.items()}


def _executions(spark, after: int) -> list:
    """The SQL executions with an id above `after`, once the listener bus
    has delivered their events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    runs = [seq.apply(i) for i in range(seq.size())]
    return sorted((e for e in runs if e.executionId() > after), key=lambda e: e.executionId())


def one(sf_dir: str, variant: str) -> dict:
    """Every registry query's operators under `variant`, at `sf_dir`: the
    returned DataFrame's plans, and the join operators of the queries its
    builder ran eagerly (iterative rounds, cached inputs)."""
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    from cflog2otel_spark.plans.driver_queries import QUERIES

    spark = _session(variant)
    out = {}
    last = -1
    try:
        for name, (fn, _) in QUERIES.items():
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build = time.perf_counter() - t0
            eager = _executions(spark, last)
            qe = df._jdf.queryExecution()
            static = _operators(qe.executedPlan(), executed=False)
            t0 = time.perf_counter()
            n = len(df.collect())
            wall = time.perf_counter() - t0
            done = _executions(spark, last)
            last = max([last] + [e.executionId() for e in done])
            eager_joins = [_text_joins(e.physicalPlanDescription()) for e in eager]
            out[name] = {
                "static": static,
                "final": _operators(qe.executedPlan(), executed=True),
                **{
                    f"eager_{kind}": sorted(j for e in eager_joins for j in e[kind])
                    for kind in ("static", "final")
                },
                "eager_queries": len(eager),
                "rows": n,
                "build_s": round(build, 3),
                "collect_s": round(wall, 3),
            }
            print(f"[{os.path.basename(sf_dir)} {variant}] {name} {wall:.2f}s",
                  file=sys.stderr)
    finally:
        spark.stop()
    return out


def _steal() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return (cpu[7] if len(cpu) > 7 else 0), sum(cpu)


def ab(sf_dir: str, confs: dict[str, list[str]]) -> dict:
    """Wall time to build and collect each query under `base` and under
    its conf, MIN_PAIRS pairs after one untimed run, alternating which
    side runs first."""
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    from cflog2otel_spark.plans.driver_queries import QUERIES

    spark = _session("base")

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        return time.perf_counter() - t0

    out = {}
    try:
        for label, names in confs.items():
            key, value = CONFS[label]
            for name in names:
                fn = QUERIES[name][0]
                timed(fn)
                pairs = []
                for r in range(MIN_PAIRS):
                    s0, t0 = _steal()
                    got = {}
                    for side in ("base", "conf") if r % 2 == 0 else ("conf", "base"):
                        if side == "conf":
                            spark.conf.set(key, value)
                        got[side] = timed(fn)
                        spark.conf.unset(key)
                    s1, t1 = _steal()
                    pairs.append({"base_s": round(got["base"], 3),
                                  "conf_s": round(got["conf"], 3),
                                  "steal": round((s1 - s0) / max(1, t1 - t0), 4)})
                res = {"runs": pairs, **_summary(pairs)}
                res["steal_gated"] = _summary([p for p in pairs if p["steal"] <= STEAL_GATE])
                out.setdefault(label, {})[name] = res
                print(f"[ab {label}] {name} {res['median_base_s']} -> {res['median_conf_s']}",
                      file=sys.stderr)
    finally:
        spark.stop()
    return out


# a pair whose host CPU steal exceeds this share is left out of the gated
# summary: a neighbour, not the conf, moved it
STEAL_GATE = 0.05
# fewer pairs than this cannot show a gain
MIN_PAIRS = 5


def _summary(pairs: list[dict]) -> dict:
    """Medians of both sides, the base side's quartile spread, and whether
    the conf wins every one of at least MIN_PAIRS pairs by a median gap
    larger than that spread."""
    if not pairs:
        return {"pairs": 0}
    base = sorted(p["base_s"] for p in pairs)
    conf = sorted(p["conf_s"] for p in pairs)
    med_base, med_conf = base[len(base) // 2], conf[len(conf) // 2]
    iqr = base[(3 * len(base)) // 4] - base[len(base) // 4]
    faster = sum(p["conf_s"] < p["base_s"] for p in pairs)
    return {
        "pairs": len(pairs),
        "median_base_s": med_base,
        "median_conf_s": med_conf,
        "base_iqr_s": round(iqr, 3),
        "conf_faster_pairs": faster,
        "gain_outside_noise": len(pairs) >= MIN_PAIRS and faster == len(pairs)
        and med_base - med_conf > iqr,
    }


KINDS = ("static", "final", "eager_static", "eager_final")


def _changed(runs: dict, variant: str) -> dict:
    """kind -> the queries whose operators under `variant` differ from
    `base` and, for a conf, from `control` too."""
    refs = ("base",) if variant == "control" else ("base", "control")
    return {
        kind: sorted(q for q, r in runs[variant].items()
                     if all(runs[ref][q][kind] != r[kind] for ref in refs))
        for kind in KINDS
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dirs", nargs="+")
    ap.add_argument("--out", default="plans/r11/engine_confs.json")
    ap.add_argument("--one", nargs=2, metavar=("SF_DIR", "VARIANT"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one:
        json.dump(one(*args.one), sys.stdout)
        return 0

    sf_dirs = {os.path.basename(d.rstrip("/")): d for d in args.sf_dirs}
    runs = {
        sf: {
            v: json.loads(subprocess.run(
                [sys.executable, os.path.abspath(__file__), d, "--one", d, v],
                check=True, stdout=subprocess.PIPE, text=True,
            ).stdout)
            for v in VARIANTS
        }
        for sf, d in sf_dirs.items()
    }
    changed = {v: {sf: _changed(runs[sf], v) for sf in runs} for v in VARIANTS[1:]}
    # a query whose operators differ between two base sessions says
    # nothing about a conf
    unstable = sorted({q for kinds in changed["control"].values() for qs in kinds.values()
                       for q in qs})

    # time each conf on the queries whose plans it changes, and the Arrow
    # batch size on the queries with a Python node, which it reaches
    # without a plan change
    ab_sf = list(sf_dirs)[-1]
    at = runs[ab_sf]
    reach = {
        label: sorted({q for qs in changed[label][ab_sf].values() for q in qs} - set(unstable))
        for label in CONFS
    }
    reach["arrow.maxRecordsPerBatch=100000"] = sorted(
        q for q, r in at["base"].items() if r["final"]["python"]
    )
    timing = ab(sf_dirs[ab_sf], {k: v for k, v in reach.items() if v})

    plans = {
        sf: {
            q: {
                v: ({k: r[v][q][k] for k in (*KINDS, "eager_queries", "rows")}
                    if v == "base" or any(r[v][q][k] != r["base"][q][k] for k in KINDS)
                    else "same as base")
                for v in VARIANTS
            }
            for q in r["base"]
        }
        for sf, r in runs.items()
    }
    wall = {
        sf: {q: {v: [r[v][q]["build_s"], r[v][q]["collect_s"]] for v in VARIANTS}
             for q in r["base"]}
        for sf, r in runs.items()
    }
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    doc = {
        "command": f"python scripts/engine_conf_plans.py --out {args.out} "
        + " ".join(f"<testdata>/{sf}" for sf in sf_dirs),
        "ab_sf": ab_sf,
        "host": {"cpus": len(os.sched_getaffinity(0)), "memory_gib": round(mem_gib, 1),
                 "master": "local[4]", "spark": _spark_version()},
        "confs": {label: f"{k}={v}" for label, (k, v) in CONFS.items()},
        "changed": changed,
        "unstable": unstable,
        "steal_gate": STEAL_GATE,
        "ab_queries": reach,
        "ab": timing,
        "plans": plans,
        "wall_s": wall,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"changed": changed, "unstable": unstable, "ab_queries": reach}, indent=1))
    return 0


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    raise SystemExit(main())
