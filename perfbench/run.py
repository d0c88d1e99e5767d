"""Benchmark entry point.

    python3 perfbench/run.py --workload programs_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints the run's detail as one line starting
with ``perfbench-detail`` and, as the last line of standard output, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).
The full report, spans included, goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# a workload is its parts, run in order in one process as one pass; a dotted
# name runs two single workloads after one set-up
WORKLOADS = {
    "programs_etl": ["wl_programs"],
    "analytics_queries": ["wl_analytics"],
    "events_stream": ["wl_stream"],
    "corpus_dedupe": ["wl_corpus"],
    "programs_etl.events_stream": ["wl_programs", "wl_stream"],
    "analytics_queries.corpus_dedupe": ["wl_analytics", "wl_corpus"],
}
DRIVER_MEM = "1g"


def pin_environment(root: str, tmp: str) -> None:
    """Python workers must import the package from the repo root; Spark's
    scratch space, temp files and every output live in the per-run temp dir."""
    paths = [root, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # fewer glibc malloc arenas: native memory, and so peak RSS, varies
    # less with thread scheduling
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.makedirs(os.environ["TMPDIR"])


def select_metrics(declared: dict, res: dict, trace: bool) -> dict:
    """Every declared end-to-end metric (untraced) or per-layer metric
    (traced), by name, with its declared unit."""
    if trace:
        import harness

        values = harness.per_layer_values(res["detail"])
        return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                for m in declared["per_layer"]}
    return {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
            for m in declared["end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # a run measures one full pass, however long it takes; --seconds is
    # recorded in the report
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("bioeco_portal_etl_spark/__init__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: run from the repository root ({need} not found)", file=sys.stderr)
            return 2
    tmp = os.path.join(root, ".perfbench", "tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pin_environment(root, tmp)
    sys.path[:0] = [HERE, root]

    import harness

    try:
        parts = [importlib.import_module(m) for m in WORKLOADS[args.workload]]
        res = harness.run(parts, args.seed, bool(args.trace), tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    detail = res["detail"]
    metrics = select_metrics(declared, res, bool(args.trace))
    results = os.path.join(root, ".perfbench", "results")
    if args.trace:
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                detail["trace.overhead_s"] = detail["trace.pass_s"] - json.load(fh)["e2e"]["pass_s"]
    report = {k: res[k] for k in ("correct", "attempted", "failed", "errors")}
    report.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  e2e=res["e2e"], detail=detail)
    harness.dump(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                 report)
    brief = {k: v for k, v in detail.items() if k != "span_records"}
    print("perfbench-detail " + json.dumps({"errors": res["errors"], **brief}, default=str))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
