"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from --seed under
`.perfbench/data` (cached by seed and size); Spark's scratch and temp files
stay under `.perfbench` too. With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics, and the
spans are written to `.perfbench/out/`. The line before it is a report with
every metric, the latency percentile the tail is taken at and its sample
count, the error rate and any correctness failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _setup_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(base, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    try:
        import neumann_spark  # noqa: F401 — the program under test
        from perfbench.workloads import PER_LAYER, WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _setup_env()

    wl = WORKLOADS[args.workload](ROOT, args.seed, args.seconds, bool(args.trace))
    try:
        res = wl.run()
        spans = wl.tracer.dump() if args.trace else None
    finally:
        wl.stop()

    e2e = res["e2e"]
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "error_rate": res["failed"] / res["attempted"],
        **wl.extra,
    }
    if args.trace:
        layers = dict(wl.layers)
        layers["traced.latency_p50_s"] = e2e["latency_p50_s"][0]
        layers["traced.throughput_ops"] = e2e["throughput_ops"][0]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER}
        report["layers"] = layers
        untraced = _result_path(args, 0)
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]
            report["trace_overhead"] = {
                k: e2e[k][0] - base[k]["value"]
                for k in ("latency_p50_s", "throughput_ops")}
    else:
        metrics = report["metrics"]
    os.makedirs(os.path.dirname(_result_path(args, args.trace)), exist_ok=True)
    with open(_result_path(args, args.trace), "w") as fh:
        json.dump({**report, "ops": wl.op_log, "spans": spans}, fh)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _result_path(args, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench", "out",
                        f"{args.workload}-seed{args.seed}-s{args.seconds}"
                        f"-trace{trace}.json")


if __name__ == "__main__":
    sys.exit(main())
