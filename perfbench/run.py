"""KG-construction benchmark for distributed_extraction_framework_spark.

    python3 perfbench/run.py --workload {extract,kg} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of stdout is one JSON
object {correct, attempted, failed, metrics}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced pass. The lines before it are the human-readable report.
Exits non-zero if any output check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "distributed_extraction_framework_spark"

class Context:
    def __init__(self, ws, spark, seed: int, seconds: int, trace: bool):
        self.ws = ws
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "kg"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    import harness as H

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    ws = H.Workspace(ROOT)
    # every temporary file (the package zip get_spark ships, Python
    # workers' scratch) stays inside the checkout
    os.environ["TMPDIR"] = ws.tmp
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    import pyspark.sql  # noqa: F401  (import cost is part of set-up)

    import distributed_extraction_framework_spark.session  # noqa: F401
    import spans as T
    import workloads as W

    import_s = H.process_age_s()
    ctx = None
    code = 1
    try:
        H.log("set-up")
        spark, session_s = H.start_session(ws)
        ctx = Context(ws, spark, args.seed, args.seconds, bool(args.trace))
        setup_s = import_s + session_s
        print(f"# env master={H.MASTER} cores={H.CORES} heap={H.heap_setting()} "
              f"shuffle_partitions={H.SHUFFLE_PARTITIONS} workload={args.workload} "
              f"seed={args.seed} seconds={args.seconds} trace={args.trace}")
        print(f"setup: import {import_s:.3f}s + session {session_s:.3f}s "
              f"-> setup_s {setup_s:.3f}")
        H.log(f"workload {args.workload}")
        try:
            cpu0 = H.cpu_ticks()
            H.reset_heap_peaks(spark)
            with H.RssSampler() as rss:
                run = W.run_extract if args.workload == "extract" else W.run_kg
                out = run(ctx)
            steal = H.steal_frac(cpu0, H.cpu_ticks())
        except Exception:
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        out.e2e["setup_s"] = setup_s
        out.layers["jvm.peak_rss_mb"] = rss.jvm_peak_mb
        out.layers["workers.peak_rss_mb"] = rss.workers_peak_mb
        out.note(rss.describe())
        out.note(f"host: {steal:.1%} of CPU time stolen by the hypervisor during the workload")
        for line in out.lines:
            print(line)
        for name in e2e_units:
            if name in out.e2e:
                print(f"{args.workload:8s} {name:14s} {out.e2e[name]:.6g} {e2e_units[name]}")
        print(f"{args.workload:8s} {'failed_frac':14s} {out.failed / out.attempted:.6g} "
              f"({out.failed}/{out.attempted})")
        if args.trace:
            out.layers["session.start_s"] = session_s
            units = layer_units
            values = {k: out.layers.get(k, 0.0) for k in units}
            for line in T.format_table(out.table):
                print(line)
            with open(os.path.join(ws.traces, f"{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump({"spans": out.spans, "table": out.table, "layers": values,
                           "env": {"master": H.MASTER, "cores": H.CORES,
                                   "heap": H.heap_setting()}},
                          f, indent=1)
            for k, v in values.items():
                print(f"{args.workload:8s} {k:28s} {v:.6g} {units[k]}")
        else:
            units, values = e2e_units, out.e2e
        correct = out.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
        code = 0 if correct else 1
    finally:
        H.stop_session(ctx.spark if ctx is not None else None)
        ws.close()
    return code


if __name__ == "__main__":
    sys.exit(main())
