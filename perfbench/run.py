#!/usr/bin/env python3
"""graft benchmark: one command that builds the program from source,
generates a workload's inputs from a seed, drives the program through its
entry points, checks what it committed, and prints the metrics.

    python3 perfbench/run.py --workload pipeline_paced --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import host  # noqa: E402


def _workloads():
    import pipelines
    return {
        "pipeline_paced": (pipelines.paced, pipelines.paced_layers),
        "backfill_drain": (pipelines.backfill, pipelines.backfill_layers),
    }


def _selftest():
    import unittest
    import selftest
    suite = unittest.defaultTestLoader.loadTestsFromModule(selftest)
    if not unittest.TextTestRunner(stream=sys.stderr, verbosity=0).run(suite).wasSuccessful():
        sys.exit("benchmark self-tests failed")


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    _selftest()
    spec = _bench_spec()
    workloads = _workloads()
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    ctx = types.SimpleNamespace(seed=a.seed, seconds=a.seconds, trace=bool(a.trace))
    ctx.prog_cp, ctx.bench_cp, ctx.jsa = build.build()
    ctx.work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)

    run_fn, layers_fn = workloads[a.workload]
    window = host.Window()
    t0 = time.monotonic()
    e2e, attempted, failed, report, layer = run_fn(ctx)
    if ctx.trace:
        metrics_spec = spec["per_layer"]
        values = layers_fn(ctx, e2e, report, layer)
        extra = report.get("extra_checks", [])
        attempted += len(extra)
        failed += sum(not ok for _, ok, _ in extra)
    else:
        metrics_spec = spec["end_to_end"]
        values = e2e
    report["host"] = window.close()
    report["wall_s"] = round(time.monotonic() - t0, 2)
    with open(os.path.join(ctx.work, "report.json"), "w") as f:
        json.dump({"e2e": e2e, "report": report}, f, indent=1, default=str)
    for k, v in report.items():
        print(f"# {k}: {json.dumps(v, default=str)}")
    metrics = {}
    for m in metrics_spec:
        v = values.get(m["name"])
        if v is None:
            sys.exit(f"metric {m['name']} not measured by {a.workload}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # the large per-run directories are not kept between runs
    for d in ("in", "out", "stage", "gen", "tmp", "probe", "in1", "out1"):
        shutil.rmtree(os.path.join(ctx.work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
