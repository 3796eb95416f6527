"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repository. Inputs are generated from
the seed under ``.perfbench_work/<workload>/`` (emptied first); Spark's local
dirs, the JVM's temp dir and the event log live there too, so the run writes
nowhere else. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer metrics).
The lines before it report every figure with its unit and sample count, the
run environment, the generated inputs and any failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from stats import highest_tail, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # local mode: the driver JVM is the whole cluster


def configure_env(work: str) -> None:
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "TZ": "UTC",  # collect() renders timestamps in the local zone
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    time.tzset()
    tempfile.tempdir = None


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    sys.path.insert(0, ROOT)
    import workloads  # imports the package under test

    wl = workloads.WORKLOADS[args.workload](work, args.seed, bool(args.trace))
    try:
        wl.run(args.seconds)
    finally:
        wl.shutdown()

    name = args.workload
    print(f"# {name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# env " + json.dumps(wl.env_info))
    print("# inputs " + json.dumps(wl.inputs))
    print("# wall_s " + json.dumps(wl.wall_s))
    attempted, failed = wl.counts()
    # a traced run's end-to-end lines come from its untraced phase, which
    # runs after the traced one
    base = workloads.UNTRACED_AFTER if args.trace else workloads.UNTRACED
    e2e = wl.end_to_end(base)
    lat = wl.latencies(base)
    shown = dict(e2e, op_ms_p50=(median(lat), "ms", len(lat)))
    tail = highest_tail(lat)
    if tail:
        shown[f"op_ms_p{tail[0]}"] = (tail[1], "ms", len(lat))
    shown.update(wl.report_extras(base))
    shown["failed_ratio"] = (failed / attempted, "ratio", attempted)
    # VmHWM of the driver JVM plus this process; not gated: the JVM heap
    # grows to different sizes in identical runs
    shown["peak_rss_mb"] = (wl.rss_mb, "MB", 1)
    for k, (v, unit, n) in shown.items():
        print(f"{name} {k} = {v:.6g} {unit} (n={n})")
    for why in wl.failures[:20]:
        print(f"# FAILED {why}")

    if args.trace:
        m = wl.end_to_end(workloads.TRACED)
        for k in ("op_ms_gmean", "ops_per_s"):
            print(f"{name} traced {k} = {m[k][0]:.6g} {m[k][1]} (n={m[k][2]})")
        values = wl.layers
        wanted = spec["per_layer"]
    else:
        values = {k: v[0] for k, v in e2e.items() if k in {m["name"] for m in spec["end_to_end"]}}
        wanted = spec["end_to_end"]
    names = [m["name"] for m in wanted]
    if sorted(values) != sorted(names):
        raise SystemExit(f"metrics {sorted(values)} != BENCHMARK.json {sorted(names)}")
    if args.trace:
        for m in wanted:
            print(f"{name} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0 and not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
