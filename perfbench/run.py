"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload live|registry \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout.  It sets up a Spark session three
times (``setup_s`` is their median), runs the workload, checks the
program's outputs, writes everything it measured to a run-scoped
directory under ``.bench_build/runs/``, stops every process it started
(the JVM, its Python workers, the traffic generator) and waits for each
to end, on every way out, and only then prints, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``).  See ``perfbench/DESIGN.md`` for the workloads, the
metrics and which layer should move which end-to-end number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

import common

WORKLOADS = ("live", "registry")


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` ("end_to_end" or "per_layer"),
    as BENCHMARK.json lists them."""
    with open(common.ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    common.check_checkout()
    common.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the finally below runs
    try:
        line = measure(args)
    finally:
        common.stop_processes()
    print(json.dumps(line))
    return 0


def measure(args) -> dict:
    """Run one workload and return the result line."""
    trace = bool(args.trace)
    run_dir = common.new_run_dir(args.workload, args.seed, trace)
    common.prepare_env(trace, run_dir)
    meta = common.run_metadata(args.workload, args.seed, args.seconds, trace)

    import analytics
    import ingest
    import tracing

    tracer = tracing.Tracer() if trace else None
    if args.workload == "registry":
        analytics.data_dir(args.seed)  # generated once per seed, outside set-up
    with common.RssSampler() as sampler:
        spark, setups = common.repeated_setup(f"perfbench-{args.workload}", 3)
        common.mark("setup_done")
        try:
            if args.workload == "live":
                res = ingest.run_live(spark, args.seed, args.seconds, run_dir, sampler, tracer)
            else:
                res = analytics.run_registry(spark, args.seed, sampler, tracer)
        finally:
            spark.stop()
    e2e = dict(res["e2e"])
    e2e["setup_s"] = statistics.median(s["total_s"] for s in setups)
    meta["params"] = res["info"]["params"]
    meta["loadavg_end"] = os.getloadavg()
    meta["setups"] = setups
    mem = res["mem"]
    common.mark("stopped")
    meta["marks"] = common.MARKS
    result = {"meta": meta, "e2e": e2e, "memory": mem, "attempted": res["attempted"], "failed": res["failed"], "info": res["info"]}
    if trace:
        layers, result["trace_overhead"] = tracing.finish(tracer, {**res["layers"], **mem}, setups, run_dir, meta, e2e)
        result["layers"] = layers
        over = result["trace_overhead"]
        sys.stderr.write("perfbench: tracing overhead " + (
            f"{over['frac']:+.1%} of wall_s against {over['baseline_runs']} untraced run(s) of this seed\n"
            if over["frac"] is not None else "not measured: no untraced run of this seed in this checkout\n"))
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in metric_units("per_layer").items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in metric_units("end_to_end").items()}
    common.write_json(run_dir / "result.json", result)
    shutil.rmtree(run_dir / "ckpt", ignore_errors=True)
    return {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
