"""Benchmark of the fraud-feature loop.

    python3 perfbench/run.py --workload {backfill,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run is one child process with its
own local Spark session (``local[<cores>]``), under a supervisor that
exits only once every process the run started has ended. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (jobs read from the Spark status store, triggers from
a streaming query listener). A detail report with every measurement,
the host settings and the commit goes to ``perfbench-out/`` and, as one
JSON line, to stdout just before the result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("backfill", "stream")
E2E = ("setup_s", "op_p50_ms", "throughput_per_s", "write_p50_ms")
ONLINE_DECISIONS = 8


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def finite(x):
    return isinstance(x, (int, float)) and math.isfinite(x)


def layer_units():
    """Per-layer metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def layer_metrics(layers, units):
    """Result metrics for ``units`` from the measured ``layers``, and the
    names of measured layers that are not finite. A layer this workload
    does not exercise is absent from ``layers`` and reported as 0."""
    metrics = {
        k: {"value": layers[k] if finite(layers.get(k)) else 0.0, "unit": u}
        for k, u in units.items()
    }
    missing = sorted(k for k in units if k in layers and not finite(layers[k]))
    return metrics, missing


def point_layers(tracer, jobs):
    out = {}
    for name in ("featurestore.get_record", "featurestore.put_record", "scoring"):
        d = tracer.durations(name)
        s = common.per_span(jobs, tracer, name)
        out[f"{name}.p50_ms"] = common.median(d) * 1000
        out[f"{name}.jobs"] = common.median(s["jobs_exact"])
        out[f"_{name}.jobs_exact"] = s["jobs_exact"]
    return out


def main(argv=None):
    args = parse(argv if argv is not None else sys.argv[1:])
    # SIGTERM unwinds like an exception, so Spark and the writer process
    # are stopped and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(common.ROOT, common.PKG)):
        print(f"package {common.PKG} not found under {common.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    import backfill
    import stream

    mod = {"backfill": backfill, "stream": stream}[args.workload]
    work = os.environ.get("PERFBENCH_WORK") or os.path.join(
        common.WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    common.rm_tree(work)
    os.makedirs(work)
    spark = None
    try:
        settings = common.host_settings(work)
        t_setup0 = time.time()
        cpu0 = common.cpu_times()
        spark = common.get_session(f"perfbench-{args.workload}")
        tracer = common.Tracer(spark, enabled=bool(args.trace))
        common.log("session started")
        res = mod.run(spark, args, work, tracer, t_setup0)
        common.log("workload done")
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "settings": settings,
            "host": common.host_facts(),
            "attempted": res["attempted"],
            "failed": res["failed"],
            "failed_share": res["failed"] / res["attempted"],
            "cpu_steal_share": common.steal_share(cpu0, common.cpu_times()),
            **res["detail"],
        }
        correct = res["correct"]
        if args.trace:
            units = layer_units()
            layers = {}
            t0, t1 = res["window"]
            if args.workload == "stream":
                puts, decs, problems = __import__("online").phase(
                    spark, res["fg"], work, args.seed, tracer, ONLINE_DECISIONS
                )
                detail.update(put_p50_ms=common.median(puts) * 1000,
                              decision_p50_ms=common.median(decs) * 1000,
                              online_problems=problems)
                correct = correct and not problems
            jobs = tracer.jobs()
            layers.update(mod.layers(tracer, jobs, res))
            layers.update(common.engine_layer(jobs, t0, t1))
            if args.workload == "stream":
                layers.update(point_layers(tracer, jobs))
            # the tracing overhead is this against the untraced op_p50_ms
            layers["trace.op_p50_ms"] = res["e2e"]["op_p50_ms"][0]
            detail["layers"] = layers
            metrics, missing = layer_metrics(layers, units)
            if missing:
                correct = False
                detail["unmeasured_layers"] = missing
            detail["not_applicable_layers"] = sorted(set(units) - set(layers))
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
            if not all(finite(m["value"]) and m["value"] > 0 for m in metrics.values()):
                correct = False
                metrics = {
                    k: {"value": m["value"] if finite(m["value"]) else 0.0, "unit": m["unit"]}
                    for k, m in metrics.items()
                }
        detail["correct"] = correct
        common.write_detail(args.workload, args.seed, args.trace, detail)
        print(json.dumps({"detail": detail}, default=str, sort_keys=True))
        print(json.dumps({
            "correct": bool(correct),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }, sort_keys=True))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        common.rm_tree(work)


def supervise(argv):
    """Run ``main`` in a child process and return its exit code once the
    child and every process it started (the Spark JVM, its Python
    workers, the stream writer) have ended. This process becomes the
    child subreaper, so descendants orphaned by the child are re-parented
    here and can be waited for."""
    common.set_subreaper()
    work = os.path.join(common.WORK_ROOT, f"run-{os.getpid()}")
    env = dict(os.environ, PERFBENCH_CHILD="1", PERFBENCH_WORK=work)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv], env=env
    )

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signum)

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        common.reap_descendants()
        common.log("every process ended")
        common.rm_tree(work)
        with contextlib.suppress(OSError):
            os.rmdir(common.WORK_ROOT)
    return rc


if __name__ == "__main__":
    if os.environ.get("PERFBENCH_CHILD") == "1":
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
