"""flowlog-spark benchmark: one command, every workload.

    python3 perfbench/run.py --workload decorate_stream --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  The workloads are ``decorate_stream``
and ``query_mix``.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the ``end_to_end`` ones of BENCHMARK.json, with ``--trace 1`` its
``per_layer`` ones, under the names and units it lists.  The line before it
records the run's context (host, Spark version, seed, raw samples).  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

import common
from decorate import DecorateStream, decorate_probe, stream_probe
from querymix import QueryMix, registry_probe
from tracing import ProgressListener, Tracer, jvm_rss_mb

WORKLOADS = {"decorate_stream": DecorateStream, "query_mix": QueryMix}


def _catalogue(kind: str) -> dict[str, str]:
    """Metric names and units of one kind (``end_to_end`` or ``per_layer``)
    as BENCHMARK.json lists them."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _setup(args, work: str, rounds: int, listener=None):
    """Set up ``rounds`` times from a fresh session each time; keep the last
    one.  The first round also launches the JVM."""
    spark = wl = None
    times = []
    cls = WORKLOADS[args.workload]
    for _ in range(rounds):
        if wl is not None:
            wl.teardown()
        common.stop_session(spark)
        t = time.perf_counter()
        spark = common.start_session()
        wl = cls()
        if listener is not None:
            wl.setup(spark, args.seed, work, listener=listener)
        else:
            wl.setup(spark, args.seed, work)
        times.append(time.perf_counter() - t)
    return spark, wl, times


# probes for the layers a workload does not run itself, keyed by the prefix
# of the metric names they report
PROBES = [("parse.", decorate_probe), ("streaming.", stream_probe),
          ("registry.", registry_probe)]


def measure(args, work: str) -> tuple[dict, dict]:
    spark, wl, setup_times = _setup(args, work, 1 + WORKLOADS[args.workload].setup_rounds)
    for _ in range(wl.warm_ops):
        wl.op()
    lat, items = [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        n, dt = wl.op()
        lat.append(dt)
        items.append(n)
        if time.perf_counter() >= deadline:
            break
    attempted, failed, problems = wl.gate()
    tail, pct = common.tail(lat)
    metrics = {
        # the JVM launch in the first round is not the program's set-up
        "setup_s": statistics.median(setup_times[1:]),
        "throughput_per_s": statistics.median([n / dt for n, dt in zip(items, lat)]),
        "latency_p50_s": statistics.median(lat),
    }
    info = {
        "ops": len(lat), "op_unit": wl.unit, "op_latency_s": lat,
        "latency_tail_s": tail, "latency_tail_percentile": pct,
        "setup_rounds_s": setup_times, "problems": problems,
        "attempted": attempted, "failed": failed,
        **getattr(wl, "extra_info", lambda: {})(),
    }
    wl.teardown()
    common.stop_session(spark)
    return metrics, info


def traced(args, work: str) -> tuple[dict, dict]:
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    listener = ProgressListener() if args.workload == "decorate_stream" else None
    with tracer.span("setup"):
        spark, wl, _ = _setup(args, work, 1, listener)
        rss = jvm_rss_mb(spark)
    with tracer.span("warm"):
        for _ in range(wl.warm_ops):
            wl.op()
    # the layer pass also runs plain ops, interleaved with the traced ones,
    # for the tracing overhead
    with tracer.span("layers"):
        if listener is not None:
            layer = wl.layers(tracer, listener)
        else:
            layer = wl.layers(tracer)
    with tracer.span("gate"):
        attempted, failed, problems = wl.gate()
    wl.teardown()
    # layers this workload does not run are measured by short probes, so
    # every traced run reports the whole catalogue
    for family, probe in PROBES:
        if not any(k.startswith(family) for k in layer):
            with tracer.span(f"probe.{family}"):
                layer.update(probe(spark, args.seed, work, tracer))
    common.stop_session(spark)
    tracer.dump(os.path.join(common.OUT_DIR,
                             f"spans-{args.workload}-seed{args.seed}.json"))
    layer["session.jvm_rss_mb"] = rss
    layer["trace.overhead_pct"] = 100.0 * (
        statistics.median(wl.traced_ops) / statistics.median(wl.plain_ops) - 1.0)
    metrics = {k: float(v) for k, v in layer.items()}
    info = {"attempted": attempted, "failed": failed, "problems": problems,
            "untraced_op_s": wl.plain_ops, "traced_op_s": wl.traced_ops}
    return metrics, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.program_present():
        print(f"perfbench: no {common.PACKAGE} package under {common.ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    catalogue = _catalogue("per_layer" if args.trace else "end_to_end")
    common.adopt_orphans()
    cpu_before = common.cpu_times()
    started = time.perf_counter()
    work = os.path.join(common.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    common.reset_dir(work)
    common.prepare_env(work)
    try:
        metrics, info = (traced if args.trace else measure)(args, work)
        info["run_body_s"] = time.perf_counter() - started
    finally:
        try:
            common.shutdown_jvm()
        finally:
            common.reap_descendants()
            shutil.rmtree(work, ignore_errors=True)
    info["run_wall_s"] = time.perf_counter() - started
    missing = sorted(set(catalogue) - set(metrics))
    if missing:
        print(f"perfbench: no value for {', '.join(missing)}", file=sys.stderr)
        return 1
    import pyspark

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": common.nproc(), "loadavg": os.getloadavg(),
        "cpu_steal_pct": common.steal_pct(cpu_before, common.cpu_times()),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "failed_frac": info["failed"] / info["attempted"], **info,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in catalogue.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
