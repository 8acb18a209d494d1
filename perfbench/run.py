"""Repository benchmark: the engine driven through its public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process starts the engine with
``get_spark(cpus=nproc)``, generates the workload's inputs from
``--seed``, sets up (ingest, artifact builds, one untimed warm pass),
measures for ``--seconds`` seconds, checks every output against a
reference, and prints one JSON line
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (see BENCHMARK.json for why each exists) and what the
end-to-end metrics ``latency_s`` (typical), ``latency_tail_s`` and
``cycle_s`` mean on each:

  airport_dashboard  closed loop, 1 client. latency: one HTTP request to
                     a dashboard endpoint, p50 and p90; cycle: median
                     refresh of all four endpoints
  users_cdc_live     open loop at a fixed event rate + 1 checker
                     connection. latency: event freshness, from creation
                     to the first checker response showing it, p50 and
                     p90; cycle: median checker read of users_api_rmt
  index_stream       closed loop, batch after batch. latency: median and
                     maximum batch time, from file write until every
                     index serves the batch; cycle: the whole measured
                     sequence (one batch, so the three are equal)

``setup_s`` runs from session start to the end of the warm pass. The
names are shared because every run must report every end-to-end metric.
``--trace 1`` repeats the run with spans around the calls into each
layer and prints the per-layer metrics instead; layers a workload
bypasses read 0. The tracing overhead is the difference between the
``trace.*`` metrics and the untraced medians of the same names.

Every operation counts in ``attempted``; one the engine refuses or
errors on, or whose output differs from its reference, counts in
``failed``. The run fails (exit code 1, ``"correct": false``) on any
failed operation (``users_cdc_live`` retries one kind of read error
first, see ``wl_users.COMPACTION_RACE``), and exits with code 2 without
a result when the engine package is not beside this directory. Metric names and
units come from ``BENCHMARK.json`` at the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "demo_cdc_users_airline_spark"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def isolate(work: str) -> None:
    """Keep every file Spark and the engine write inside ``work``."""
    for sub in ("idx", "warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "idx"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(work, "tmp"),
        "TZ": "UTC",
    })
    time.tzset()


def stop_engine(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to
    exit: it leaves when its stdin closes, and takes its Python workers
    with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


WORKLOADS = {"users_cdc_live": "wl_users",
             "airport_dashboard": "wl_airport",
             "index_stream": "wl_index"}


def execute(spark, workload: str, seed: int, seconds: float, trace: bool,
            work: str, t_start: float, small: bool = False,
            corrupt: bool = False):
    """Run one workload in an existing session; returns (Result, metrics)."""
    from common import Run
    from tracing import Tracer

    from bench import calibrate

    tracer = Tracer(spark, trace)
    cal = [calibrate(spark)] if trace else []
    module = importlib.import_module(WORKLOADS[workload])
    res = module.run(Run(spark, tracer, seed, seconds, work, t_start,
                         small=small, corrupt=corrupt))
    if not trace:
        return res, {k: (res.e2e[k], u) for k, u in E2E_UNITS.items()}
    cal.append(calibrate(spark))
    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    layers.update(res.layers)
    layers.update({
        "host.jvm_cal_s": sum(c["jvm_sec"] for c in cal) / 2,
        "host.numpy_cal_s": sum(c["numpy_sec"] for c in cal) / 2,
        "trace.own_s": tracer.own_s,
        "trace.latency_s": res.e2e["latency_s"],
        "trace.cycle_s": res.e2e["cycle_s"],
        "error_rate": res.failed / max(1, res.attempted),
    })
    return res, {k: (v, LAYER_UNITS[k]) for k, v in layers.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, ROOT)
    from demo_cdc_users_airline_spark.core.session import get_spark

    t_start = time.perf_counter()
    spark = get_spark("perfbench", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        res, metrics = execute(spark, args.workload, args.seed, args.seconds,
                               args.trace == 1, work, t_start)
    finally:
        stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in res.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
