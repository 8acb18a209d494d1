"""Self-test of the benchmark at tiny sizes (12 flights, 5 events per
file; the index corpus is sf0.001 anyway): every workload must emit every
end-to-end metric, every per-layer metric must come from some workload,
the outputs must check out, and a falsified response or result must be
caught (which raises ``failed`` and so ``error_rate`` above 0).

    python3 perfbench/selftest.py      # from the repository root; ~6 min

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

import run as bench


def main() -> int:
    work = os.path.join(bench.HERE, ".work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    bench.isolate(work)
    sys.path.insert(0, bench.ROOT)
    from demo_cdc_users_airline_spark.core.session import get_spark

    spark = get_spark("perfbench-selftest", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    layers = {"host.jvm_cal_s", "host.numpy_cal_s", "trace.own_s",
              "trace.latency_s", "trace.cycle_s", "error_rate"}
    try:
        for k, workload in enumerate(bench.WORKLOADS):
            for trace, corrupt in ((False, False), (True, False),
                                   (False, True)):
                sub = os.path.join(work, f"{k}{int(trace)}{int(corrupt)}")
                os.makedirs(sub)
                res, metrics = bench.execute(
                    spark, workload, seed=7, seconds=2, trace=trace,
                    work=sub, t_start=time.perf_counter(), small=True,
                    corrupt=corrupt)
                want = bench.LAYER_UNITS if trace else bench.E2E_UNITS
                label = f"{workload} trace={int(trace)} corrupt={int(corrupt)}"
                if set(metrics) != set(want):
                    failures.append(f"{label}: metrics {sorted(metrics)}")
                if trace:
                    layers |= set(res.layers)
                bad = [m for m, (v, _) in metrics.items()
                       if not math.isfinite(v) or (not trace and v <= 0)]
                if bad:
                    failures.append(f"{label}: bad values for {bad}")
                if corrupt != (res.wrong > 0) or res.failed > res.wrong:
                    failures.append(f"{label}: {res.wrong} wrong, "
                                    f"{res.failed} failed of {res.attempted}: "
                                    f"{res.problems[:3]}")
                print(f"{label}: {res.attempted} attempted, {res.failed} "
                      f"failed, {res.wrong} wrong", flush=True)
    finally:
        bench.stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    if layers != set(bench.LAYER_UNITS):
        failures.append("per-layer metrics no workload emits: "
                        f"{sorted(set(bench.LAYER_UNITS) - layers)}; "
                        f"emitted but not declared: "
                        f"{sorted(layers - set(bench.LAYER_UNITS))}")
    for f in failures:
        print(f"FAIL {f}")
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
