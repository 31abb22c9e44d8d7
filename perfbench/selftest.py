"""Fast self-test of the benchmark: every workload once, traced, in one
Spark session, at the benchmark's scale with the minimum number of cycles.

    python3 perfbench/selftest.py

It checks the benchmark itself: each workload yields every end-to-end and
per-layer metric BENCHMARK.json lists; every traced load records spans
and Spark jobs, and its spans fit inside its wall time; and the workloads
BENCHMARK.json lists pass their correctness checks. A workload it does
not list reports its checks without failing the self-test (README.md
says why full_reload is not listed). Exit status 0 means the benchmark
works.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _trace_problems(r) -> list[str]:
    """Every traced load recorded spans and Spark jobs, and its spans fit
    inside its wall time."""
    from perfbench.metrics import op_breakdown

    out = []
    for s in r.tracer.spans:
        if s.end < s.start:
            out.append(f"span {s.id} {s.layer}.{s.name} is still open")
    for o in r.ops:
        if not (o.traced and o.kind == "load"):
            continue
        b = op_breakdown(r.tracer, o)
        if not b["spans"]:
            out.append(f"traced load in cycle {o.cycle} recorded no spans")
        if not o.jobs:
            out.append(f"load in cycle {o.cycle} counted no Spark jobs")
        if b["unattributed_s"] < 0 or b["streaming_overhead_s"] < 0:
            out.append(f"load in cycle {o.cycle}: spans exceed its wall time: {b}")
    return out


def main() -> int:
    from perfbench import metrics
    from perfbench import run as bench
    from perfbench.workloads import WORKLOADS

    listed = {w["name"] for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]}
    work = ROOT / ".perfbench" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    bench.isolate_writes(work)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", bench.DRIVER_MEM)

    failures = []
    wls = [WORKLOADS[n](work / n, seed=7, sf=bench.SF) for n in sorted(WORKLOADS)]
    spark, _ = bench.start_session(wls[0], time.perf_counter())
    try:
        for wl in wls:
            t0 = time.perf_counter()
            if wl is not wls[0]:
                wl.generate()
            res = bench.run_workload(spark, wl, seconds=0, trace=True, t_start=t0)
            res["e2e"]["driver_peak_rss_mb"] = 1.0
            try:
                metrics.with_units(res["e2e"], trace=False)
                metrics.with_units(res["layers"], trace=True)
            except KeyError as e:
                failures.append(f"{wl.name}: metric {e} missing")
            bad = [k for k, v in res["layers"].items() if not math.isfinite(v)]
            if bad:
                failures.append(f"{wl.name}: non-finite per-layer metrics {bad}")
            failures += [f"{wl.name}: {p}" for p in _trace_problems(res["runner"])]
            if res["attempted"] < 1:
                failures.append(f"{wl.name}: nothing attempted")
            checks = res["record"]["checks"]
            print(f"{wl.name}: attempted={res['attempted']} failed={res['failed']} "
                  f"checks={[(c['name'], c['ok']) for c in checks]}")
            if res["failed"] and wl.name in listed:
                failures.append(f"{wl.name}: {res['record']['errors'] or checks}")
    finally:
        bench.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
