"""CDC lifecycle benchmark: one workload per invocation.

    python3 perfbench/run.py --workload cdc_churn --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds nothing: it imports the engine from
the checkout it sits in, generates the workload's inputs from ``--seed``,
warms up, runs closed-loop cycles for ``--seconds``, checks the outputs,
and prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it is the run record: host, per-load input counts, check results and the
metrics under the names the README's table uses. Every file it writes is
under ``.perfbench/`` in the checkout. Exit status is 0 only when every
op succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# TPC-H scale of the generated tables: lineitem has 60k rows. A delta
# load at this size is bound by its ~30 Spark jobs, not by the rows.
SF = 0.01
DRIVER_MEM = "2g"


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def contending_jvms() -> int:
    """Other Spark JVMs on the host, counted as bench.py counts them."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
        if b"SparkSubmit" in cmd or b"pyspark-shell" in cmd:
            n += 1
    return n


def isolate_writes(work: Path) -> None:
    """Keep Spark's scratch space and every temp file inside the checkout.
    ``-XX:-UsePerfData`` stops the JVM from writing its monitoring file to
    /tmp, which it does whatever ``java.io.tmpdir`` says."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def _peak_rss_mb(jvm_pid: int) -> float:
    kb = 0
    for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            kb = int(line.split()[1])
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def start_session(wl, t_start: float):
    """Start Spark while ``wl`` generates its inputs; return the session
    and the input-generation time."""
    from concurrent.futures import ThreadPoolExecutor

    from odbc2deltalake_spark.session import get_spark

    with ThreadPoolExecutor(max_workers=1) as pool:
        gen = pool.submit(lambda: (wl.generate(), time.perf_counter() - t_start)[1])
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            },
        )
        try:
            return spark, gen.result()
        except BaseException:
            stop_session(spark)
            raise


def run_workload(spark, wl, seconds: float, trace: bool, t_start: float) -> dict:
    """Warm up, loop and verify one workload whose inputs are generated;
    return its metrics, record and attempted/failed counts. ``t_start``
    is when set-up began, so session start and input generation are
    charged to ``setup_s``."""
    from perfbench import metrics
    from perfbench.workloads import Runner

    name = wl.name
    wl.bind(spark)
    r = Runner(spark, seconds, trace, wl.MIN_CYCLES)
    r.start_cycle(-1)
    t = time.perf_counter()
    wl.warm_up(r)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_start

    t_loop = time.perf_counter()
    cycles = 0
    while not r.errors and not r.done(t_loop, cycles):
        r.start_cycle(cycles)
        if not wl.cycle(r, cycles):
            break
        wl.after_cycle(cycles)
        cycles += 1
    loop_s = time.perf_counter() - t_loop
    r.stop_tracing()
    t = time.perf_counter()
    if not r.errors:
        wl.verify(r)
    verify_s = time.perf_counter() - t

    attempted = len(r.warmup_ops) + len(r.ops) + len(r.checks)
    failed = (
        sum(not o.ok for o in r.warmup_ops + r.ops)
        + sum(not c[1] for c in r.checks)
    )
    e2e = metrics.end_to_end(wl, r, setup_s)
    record = {
        "workload": name, "seed": wl.seed, "sf": wl.sf, "seconds": seconds,
        "trace": int(trace), "cycles": cycles, "loop_s": loop_s, "verify_s": verify_s,
        "warm_up_s": warmup_s,
        "ops_failed_frac": failed / max(1, attempted),
        "loads": wl.loads,
        "checks": [{"name": n, "ok": ok, "problem": p, "s": t} for n, ok, p, t in r.checks],
        "ops": [{"kind": o.kind, "cycle": o.cycle, "wall_s": o.wall, "ok": o.ok}
                for o in r.warmup_ops + r.ops],
        "errors": r.errors,
        "named": metrics.named(name, e2e, failed / max(1, attempted)),
    }
    out = {"e2e": e2e, "record": record, "attempted": attempted, "failed": failed, "runner": r}
    if trace:
        out["layers"] = metrics.per_layer(wl, r)
        r.tracer.write_jsonl(ROOT / ".perfbench" / "out" / f"spans-{name}-s{wl.seed}.jsonl")
    return out


def main(argv=None) -> int:
    if not (ROOT / "odbc2deltalake_spark" / "__init__.py").is_file():
        print(f"perfbench: no odbc2deltalake_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = _parse(argv)
    work = ROOT / ".perfbench" / f"work-{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    isolate_writes(work)
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    host = {
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "host_cpus": cpus,
        "contending_spark_jvms": contending_jvms(),
    }

    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, SF)
    steal0, total0 = cpu_jiffies()
    t_start = time.perf_counter()
    spark, inputs_s = start_session(wl, t_start)
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        res = run_workload(spark, wl, args.seconds, bool(args.trace), t_start)
        res["e2e"]["driver_peak_rss_mb"] = _peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    from perfbench import metrics

    steal1, total1 = cpu_jiffies()
    # share of host CPU time the hypervisor gave to other guests during
    # the run: the main source of run-to-run spread on a shared host
    host["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    res["record"]["host"] = host
    res["record"]["inputs_ready_s"] = inputs_s
    res["record"]["named"]["driver_peak_rss_mb"] = res["e2e"]["driver_peak_rss_mb"]
    ok = res["failed"] == 0
    values = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({"record": res["record"]}, default=str))
    print(json.dumps({
        "correct": ok,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics.with_units(values, trace=bool(args.trace)),
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
