"""Turn a run's timed ops and spans into the benchmark's metrics.

The metric names and units are defined once, in ``BENCHMARK.json`` at the
repository root; :func:`with_units` emits exactly the metrics listed there
and fails on any it was not given. End-to-end metrics apply to every
workload: each workload's "load" is its own kind of load (a delta load,
a force_full load or a micro-batch pass), and :func:`named` maps them to
the per-workload names the README's tables use.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench.tracing import covered, walk

ROOT = Path(__file__).resolve().parent.parent
LAYERS = ("db_to_delta", "destination", "sources", "tablestore", "streaming")
# spans of these layers are the work below the load engine's own code
_BELOW_ENGINE = ("destination", "sources", "tablestore")
_TABLES = ("delta", "delta_1", "delta_2", "primary_keys_ts", "latest_pk_version", "log")
KINDS = ("load", "noop", "read")


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(wl, r, setup_s: float) -> dict:
    ok = [o for o in r.ops if o.ok]
    walls = {k: [o.wall for o in ok if o.kind == k] for k in KINDS}
    loads = [o for o in ok if o.kind == "load"]
    dest_bytes, source_bytes = wl.bytes_at_min_cycles or (0, 0)
    return {
        "setup_s": setup_s,
        "load_p50_s": _median(walls["load"]),
        "noop_p50_s": _median(walls["noop"]),
        "read_p50_s": _median(walls["read"]),
        "rows_per_s": _median([o.rows / o.wall for o in loads if o.wall > 0]),
        "dest_bytes_per_source_byte": dest_bytes / source_bytes if source_bytes else 0.0,
        "load_jobs": _median([o.n_jobs for o in loads]),
        "read_jobs": _median([o.n_jobs for o in ok if o.kind == "read"]),
    }


# README name of each end-to-end metric, per workload
_NAMED = {
    "cdc_churn": {
        "load_p50_s": "delta_load_p50_s",
        "noop_p50_s": "noop_load_p50_s",
        "rows_per_s": "churn_rows_per_s",
    },
    "full_reload": {
        "load_p50_s": "full_load_p50_s",
        "noop_p50_s": "noop_load_p50_s",
        "rows_per_s": "full_load_rows_per_s",
    },
    "stream_microbatch": {
        "load_p50_s": "microbatch_p50_s",
        "noop_p50_s": "noop_microbatch_p50_s",
        "rows_per_s": "stream_rows_per_s",
    },
}


def named(workload: str, e2e: dict, failed_frac: float) -> dict:
    out = {_NAMED[workload].get(k, k): v for k, v in e2e.items()}
    out["current_read_p50_s"] = out.pop("read_p50_s")
    out["ops_failed_frac"] = failed_frac
    if workload == "cdc_churn":
        # the highest percentile with >= 10 samples beyond it needs >= 11
        # delta loads; a run of run_seconds does not reach that
        out["delta_load_tail_s"] = None
    return out


def _charged_layer(job: dict, spans: dict) -> str:
    """Layer of the deepest span open when the job was submitted; jobs
    under no layer span are the engine's own (db_to_delta)."""
    open_spans = [spans[s] for s in job["spans"] if s in spans]
    layered = [s for s in open_spans if s.layer != "op"]
    if not layered:
        return "db_to_delta"
    return max(layered, key=lambda s: s.depth).layer


def op_breakdown(tr, op) -> dict:
    """Split a traced op's wall time into: time covered by spans below the
    engine (``below_s``); the engine's own time outside them
    (``unattributed_s``); and, for a streaming pass, the part outside its
    foreachBatch spans (``streaming_overhead_s``). The three add up to the
    wall time by construction; concurrent spans are merged, not summed."""
    desc = tr.descendants(op.span)
    lo, hi = op.span.start, op.span.end
    fb = [(s.start, s.end) for s in desc if s.layer == "streaming"]
    engine = covered(fb, lo, hi) if fb else hi - lo
    below = covered([(s.start, s.end) for s in desc if s.layer in _BELOW_ENGINE], lo, hi)
    return {
        "wall_s": hi - lo,
        "below_s": below,
        "unattributed_s": engine - below,
        "streaming_overhead_s": (hi - lo) - engine,
        "spans": len(desc),
    }


def per_layer(wl, r) -> dict:
    """Per-layer metrics of a traced run: Spark counts and committed files
    are per-op medians over every timed cycle; span times and calls are
    totals per traced cycle (README.md defines each one)."""
    tr = r.tracer
    spans = {s.id: s for s in tr.spans}
    selfs = tr.self_times()
    ops = [o for o in r.ops if o.ok]
    traced = [o for o in ops if o.traced and o.span is not None]
    # only the engine's calls: the benchmark's own probes and checks run
    # between ops while the wrappers are installed, outside any op span
    in_ops = [s for o in traced for s in tr.descendants(o.span)]
    n_traced = max(1, len({o.cycle for o in traced}))
    n_cycles = max(1, len({o.cycle for o in ops}))
    m: dict[str, float] = {}

    for k in KINDS:
        of_kind = [o for o in ops if o.kind == k]
        m[f"spark.jobs.{k}"] = _median([len(o.jobs) for o in of_kind])
        m[f"spark.stages.{k}"] = _median([sum(j["stages"] for j in o.jobs) for o in of_kind])
        m[f"spark.tasks.{k}"] = _median([sum(j["tasks"] for j in o.jobs) for o in of_kind])
        m[f"spark.shuffle_write_bytes.{k}"] = _median(
            [sum(j["shuffle_write_bytes"] for j in o.jobs) for o in of_kind])
        m[f"tablestore.files_committed.{k}"] = _median([len(o.files_committed) for o in of_kind])
        m[f"tablestore.bytes_committed.{k}"] = _median(
            [sum(o.files_committed.values()) for o in of_kind])
    m["spark.failed_tasks"] = float(sum(
        j["failed_tasks"] for o in r.warmup_ops + r.ops for j in o.jobs))

    traced_loads = [o for o in traced if o.kind == "load"]
    for layer in LAYERS:
        m[f"{layer}.jobs.load"] = _median([
            sum(_charged_layer(j, spans) == layer for j in o.jobs) for o in traced_loads])
        m[f"{layer}.self_s"] = sum(
            selfs[s.id] for s in in_ops if s.layer == layer) / n_traced

    for k in ("load", "noop"):
        parts = [op_breakdown(tr, o) for o in traced if o.kind == k]
        m[f"db_to_delta.unattributed_s.{k}"] = _median([p["unattributed_s"] for p in parts])
        if k == "load":
            m["streaming.overhead_s"] = _median([p["streaming_overhead_s"] for p in parts])

    def busy(layer, name, table=None):
        hits = [s for s in in_ops if s.layer == layer and s.name == name
                and (table is None or s.table == table)]
        return sum(s.end - s.start for s in hits) / n_traced, len(hits) / n_traced

    for name in ("maintain_side_tables", "lock", "logger_flush"):
        m[f"destination.{name}.s"], calls = busy("destination", name)
        if name == "logger_flush":
            m["destination.logger_flush.calls"] = calls
    for name in ("max_and_count", "read_keys", "read_for_keys"):
        s, calls = busy("sources", name)
        m[f"sources.{name}.calls"] = calls
        if name == "max_and_count":
            m["sources.max_and_count.s"] = s
    for t in _TABLES:
        m[f"tablestore.write.{t}.s"], _ = busy("tablestore", "write", t)
    m["tablestore.merge_upsert.latest_pk_version.s"], _ = busy(
        "tablestore", "merge_upsert", "latest_pk_version")
    m["tablestore.count_rows.s"], _ = busy("tablestore", "count_rows")
    m["tablestore.auto_maintain.s"], _ = busy("tablestore", "auto_maintain")
    m["tablestore.read.s"], m["tablestore.read.calls"] = busy("tablestore", "read")
    m["streaming.foreach_batch.s"], _ = busy("streaming", "foreach_batch")

    m["tablestore.write.delta.bytes"] = sum(
        size for o in ops for p, size in o.files_committed.items()
        if p.startswith("delta/")) / n_cycles
    m["tablestore.read_files_ratio.read"] = _median(
        [o.read_files for o in ops if o.read_files is not None])
    m["tablestore.commit_files.delta"] = float(sum(
        1 for p in walk(wl.dest / "delta" / "_commits") if p.endswith(".json")))

    for k in ("load", "noop"):
        m[f"trace.overhead_s.{k}"] = _trace_overhead([o for o in ops if o.kind == k])
    return m


def _trace_overhead(ops) -> float:
    """Median, over traced cycles with an untraced cycle on each side, of
    the cycle's median op minus the mean of its neighbours' medians. The
    neighbours bracket it, so a steady speed-up from cycle to cycle (JIT
    warm-up) cancels instead of counting as tracing cost."""
    by_cycle: dict[int, list[float]] = {}
    traced = set()
    for o in ops:
        by_cycle.setdefault(o.cycle, []).append(o.wall)
        if o.traced:
            traced.add(o.cycle)
    med = {c: _median(w) for c, w in by_cycle.items()}
    diffs = [
        med[c] - (med[c - 1] + med[c + 1]) / 2
        for c in sorted(traced)
        if c - 1 in med and c + 1 in med and not {c - 1, c + 1} & traced
    ]
    return _median(diffs)


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def with_units(values: dict, trace: bool) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the metrics BENCHMARK.json
    lists for this mode (per-layer with ``trace``, end-to-end without)."""
    spec = _spec()["per_layer" if trace else "end_to_end"]
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
