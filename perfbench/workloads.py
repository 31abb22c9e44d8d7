"""The three closed-loop CDC workloads and their correctness checks.

Each workload drives one destination table through the public entry
points (``write_db_to_delta``, ``read_current_rows`` and
``streaming.driver.stream_db_to_delta``), one op at a time: an op starts
only after the previous one has committed, as one scheduled job per table
runs under the destination lock. A cycle is one load, the workload's
NOOPS_PER_CYCLE no-op loads and one current-rows read; the loop runs
cycles until ``seconds`` have passed and at least the workload's
``MIN_CYCLES`` are done. See README.md for why each workload exists and
which layers it loads.
"""

from __future__ import annotations

import shutil
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odbc2deltalake_spark import ColInfo, DataFrameSource, WriteConfig, check_latest_pk
from odbc2deltalake_spark.plans import db_to_delta
from odbc2deltalake_spark.plans.destination import DeltaDestination
from odbc2deltalake_spark.streaming import driver as stream_driver

from perfbench import inputs
from perfbench.tracing import SparkCounter, Tracer, walk

PASS_TIMEOUT_S = 120

_SPARK_TYPES = {
    "bigint": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "rowversion": T.LongType(),
    "timestamp": T.TimestampType(),
    "string": T.StringType(),
}


def _spark_type(type_str: str) -> T.DataType:
    return _SPARK_TYPES.get(type_str.split("(")[0], T.StringType())


def _schema(columns) -> T.StructType:
    return T.StructType([T.StructField(n, _spark_type(t)) for n, t in columns])


class Op:
    """One timed operation and what the traced run learned about it."""

    def __init__(self, kind: str, cycle: int, traced: bool):
        self.kind, self.cycle, self.traced = kind, cycle, traced
        self.wall = 0.0
        self.ok = True
        self.rows = 0
        self.span = None
        self.n_jobs = 0  # Spark jobs the op ran
        self.jobs: list[dict] = []  # traced run: each job's stages, tasks, ...
        self.files_committed: dict[str, int] = {}
        self.read_files: Optional[float] = None  # reads only: history files scanned / live


class Runner:
    """Times ops and counts their Spark jobs; a traced run also reads each
    job's stages and tasks and the files each op commits. Tracing
    alternates by cycle (even cycles untraced, odd cycles traced), so each
    traced cycle sits between two untraced ones and one run also measures
    the tracing overhead."""

    def __init__(self, spark, seconds: float, trace: bool, min_cycles: int):
        self.spark = spark
        self.seconds = seconds
        self.min_cycles = min_cycles
        self.trace = trace
        self.tracer = Tracer(spark) if trace else None
        self.counter = SparkCounter(spark)
        self.ops: list[Op] = []
        self.warmup_ops: list[Op] = []
        self.checks: list[tuple[str, bool, str, float]] = []  # name, ok, problem, seconds
        self.errors: list[str] = []
        self.cycle = -1  # -1 while warming up
        self.traced_cycle = False

    def start_cycle(self, cycle: int) -> None:
        self.cycle = cycle
        if self.tracer is None:
            return
        want = cycle >= 0 and cycle % 2 == 1
        if want and not self.traced_cycle:
            self.tracer.install()
        elif not want and self.traced_cycle:
            self.tracer.uninstall()
        self.traced_cycle = want

    def stop_tracing(self) -> None:
        if self.traced_cycle:
            self.tracer.uninstall()
            self.traced_cycle = False

    def measure(self, kind: str, fn: Callable, dest: Path, rows: int = 0) -> Op:
        op = Op(kind, self.cycle, self.traced_cycle)
        op.rows = rows
        mark = self.counter.mark()
        if self.trace:
            before = walk(dest)
        if self.traced_cycle:
            op.span = self.tracer.begin(kind, "op")
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:
            op.ok = False
            self.errors.append(f"{kind} (cycle {self.cycle}):\n{traceback.format_exc()}")
        op.wall = time.perf_counter() - t0
        if op.span is not None:
            self.tracer.end(op.span)
        op.n_jobs = self.counter.mark() - mark
        if self.trace:
            op.jobs = self.counter.jobs_since(mark)
            after = walk(dest)
            op.files_committed = {p: s for p, s in after.items() if p not in before}
        (self.ops if self.cycle >= 0 else self.warmup_ops).append(op)
        return op

    def check(self, name: str, fn: Callable[[], Optional[str]]) -> None:
        """Run one correctness check; ``fn`` returns None on success or a
        description of the mismatch."""
        t0 = time.perf_counter()
        try:
            problem = fn()
        except Exception:
            problem = traceback.format_exc()
        self.checks.append((name, problem is None, problem or "", time.perf_counter() - t0))

    def check_all(self, checks: list[tuple[str, Callable[[], Optional[str]]]]) -> None:
        """Run independent checks concurrently (their Spark jobs overlap)."""
        with ThreadPoolExecutor(max_workers=len(checks)) as pool:
            for f in [pool.submit(self.check, name, fn) for name, fn in checks]:
                f.result()

    def done(self, t_loop: float, cycles: int) -> bool:
        return cycles >= self.min_cycles and time.perf_counter() - t_loop >= self.seconds


def _same_rows(actual, expected: pa.Table) -> Optional[str]:
    """Multiset equality of the current rows and the expected table, i.e.
    ``exceptAll`` is empty in both directions. The current rows (a few
    tens of thousands) are collected as Arrow and compared sorted, which
    costs one warm read instead of two cold shuffle plans."""
    cols = expected.column_names
    got = actual.select(*cols).toArrow().cast(expected.schema)
    keys = [(c, "ascending") for c in cols]
    if got.num_rows == expected.num_rows and got.sort_by(keys).equals(expected.sort_by(keys)):
        return None
    a = Counter(zip(*[got.column(c).to_pylist() for c in cols]))
    e = Counter(zip(*[expected.column(c).to_pylist() for c in cols]))
    return (f"{sum((a - e).values())} unexpected and {sum((e - a).values())} "
            f"missing current rows")


def _latest_pk_ok(spark, source, dest: Path, cfg: WriteConfig) -> Optional[str]:
    infos = db_to_delta.make_writer(spark, source, dest, cfg)
    bad = check_latest_pk(infos, raise_if_not_consistent=False)
    return f"check_latest_pk: {len(bad)} inconsistent rows, e.g. {bad[:3]}" if bad else None


def _tombstones_ok(spark, dest: Path, expected: int) -> Optional[str]:
    n = DeltaDestination(dest).delta.read(spark).filter(F.col("__is_deleted")).count()
    return None if n == expected else f"{n} tombstones, expected {expected}"


class Workload:
    """One destination table driven through a lifecycle. Set-up runs its
    first load and WARMUP_CYCLES untimed cycles: the first loads of a JVM
    are 1.5-2x slower (class loading, code generation) and keep speeding
    up for a few cycles. No-ops and reads warm up faster than loads, so
    only the last warm-up cycle runs them."""

    name = ""
    pk: list[str] = []
    delta_col = "rv"
    WARMUP_CYCLES = 1
    # No-op loads per cycle: a no-op is short (0.05-1 s), so single samples
    # swing by 30-50%; several per cycle steady its median at little cost.
    NOOPS_PER_CYCLE = 3
    # At least this many timed cycles run, whatever ``seconds`` says, so
    # every run takes the median over the same number of loads.
    # dest_bytes_per_source_byte is read after this many cycles, so it
    # does not depend on how many cycles the host managed in ``seconds``.
    MIN_CYCLES = 2

    def __init__(self, work: Path, seed: int, sf: float):
        self.spark = None
        self.work = work
        self.seed = seed
        self.sf = sf
        self.dest = work / "dest"
        self.loads: list[dict] = []  # per-load input counts, for the record
        self.source_bytes = 0  # size of the source as it stands
        # (destination bytes, source bytes) after MIN_CYCLES timed cycles
        self.bytes_at_min_cycles: Optional[tuple[int, int]] = None

    def generate(self) -> None:
        """Generate and materialize every input; needs no Spark, so it can
        run while the session starts (both are part of set-up)."""
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def warm_up(self, r: Runner) -> None:
        self.first_load(r)
        for i in range(-self.WARMUP_CYCLES, 0):
            self.cycle(r, i)

    def first_load(self, r: Runner) -> None:
        raise NotImplementedError

    def cycle(self, r: Runner, i: int) -> bool:
        """Run timed cycle ``i`` (negative: a warm-up cycle); False when
        the inputs are used up."""
        raise NotImplementedError

    def verify(self, r: Runner) -> None:
        raise NotImplementedError

    def read_current(self):
        return db_to_delta.read_current_rows(self.spark, self.dest, self.pk, self.delta_col)

    def noops_and_read(self, r: Runner, i: int, load: Callable) -> None:
        """The no-ops and the read of cycle ``i``; of the warm-up cycles
        only the last (-1) runs them, one no-op."""
        if i < -1:
            return
        for _ in range(self.NOOPS_PER_CYCLE if i >= 0 else 1):
            r.measure("noop", load, self.dest)
        op = r.measure("read", lambda: self.read_current().count(), self.dest)
        if r.trace and op.ok:
            op.read_files = self._read_files_ratio()

    def _read_files_ratio(self) -> float:
        hist = str(self.dest / "delta") + "/"
        read = [f for f in self.read_current().inputFiles() if hist in f]
        live = DeltaDestination(self.dest).delta.read(self.spark).inputFiles()
        return len(read) / max(1, len(live))

    def after_cycle(self, i: int) -> None:
        if i + 1 == self.MIN_CYCLES:
            self.bytes_at_min_cycles = (sum(walk(self.dest).values()), self.source_bytes)


# ------------------------------------------------------------ lineitem --


class _LineitemWorkload(Workload):
    pk = list(inputs.LineitemSource.PK)

    def generate(self) -> None:
        # snapshot 0 is the first load; cycle i (negative while warming
        # up) loads snapshot i + 1 + WARMUP_CYCLES
        self.snaps = inputs.lineitem_snapshots(self.seed, self.sf, 16, self.work / "src")

    def bind(self, spark) -> None:
        super().bind(spark)
        self.schema = _schema(inputs.LineitemSource.COLUMNS)
        self.infos = [
            ColInfo(n, _spark_type(t), t, n not in self.pk and n != "rv")
            for n, t in inputs.LineitemSource.COLUMNS
        ]
        self.source = DataFrameSource(self._df(0), self.infos, primary_keys=self.pk)
        self.loaded = 0  # index of the snapshot the source currently shows

    def _df(self, i: int):
        return self.spark.read.schema(self.schema).parquet(str(self.snaps[i].path))

    def _show(self, i: int) -> None:
        self.source.set_df(self._df(i))
        self.loaded = i
        snap = self.snaps[i]
        self.source_bytes = snap.bytes
        self.loads.append({"snapshot": i, "rows": snap.rows, **snap.counts})

    def _load(self, cfg: WriteConfig):
        return lambda: db_to_delta.write_db_to_delta(self.spark, self.source, self.dest, cfg)

    def _verify_common(self, r: Runner, cfg: WriteConfig, tombstones: int) -> None:
        r.check_all([
            ("current_rows_equal_source", lambda: _same_rows(
                self.read_current(), pq.read_table(self.snaps[self.loaded].path))),
            ("check_latest_pk", lambda: _latest_pk_ok(self.spark, self.source, self.dest, cfg)),
            ("tombstones_equal_deletes", lambda: _tombstones_ok(self.spark, self.dest, tombstones)),
        ])


class CdcChurn(_LineitemWorkload):
    """Full load, then delta loads of one MIX of changes each, each
    followed by no-op loads and current-rows reads."""

    name = "cdc_churn"
    # after one warm-up cycle the next delta load still ran 20-90% slower
    # than the loads after it, and a run's median of 3 loads followed that
    # one; after two warm-up cycles it is mostly within their spread
    WARMUP_CYCLES = 2
    MIN_CYCLES = 3
    # a churn no-op (0.6-0.9 s) swings by about 15% within a run, so 2 per
    # cycle suffice, and the time saved pays for the second warm-up cycle
    NOOPS_PER_CYCLE = 2

    def bind(self, spark) -> None:
        super().bind(spark)
        self.cfg = WriteConfig()  # delta column auto-detected from the rowversion type
        self.deleted = 0

    def first_load(self, r: Runner) -> None:
        self._show(0)
        r.measure("full", self._load(self.cfg), self.dest)

    def cycle(self, r: Runner, i: int) -> bool:
        snap = i + 1 + self.WARMUP_CYCLES
        if snap >= len(self.snaps):
            return False
        self._show(snap)
        s = self.snaps[snap]
        op = r.measure("load", self._load(self.cfg), self.dest, rows=sum(s.counts.values()))
        self.deleted += s.counts["deleted"]
        if op.ok:
            expected = {tuple(k) for k in s.strange_keys.tolist()}
            r.check(f"delta_2_is_strange_keys[{snap}]", lambda: self._delta_2_ok(expected))
        self.noops_and_read(r, i, self._load(self.cfg))
        return True

    def _delta_2_ok(self, expected: set) -> Optional[str]:
        # the key-set branch runs only when the strange keys fit under the cutoff
        if len(expected) > self.cfg.max_complex_entries:
            return None
        got = {
            (r[0], r[1])
            for r in DeltaDestination(self.dest).delta_2.read(self.spark)
            .select(*self.pk).collect()
        }
        return None if got == expected else (
            f"delta_2 holds {len(got)} keys, {len(got - expected)} not strange, "
            f"{len(expected - got)} strange keys missing"
        )

    def verify(self, r: Runner) -> None:
        self._verify_common(r, self.cfg, self.deleted)


class FullReload(_LineitemWorkload):
    """``load_mode="force_full"``: every load appends a whole changed
    snapshot, then an unchanged-source load in the default mode (a no-op)
    and a current-rows read. Full-load appends carry no delta-column
    bounds, so the read cannot prune and its cost grows with history; to
    keep that cost independent of how many cycles a host completes, the
    destination is reset to its one-load state every RESET_EVERY loads
    (untimed), so reads always see 2 to RESET_EVERY+1 loads of history."""

    name = "full_reload"
    RESET_EVERY = 3

    def bind(self, spark) -> None:
        super().bind(spark)
        self.cfg = WriteConfig(load_mode="force_full")
        self.noop_cfg = WriteConfig()
        self.base = self.work / "dest-one-load"

    def first_load(self, r: Runner) -> None:
        self._show(0)
        r.measure("full", self._load(self.cfg), self.dest)
        shutil.copytree(self.dest, self.base)

    def cycle(self, r: Runner, i: int) -> bool:
        snap = i + 1 + self.WARMUP_CYCLES
        if snap >= len(self.snaps):
            return False
        if i >= 0 and i % self.RESET_EVERY == 0:
            shutil.rmtree(self.dest)
            shutil.copytree(self.base, self.dest)
        self._show(snap)
        r.measure("load", self._load(self.cfg), self.dest, rows=self.snaps[snap].rows)
        self.noops_and_read(r, i, self._load(self.noop_cfg))
        return True

    def verify(self, r: Runner) -> None:
        self._verify_common(r, self.cfg, 0)


# ------------------------------------------------------------- stream --


class StreamMicrobatch(Workload):
    """rv-ordered change chunks of ``events`` (PK ``user_id``, 2.5k rows
    each), each landed as one file and drained by one ``availableNow``
    pass of ``stream_db_to_delta`` (default ``simple_delta`` mode); then a
    pass with nothing new (the no-op) and a current-rows read."""

    name = "stream_microbatch"
    pk = ["user_id"]
    # a pass still speeds up by ~30% from the first timed cycle to the
    # second; a pass is 3-6 s, so a third timed cycle is cheap and the
    # median of 3 leaves the slow first one out
    MIN_CYCLES = 3

    def generate(self) -> None:
        self.chunks = inputs.event_chunks(self.seed, self.sf, 24, 2500, self.work / "chunks")

    def bind(self, spark) -> None:
        super().bind(spark)
        self.inbox = self.work / "inbox"
        self.inbox.mkdir(parents=True, exist_ok=True)
        self.ckpt = self.work / "ckpt"
        self.schema = _schema(inputs.EVENT_SCHEMA)
        self.landed = 0

    def _pass(self):
        def run():
            stream = self.spark.readStream.schema(self.schema).parquet(str(self.inbox))
            q = stream_driver.stream_db_to_delta(
                self.spark, stream, self.dest, self.pk, self.delta_col, str(self.ckpt)
            )
            if not q.awaitTermination(PASS_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"availableNow pass still running after {PASS_TIMEOUT_S}s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return run

    def _land(self) -> int:
        c = self.chunks[self.landed]
        c.path.rename(self.inbox / c.path.name)
        c.path = self.inbox / c.path.name
        self.landed += 1
        self.source_bytes += c.bytes
        self.loads.append({"chunk": self.landed - 1, "rows": c.rows})
        return c.rows

    def first_load(self, r: Runner) -> None:
        r.measure("full", self._pass(), self.dest, rows=self._land())

    def cycle(self, r: Runner, i: int) -> bool:
        if self.landed >= len(self.chunks):
            return False
        rows = self._land()
        r.measure("load", self._pass(), self.dest, rows=rows)
        self.noops_and_read(r, i, self._pass())
        return True

    def verify(self, r: Runner) -> None:
        expected = inputs.expected_events(self.chunks[: self.landed])
        path = self.work / "expected.parquet"
        pq.write_table(expected, path)
        exp_df = self.spark.read.schema(self.schema).parquet(str(path))
        infos = [ColInfo(f.name, f.dataType, f.dataType.simpleString(), f.nullable) for f in self.schema]
        src = DataFrameSource(exp_df, infos, primary_keys=self.pk)
        cfg = WriteConfig(primary_keys=self.pk, delta_col=self.delta_col, load_mode="simple_delta")
        r.check_all([
            ("current_rows_equal_source", lambda: _same_rows(self.read_current(), expected)),
            ("check_latest_pk", lambda: _latest_pk_ok(self.spark, src, self.dest, cfg)),
            ("tombstones_equal_deletes", lambda: _tombstones_ok(self.spark, self.dest, 0)),
        ])


WORKLOADS = {w.name: w for w in (CdcChurn, FullReload, StreamMicrobatch)}
