"""Spans and Spark counters for the traced benchmark run.

Nothing in the engine is edited: :class:`Tracer` replaces the public
functions of each layer with wrappers for the duration of a traced op and
restores them afterwards. A span records (name, layer, table, start, end,
parent, thread). Concurrency is kept: the engine overlaps load steps in
2-worker thread pools, so ``ThreadPoolExecutor.submit`` is wrapped too and
each task inherits the submitting thread's open spans, giving pool-thread
spans their real parent instead of a zero-length or orphaned record.

Every span adds a Spark job tag on its thread while it is open (job tags
are Spark's additive form of a job group: they do not displace the run-id
group a streaming query sets), so each job can be charged to the deepest
span that was open when it was submitted.
"""

from __future__ import annotations

import concurrent.futures
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Optional

TAG_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    table: Optional[str]
    parent: Optional[int]
    thread: str
    depth: int
    start: float
    end: float = 0.0

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "table": self.table, "parent": self.parent, "thread": self.thread,
            "start": self.start, "end": self.end,
        }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _table_name(store) -> str:
    return Path(str(store.root)).name


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        # the open op span; parent of spans opened on threads with no open
        # span of their own (a streaming query's foreachBatch callback)
        self.root: Optional[Span] = None

    # ------------------------------------------------------------ spans --

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str, table: Optional[str] = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else self.root
        sp = Span(
            id=next(self._ids), name=name, layer=layer, table=table,
            parent=parent.id if parent else None,
            thread=threading.current_thread().name,
            depth=parent.depth + 1 if parent else 0,
            start=time.perf_counter(),
        )
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        if layer == "op":
            self.root = sp
        self.sc.addJobTag(f"{TAG_PREFIX}{sp.id}")
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        if sp is self.root:
            self.root = None
        self.sc.removeJobTag(f"{TAG_PREFIX}{sp.id}")
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def _wrap(self, fn: Callable, name: str, layer: str, table_of=None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            table = table_of(args[0]) if table_of else None
            if table is not None and any(
                s.layer == layer and s.table == table for s in tracer._stack()
            ):
                # a store method calling another one on the same table
                # (write_counted -> write_counted_minmax -> write): only
                # the outermost call is a span
                return fn(*args, **kwargs)
            sp = tracer.begin(name, layer, table)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        # None: the attribute is inherited, so uninstall deletes the wrapper
        self._saved.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, new)

    # ---------------------------------------------------------- install --

    def install(self) -> None:
        """Wrap each layer's public functions until :meth:`uninstall`."""
        from odbc2deltalake_spark.plans import db_to_delta
        from odbc2deltalake_spark.plans.destination import DeltaDestination, DeltaLogger
        from odbc2deltalake_spark.sources.dataframe import DataFrameSource
        from odbc2deltalake_spark.streaming import driver
        from odbc2deltalake_spark.tablestore import VersionedParquetTable

        w = self._wrap
        load = w(db_to_delta.write_db_to_delta, "write_db_to_delta", "db_to_delta")
        self._patch(db_to_delta, "write_db_to_delta", load)
        self._patch(driver, "write_db_to_delta", load)

        for attr, name in (
            ("maintain_side_tables", "maintain_side_tables"),
            ("acquire_lock", "lock"),
            ("release_lock", "lock"),
        ):
            self._patch(DeltaDestination, attr, w(getattr(DeltaDestination, attr), name, "destination"))
        self._patch(DeltaLogger, "flush", w(DeltaLogger.flush, "logger_flush", "destination"))

        for attr in ("max_and_count", "read_keys", "read_for_keys"):
            self._patch(DataFrameSource, attr, w(getattr(DataFrameSource, attr), attr, "sources"))

        for attr in (
            "read", "write", "write_counted", "write_counted_minmax", "write_empty",
            "merge_upsert", "count_rows", "auto_maintain",
        ):
            # the write family reports under one name
            name = "write" if attr.startswith("write") else attr
            self._patch(
                VersionedParquetTable, attr,
                w(getattr(VersionedParquetTable, attr), name, "tablestore", _table_name),
            )

        orig_fbs = driver.foreach_batch_scd2

        @functools.wraps(orig_fbs)
        def foreach_batch_scd2(*args, **kwargs):
            return w(orig_fbs(*args, **kwargs), "foreach_batch", "streaming")

        self._patch(driver, "foreach_batch_scd2", foreach_batch_scd2)

        orig_submit = concurrent.futures.ThreadPoolExecutor.submit
        tracer = self

        @functools.wraps(orig_submit)
        def submit(pool, fn, /, *args, **kwargs):
            inherited = list(tracer._stack())

            def run():
                st = tracer._stack()
                saved = list(st)
                st[:] = inherited
                tags = [f"{TAG_PREFIX}{s.id}" for s in inherited]
                for t in tags:
                    tracer.sc.addJobTag(t)
                try:
                    return fn(*args, **kwargs)
                finally:
                    for t in tags:
                        tracer.sc.removeJobTag(t)
                    st[:] = saved

            return orig_submit(pool, run)

        self._patch(concurrent.futures.ThreadPoolExecutor, "submit", submit)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._saved):
            if old is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._saved.clear()

    # ---------------------------------------------------------- analysis --

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span time minus the part of it covered by its children."""
        kids = self.children()
        return {
            s.id: (s.end - s.start)
            - covered([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
            for s in self.spans
        }

    def descendants(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            for c in kids.get(s.id, []):
                out.append(c)
                todo.append(c)
        return out

    def write_jsonl(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


class SparkCounter:
    """Jobs, stages, tasks and shuffle bytes of one op, read from the JVM
    status store. An op's jobs are the job ids the scheduler handed out
    while it ran (``DAGScheduler.numTotalJobs`` before and after), so jobs
    under any job group count — a streaming pass runs its jobs under the
    query's run-id group — and no group bookkeeping is needed."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def mark(self) -> int:
        return int(self._dag.numTotalJobs())

    def jobs_since(self, mark: int) -> list[dict]:
        """The jobs started since ``mark``. Read right after each op, so the
        status store (it keeps the last ``spark.ui.retainedJobs``, 1000 by
        default) still holds them all."""
        self._bus.waitUntilEmpty()
        out = []
        for jid in range(mark, self.mark()):
            jd = self._store.job(jid)
            stage_ids = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                stage_ids.append(it.next())
            shuffle = sum(int(self._store.lastStageAttempt(s).shuffleWriteBytes()) for s in stage_ids)
            tags = str(jd.jobTags().mkString(",")).split(",")
            out.append({
                "id": jid,
                "stages": len(stage_ids) - int(jd.numSkippedStages()),
                "tasks": int(jd.numTasks()) - int(jd.numSkippedTasks()),
                "failed_tasks": int(jd.numFailedTasks()),
                "shuffle_write_bytes": shuffle,
                "spans": [int(t[len(TAG_PREFIX):]) for t in tags if t.startswith(TAG_PREFIX)],
            })
        return out


def walk(root: Path) -> dict[str, int]:
    """{relative file path: size} of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out
