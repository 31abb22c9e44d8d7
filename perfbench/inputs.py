"""Seeded input generators for the CDC lifecycle benchmark.

Everything the engine reads is produced here from the workload seed and
written to parquet before timing starts; the same seed always gives the
same files. Two families:

- ``LineitemSource``: a TPC-H-shaped ``lineitem`` table (2-column PK
  ``(l_orderkey, l_linenumber)``, rowversion-typed ``rv``) and a chain of
  changed snapshots, each differing from its predecessor by a seeded mix
  of updates, deletes, inserts and "strange" rv-rewound updates.
- ``event_chunks``: rv-ordered change chunks of an ``events`` table keyed
  by ``user_id`` (``rv`` = ``event_id``), one parquet file per chunk.

rv values are globally unique: the initial snapshot takes
``RV_BASE .. RV_BASE+n-1``, updates and inserts take increasing values
above that, and rewinds take decreasing values below ``RV_BASE``. A
rewound rv is therefore below every watermark (so the engine must detect
it as a strange update) and never equal to an rv the same key held
before (so ``(pk, rv)`` identifies one history version).
"""

from __future__ import annotations

import dataclasses
import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RV_BASE = 1_000_000_000
_DAY0 = np.datetime64("1992-01-01")
_WORDS = np.array(
    "furiously carefully quickly slyly blithely regular final pending express "
    "ironic bold special even silent unusual ruthless deposits packages "
    "accounts requests instructions theodolites pinto beans foxes ideas "
    "dependencies platelets asymptotes courts dolphins excuses".split()
)
_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_INSTRUCT = np.array(
    ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]
)
_EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "search", "share"])

# Change mix of one cdc_churn load, as fractions of the live rows.
MIX = {"updated": 0.01, "deleted": 0.002, "inserted": 0.005, "strange": 0.001}


@dataclasses.dataclass
class Snapshot:
    path: Path
    rows: int
    bytes: int
    counts: dict  # inserted / updated / deleted / strange vs the previous snapshot
    strange_keys: np.ndarray  # int64 (n, 2): PKs of the rows whose rv was rewound


# Every 3-word comment, so a comment is stored as one code into this list.
_COMMENT_DICT = pa.array(
    [f"{a} {b} {c}" for a in _WORDS for b in _WORDS for c in _WORDS]
)
_DICTS = {
    "l_returnflag": pa.array(["A", "N", "R"]),
    "l_linestatus": pa.array(["F", "O"]),
    "l_shipinstruct": pa.array(_INSTRUCT),
    "l_shipmode": pa.array(_SHIPMODES),
    "l_comment": _COMMENT_DICT,
}


def _codes(rng: np.random.Generator, column: str, n: int) -> np.ndarray:
    return rng.integers(0, len(_DICTS[column]), size=n).astype(np.int32)


class LineitemSource:
    """A mutable in-memory ``lineitem`` whose successive states are written
    out as full parquet snapshots. ``sf`` scales like TPC-H: 1.5M orders
    per unit, 1-7 lines per order (about 6M rows per unit)."""

    COLUMNS = [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "varchar(1)"),
        ("l_linestatus", "varchar(1)"),
        ("l_shipdate", "date"),
        ("l_commitdate", "date"),
        ("l_receiptdate", "date"),
        ("l_shipinstruct", "varchar(25)"),
        ("l_shipmode", "varchar(10)"),
        ("l_comment", "varchar(44)"),
        ("rv", "rowversion"),
    ]
    PK = ["l_orderkey", "l_linenumber"]

    def __init__(self, seed: int, sf: float):
        self.rng = np.random.default_rng([seed, 1])
        self.n_orders = max(1, int(1_500_000 * sf))
        self.next_rv = RV_BASE
        self.next_rewind = RV_BASE - 1
        self.cols: dict[str, np.ndarray] = {}
        self._append_orders(np.arange(1, self.n_orders + 1, dtype=np.int64))
        self.live = np.ones(len(self.cols["l_orderkey"]), dtype=bool)

    def _take_rv(self, n: int) -> np.ndarray:
        out = np.arange(self.next_rv, self.next_rv + n, dtype=np.int64)
        self.next_rv += n
        return out

    def _append_orders(self, orderkeys: np.ndarray) -> int:
        rng = self.rng
        lines = rng.integers(1, 8, size=len(orderkeys))
        ok = np.repeat(orderkeys, lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        ln = (np.arange(len(ok)) - starts + 1).astype(np.int32)
        n = len(ok)
        qty = rng.integers(1, 51, size=n).astype(np.float64)
        ship = _DAY0 + rng.integers(0, 2400, size=n).astype("timedelta64[D]")
        new = {
            "l_orderkey": ok,
            "l_partkey": rng.integers(1, 200_000, size=n, dtype=np.int64),
            "l_suppkey": rng.integers(1, 10_000, size=n, dtype=np.int64),
            "l_linenumber": ln,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, size=n), 2),
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": _codes(rng, "l_returnflag", n),
            "l_linestatus": _codes(rng, "l_linestatus", n),
            "l_shipdate": ship,
            "l_commitdate": ship + rng.integers(-60, 60, size=n).astype("timedelta64[D]"),
            "l_receiptdate": ship + rng.integers(1, 31, size=n).astype("timedelta64[D]"),
            "l_shipinstruct": _codes(rng, "l_shipinstruct", n),
            "l_shipmode": _codes(rng, "l_shipmode", n),
            "l_comment": _codes(rng, "l_comment", n),
            "rv": self._take_rv(n),
        }
        if not self.cols:
            self.cols = new
        else:
            for k, v in new.items():
                self.cols[k] = np.concatenate([self.cols[k], v])
        return n

    def _keys(self, idx: np.ndarray) -> np.ndarray:
        return np.stack(
            [self.cols["l_orderkey"][idx], self.cols["l_linenumber"][idx].astype(np.int64)],
            axis=1,
        )

    def mutate(self) -> dict:
        """Apply one load's seeded change mix in place; return what changed."""
        rng = self.rng
        live_idx = np.flatnonzero(self.live)
        n_live = len(live_idx)
        k = {name: max(1, int(round(n_live * frac))) for name, frac in MIX.items()}
        picked = rng.choice(live_idx, size=k["updated"] + k["deleted"] + k["strange"], replace=False)
        upd = picked[: k["updated"]]
        dele = picked[k["updated"] : k["updated"] + k["deleted"]]
        strange = picked[k["updated"] + k["deleted"] :]
        for idx in (upd, strange):
            q = rng.integers(1, 51, size=len(idx)).astype(np.float64)
            self.cols["l_quantity"][idx] = q
            self.cols["l_extendedprice"][idx] = np.round(q * rng.uniform(900, 2000, size=len(idx)), 2)
            self.cols["l_comment"][idx] = _codes(rng, "l_comment", len(idx))
        self.cols["rv"][upd] = self._take_rv(len(upd))
        self.cols["rv"][strange] = np.arange(
            self.next_rewind, self.next_rewind - len(strange), -1, dtype=np.int64
        )
        self.next_rewind -= len(strange)
        self.live[dele] = False
        # inserts arrive as whole new orders (4 lines each on average)
        new_orders = max(1, int(round(k["inserted"] / 4)))
        first = self.n_orders + 1
        self.n_orders += new_orders
        inserted = self._append_orders(np.arange(first, first + new_orders, dtype=np.int64))
        self.live = np.concatenate([self.live, np.ones(inserted, dtype=bool)])
        return {
            "counts": {
                "inserted": int(inserted),
                "updated": int(len(upd)),
                "deleted": int(len(dele)),
                "strange": int(len(strange)),
            },
            "strange_keys": self._keys(strange),
        }

    def table(self) -> pa.Table:
        idx = np.flatnonzero(self.live)
        cols = {}
        for name, _ in self.COLUMNS:
            v = self.cols[name][idx]
            if name in _DICTS:
                v = _DICTS[name].take(pa.array(v))
            cols[name] = v
        return pa.table(cols)

    def write(self, path: Path, change: dict | None = None) -> Snapshot:
        t = self.table()
        pq.write_table(t, path, compression="zstd")
        empty = np.empty((0, 2), dtype=np.int64)
        change = change or {
            "counts": {"inserted": t.num_rows, "updated": 0, "deleted": 0, "strange": 0},
            "strange_keys": empty,
        }
        return Snapshot(path, t.num_rows, path.stat().st_size, **change)


def lineitem_snapshots(seed: int, sf: float, count: int, out_dir: Path) -> list[Snapshot]:
    """Snapshot 0 is the initial table; snapshot i>0 is snapshot i-1 after
    one :data:`MIX` of changes."""
    src = LineitemSource(seed, sf)
    out_dir.mkdir(parents=True, exist_ok=True)
    snaps = [src.write(out_dir / "snap-000.parquet")]
    for i in range(1, count):
        change = src.mutate()
        snaps.append(src.write(out_dir / f"snap-{i:03d}.parquet", change))
    return snaps


EVENT_SCHEMA = [
    ("event_id", "bigint"),
    ("ts", "timestamp"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("rv", "bigint"),
]


@dataclasses.dataclass
class Chunk:
    path: Path
    rows: int
    bytes: int


def event_chunks(
    seed: int, sf: float, count: int, chunk_rows: int, out_dir: Path
) -> list[Chunk]:
    """``count`` chunks of ``chunk_rows`` change rows each. ``sf`` sizes
    the user population (1M users per unit, as the events fixture). A
    chunk is what a CDC feed emits for one polling interval: every key
    at most once, carrying its newest version, so the keys of one chunk
    are distinct; ``rv`` = ``event_id`` increases across chunks."""
    rng = np.random.default_rng([seed, 2])
    users = max(chunk_rows, int(1_000_000 * sf))
    out_dir.mkdir(parents=True, exist_ok=True)
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    ts_us = int(t0.timestamp() * 1_000_000)
    next_id = 1
    chunks = []
    for i in range(count):
        uid = rng.choice(users, size=chunk_rows, replace=False).astype(np.int64)
        eid = np.arange(next_id, next_id + chunk_rows, dtype=np.int64)
        next_id += chunk_rows
        ts = ts_us + eid * 1_000_000 + rng.integers(0, 1_000_000, size=chunk_rows)
        etype = rng.choice(_EVENT_TYPES, size=chunk_rows)
        value = np.round(rng.uniform(0, 500, size=chunk_rows), 2)
        t = pa.table(
            {
                "event_id": eid,
                "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
                "user_id": uid,
                "event_type": etype,
                "value": value,
                "rv": eid,
            }
        )
        p = out_dir / f"chunk-{i:04d}.parquet"
        pq.write_table(t, p, compression="zstd")
        chunks.append(Chunk(p, chunk_rows, p.stat().st_size))
    return chunks


def expected_events(chunks: list[Chunk]) -> pa.Table:
    """Newest row per ``user_id`` over the given chunks (the SCD2 current
    rows the stream must produce)."""
    t = pa.concat_tables([pq.read_table(c.path) for c in chunks])
    order = np.argsort(-t.column("event_id").to_numpy(), kind="stable")
    t = t.take(order)
    _, first = np.unique(t.column("user_id").to_numpy(), return_index=True)
    return t.take(np.sort(first))
