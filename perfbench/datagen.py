"""Seeded CDC workload generator: orders / order_lines change events
plus transaction metadata, in the Debezium envelope the engine reads.

Pure Python and pyarrow, so the program under test receives only the
generated parquet files. The generator keeps its own model of the
source database (live orders and lines) so that every update and delete
carries a correct ``before`` image, and it never touches a deleted row.

Stream shape per batch:

* transactions are generated in commit order and applied to the model
  at once;
* a share ``INTERLEAVE`` of the pairs of consecutive transactions
  interleaves its event LSNs where the two touch disjoint orders (the
  later committer begins first), so txId order differs from commit
  order;
* the last ``delay_frac`` of a batch's transactions (by commit LSN)
  deliver their END metadata with the next batch, which drives the
  engine's carry-over path while keeping the transaction topic in
  commit order.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the base snapshot is the same for every seed, so a state store built
#: from it can be reused across runs; the stream on top follows the seed
BASE_SEED = 20240611
LSN_STEP = 10
BASE_DELAYED = 10
#: share of the pairs (0, 1), (2, 3), ... of a batch whose events interleave;
#: chosen, not measured (see perfbench/README.md, "Traffic parameters")
INTERLEAVE = 0.3
TS0 = 1_700_000_000_000

ORDER_TYPE = pa.struct(
    [
        ("id", pa.int64()),
        ("order_date", pa.int32()),
        ("purchaser", pa.int32()),
        ("shipping_address", pa.string()),
    ]
)
LINE_TYPE = pa.struct(
    [
        ("id", pa.int64()),
        ("order_id", pa.int64()),
        ("product_id", pa.int32()),
        ("quantity", pa.int32()),
        ("price", pa.string()),
    ]
)
SOURCE_TYPE = pa.struct(
    [
        ("version", pa.string()),
        ("connector", pa.string()),
        ("name", pa.string()),
        ("ts_ms", pa.int64()),
        ("snapshot", pa.bool_()),
        ("db", pa.string()),
        ("sequence", pa.string()),
        ("schema", pa.string()),
        ("table", pa.string()),
        ("txId", pa.int64()),
        ("lsn", pa.int64()),
        ("xmin", pa.int64()),
    ]
)
TX_SCHEMA = pa.schema(
    [
        ("status", pa.string()),
        ("id", pa.string()),
        ("event_count", pa.int64()),
        (
            "data_collections",
            pa.list_(
                pa.struct([("data_collection", pa.string()), ("event_count", pa.int64())])
            ),
        ),
        ("ts_ms", pa.int64()),
    ]
)


@dataclass
class Event:
    table: str  # "orders" | "order_lines"
    op: str  # c | u | d
    before: dict | None
    after: dict | None
    tx_id: int = 0
    lsn: int = 0
    commit_lsn: int = 0

    @property
    def order_key(self) -> int:
        img = self.after if self.after is not None else self.before
        return img["id"] if self.table == "orders" else img["order_id"]


@dataclass
class Tx:
    events: list[Event]
    tx_id: int = 0
    commit_lsn: int = 0

    def order_keys(self) -> set[int]:
        return {e.order_key for e in self.events}

    def counts(self) -> tuple[int, int]:
        n_orders = sum(1 for e in self.events if e.table == "orders")
        return n_orders, len(self.events) - n_orders


@dataclass
class Batch:
    """One micro-batch: data events of ``txs`` plus the END records in
    ``ends`` (some of them delayed from the previous batch)."""

    txs: list[Tx]
    ends: list[Tx]

    @property
    def events(self) -> list[Event]:
        return [e for t in self.txs for e in t.events]

    @property
    def n_events(self) -> int:
        return sum(len(t.events) for t in self.txs)


@dataclass(frozen=True)
class Mix:
    """Relative weights of the transaction kinds."""

    insert_order: float
    update_order: float
    update_line: float
    insert_line: float
    delete_line: float
    delete_order: float

    def kinds(self, n: int) -> list[str]:
        """``n`` transaction kinds in the mix's proportions (largest
        remainder), so every batch has the same shape whatever the seed
        and runs every kind with a non-zero share once ``n`` allows."""
        names = list(self.__dataclass_fields__)
        weights = [getattr(self, k) for k in names]
        quotas = [n * w / sum(weights) for w in weights]
        counts = [int(q) for q in quotas]
        by_remainder = sorted(range(len(names)), key=lambda i: counts[i] - quotas[i])
        for i in by_remainder[: n - sum(counts)]:
            counts[i] += 1
        return [k for k, c in zip(names, counts) for _ in range(c)]


@dataclass
class _Model:
    """The generator's view of the source database."""

    orders: dict[int, dict] = field(default_factory=dict)
    lines: dict[int, dict] = field(default_factory=dict)
    lines_of: dict[int, list[int]] = field(default_factory=dict)
    live: list[int] = field(default_factory=list)  # sampling order
    pos: dict[int, int] = field(default_factory=dict)  # order id -> index in live

    def add_order(self, row: dict) -> None:
        self.orders[row["id"]] = row
        self.lines_of[row["id"]] = []
        self.pos[row["id"]] = len(self.live)
        self.live.append(row["id"])

    def drop_order(self, oid: int) -> None:
        del self.orders[oid]
        del self.lines_of[oid]
        i = self.pos.pop(oid)
        last = self.live.pop()
        if last != oid:
            self.live[i] = last
            self.pos[last] = i


class CdcGenerator:
    """Deterministic source of CDC batches: the same ``seed`` (and the
    same constructor arguments) gives the same events."""

    def __init__(self, seed: int, base_orders: int):
        self.db = _Model()
        self.next_order = 1
        self.next_line = 1
        self.next_tx = 1000
        self.lsn = 1000
        self._base = self._load_base(base_orders)
        # the snapshot's last transactions deliver their END with the
        # first stream batch, so a restored store carries them over
        self._delayed: list[Tx] = self._base_txs(base_orders - BASE_DELAYED, base_orders)
        self.rng = random.Random(seed)

    def _load_base(self, n: int):
        """The base snapshot: ``n`` orders with 1-4 lines each, one
        insert transaction per order, drawn from ``BASE_SEED``. Loaded
        straight into the model; ``base_batch()`` builds its events."""
        rng = np.random.default_rng(BASE_SEED)
        n_lines = rng.integers(1, 5, n)
        n_total = int(n_lines.sum())
        orders = [
            {"id": i, "order_date": d, "purchaser": p, "shipping_address": f"{a} Main St"}
            for i, d, p, a in zip(
                range(1, n + 1),
                rng.integers(19000, 20500, n).tolist(),
                rng.integers(1000, 6000, n).tolist(),
                rng.integers(1, 9999, n).tolist(),
            )
        ]
        lines = [
            {"id": lid, "order_id": oid, "product_id": pr, "quantity": q, "price": f"{d}.{c:02d}"}
            for lid, oid, pr, q, d, c in zip(
                range(1, n_total + 1),
                np.repeat(np.arange(1, n + 1), n_lines).tolist(),
                rng.integers(1, 2000, n_total).tolist(),
                rng.integers(1, 20, n_total).tolist(),
                rng.integers(1, 500, n_total).tolist(),
                rng.integers(0, 100, n_total).tolist(),
            )
        ]
        for o in orders:
            self.db.add_order(o)
        for ln in lines:
            self.db.lines[ln["id"]] = ln
            self.db.lines_of[ln["order_id"]].append(ln["id"])
        self.next_order, self.next_line = n + 1, n_total + 1
        starts = [0] + np.cumsum(n_lines).tolist()
        base = (orders, lines, starts, self.lsn, self.next_tx)
        # each snapshot tx uses one LSN per event plus one for its commit
        self.lsn += LSN_STEP * (n_total + 2 * n)
        self.next_tx += n
        return base

    def _base_txs(self, lo: int, hi: int) -> list[Tx]:
        """Snapshot transactions ``lo`` to ``hi`` (order index)."""
        orders, lines, starts, lsn0, tx0 = self._base
        txs = []
        for i in range(lo, hi):
            events = [Event("orders", "c", None, orders[i])] + [
                Event("order_lines", "c", None, ln) for ln in lines[starts[i]:starts[i + 1]]
            ]
            t = Tx(events, tx0 + i)
            lsn = lsn0 + LSN_STEP * (starts[i] + 2 * i)
            for e in events:
                lsn += LSN_STEP
                e.tx_id, e.lsn = t.tx_id, lsn
            t.commit_lsn = lsn + LSN_STEP
            for e in events:
                e.commit_lsn = t.commit_lsn
            txs.append(t)
        return txs

    def base_batch(self) -> Batch:
        """The base snapshot as one batch of insert transactions; the
        last ``BASE_DELAYED`` of them lack their END."""
        txs = self._base_txs(0, len(self._base[0]))
        return Batch(txs, txs[: len(txs) - BASE_DELAYED])

    def base_pending(self) -> list[Tx]:
        """Snapshot transactions whose END the first stream batch brings."""
        n = len(self._base[0])
        return self._base_txs(n - BASE_DELAYED, n)

    # -- row images ------------------------------------------------------
    def _int(self, lo: int, hi: int) -> int:
        """Uniform in [lo, hi); cheaper than ``randrange``."""
        return lo + int(self.rng.random() * (hi - lo))

    def _price(self) -> str:
        return f"{self._int(1, 500)}.{self._int(0, 100):02d}"

    def _order_row(self, oid: int) -> dict:
        return {
            "id": oid,
            "order_date": self._int(19000, 20500),
            "purchaser": self._int(1000, 6000),
            "shipping_address": f"{self._int(1, 9999)} Main St",
        }

    def _line_row(self, oid: int) -> dict:
        lid = self.next_line
        self.next_line += 1
        return {
            "id": lid,
            "order_id": oid,
            "product_id": self._int(1, 2000),
            "quantity": self._int(1, 20),
            "price": self._price(),
        }

    # -- transaction kinds (each applies itself to the model) -------------
    def _insert_order(self) -> Tx:
        oid = self.next_order
        self.next_order += 1
        row = self._order_row(oid)
        self.db.add_order(row)
        events = [Event("orders", "c", None, row)]
        for _ in range(self._int(1, 5)):
            line = self._line_row(oid)
            self.db.lines[line["id"]] = line
            self.db.lines_of[oid].append(line["id"])
            events.append(Event("order_lines", "c", None, line))
        return Tx(events)

    def _update_order(self, oid: int) -> Tx:
        before = self.db.orders[oid]
        after = dict(before)
        if self.rng.random() < 0.5:
            after["purchaser"] = self._int(1000, 6000)
        else:
            after["shipping_address"] = f"{self._int(1, 9999)} Oak Ave"
        self.db.orders[oid] = after
        return Tx([Event("orders", "u", before, after)])

    def _update_line(self, oid: int) -> Tx:
        lids = self.db.lines_of[oid]
        if not lids:
            return self._update_order(oid)
        lid = lids[self._int(0, len(lids))]
        before = self.db.lines[lid]
        after = dict(before, quantity=self._int(1, 20))
        if self.rng.random() < 0.5:
            after["price"] = self._price()
        self.db.lines[lid] = after
        return Tx([Event("order_lines", "u", before, after)])

    def _insert_line(self, oid: int) -> Tx:
        line = self._line_row(oid)
        self.db.lines[line["id"]] = line
        self.db.lines_of[oid].append(line["id"])
        return Tx([Event("order_lines", "c", None, line)])

    def _delete_line(self, oid: int) -> Tx:
        lids = self.db.lines_of[oid]
        if not lids:
            return self._insert_line(oid)
        lid = lids.pop(self._int(0, len(lids)))
        return Tx([Event("order_lines", "d", self.db.lines.pop(lid), None)])

    def _delete_order(self, oid: int) -> Tx:
        # cascade: the order's lines go first, in the same transaction
        events = [
            Event("order_lines", "d", self.db.lines.pop(lid), None)
            for lid in self.db.lines_of[oid]
        ]
        events.append(Event("orders", "d", self.db.orders[oid], None))
        self.db.drop_order(oid)
        return Tx(events)

    # -- batches ---------------------------------------------------------
    def _pick_order(self, skew: float) -> int:
        live = self.db.live
        return live[min(int(len(live) * self.rng.random() ** skew), len(live) - 1)]

    def _stamp(self, txs: list[Tx]) -> None:
        """Assign txIds and LSNs. ``txs`` is in commit order. Of the
        pairs (0, 1), (2, 3), ... a share ``INTERLEAVE``, drawn from the
        seed, interleaves when the two touch disjoint orders: the later
        committer begins first and their events alternate."""
        pairs = len(txs) // 2
        chosen = set(self.rng.sample(range(pairs), round(pairs * INTERLEAVE)))
        i = 0
        while i < len(txs):
            a = txs[i]
            b = txs[i + 1] if i + 1 < len(txs) else None
            if (
                i % 2 == 0
                and i // 2 in chosen
                and b is not None
                and not (a.order_keys() & b.order_keys())
            ):
                b.tx_id, a.tx_id = self.next_tx, self.next_tx + 1
                self.next_tx += 2
                order = []
                for k in range(max(len(a.events), len(b.events))):
                    order += b.events[k:k + 1] + a.events[k:k + 1]
                for e in order:
                    self.lsn += LSN_STEP
                    e.lsn = self.lsn
                for t in (a, b):
                    self.lsn += LSN_STEP
                    t.commit_lsn = self.lsn
                i += 2
                continue
            a.tx_id = self.next_tx
            self.next_tx += 1
            for e in a.events:
                self.lsn += LSN_STEP
                e.lsn = self.lsn
            self.lsn += LSN_STEP
            a.commit_lsn = self.lsn
            i += 1
        for t in txs:
            for e in t.events:
                e.tx_id, e.commit_lsn = t.tx_id, t.commit_lsn

    def next_batch(self, n_txs: int, mix: Mix, skew: float, delay_frac: float) -> Batch:
        """``skew`` > 1 concentrates picks on a hot head of the live
        orders (1 = uniform)."""
        kinds = mix.kinds(n_txs)
        self.rng.shuffle(kinds)
        txs = []
        for kind in kinds:
            if kind == "insert_order" or len(self.db.live) < 2:
                txs.append(self._insert_order())
            else:
                txs.append(getattr(self, f"_{kind}")(self._pick_order(skew)))
        self._stamp(txs)
        n_delay = int(round(len(txs) * delay_frac))
        ends = self._delayed + txs[: len(txs) - n_delay]
        self._delayed = txs[len(txs) - n_delay:]
        return Batch(txs, ends)


# -- parquet encoding ---------------------------------------------------------


def _image_array(rows: list[dict | None], typ: pa.StructType) -> pa.Array:
    children = [
        pa.array([r[f.name] if r is not None else None for r in rows], f.type)
        for f in typ
    ]
    mask = pa.array([r is None for r in rows], pa.bool_())
    return pa.StructArray.from_arrays(children, fields=list(typ), mask=mask)


def _events_table(events: list[Event], table: str, row_type: pa.StructType) -> pa.Table:
    n = len(events)
    lsn = pa.array([e.lsn for e in events], pa.int64())
    ts = pa.array([TS0 + e.lsn for e in events], pa.int64())

    def const(v, t):
        return pa.array([v] * n, t)

    source = pa.StructArray.from_arrays(
        [
            const("2.5", pa.string()),
            const("postgresql", pa.string()),
            const("bench", pa.string()),
            ts,
            const(False, pa.bool_()),
            const("inventorydb", pa.string()),
            const(None, pa.string()),
            const("public", pa.string()),
            const(table, pa.string()),
            pa.array([e.tx_id for e in events], pa.int64()),
            lsn,
            const(None, pa.int64()),
        ],
        fields=list(SOURCE_TYPE),
    )
    tx_ref = pa.StructArray.from_arrays(
        [pa.array([f"{e.tx_id}:{e.commit_lsn}" for e in events], pa.string())],
        names=["id"],
    )
    return pa.table(
        {
            "before": _image_array([e.before for e in events], row_type),
            "after": _image_array([e.after for e in events], row_type),
            "source": source,
            "op": pa.array([e.op for e in events], pa.string()),
            "ts_ms": ts,
            "transaction": tx_ref,
        }
    )


def _tx_table(batch: Batch) -> pa.Table:
    rows = []
    for t in batch.txs:
        rows.append(("BEGIN", t, None))
    for t in batch.ends:
        rows.append(("END", t, t.counts()))
    dcs = []
    for _, _, c in rows:
        dcs.append(
            None
            if c is None
            else [
                {"data_collection": "public.orders", "event_count": c[0]},
                {"data_collection": "public.order_lines", "event_count": c[1]},
            ]
        )
    return pa.table(
        {
            "status": pa.array([s for s, _, _ in rows], pa.string()),
            "id": pa.array([f"{t.tx_id}:{t.commit_lsn}" for _, t, _ in rows], pa.string()),
            "event_count": pa.array(
                [None if c is None else c[0] + c[1] for _, _, c in rows], pa.int64()
            ),
            "data_collections": pa.array(dcs, TX_SCHEMA.field("data_collections").type),
            "ts_ms": pa.array([TS0 + t.commit_lsn for _, t, _ in rows], pa.int64()),
        },
        schema=TX_SCHEMA,
    )


def write_batch(batch: Batch, out_dir: str) -> dict[str, str]:
    """Write the batch as three parquet files; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    events = batch.events
    paths = {}
    for name, table in (
        ("orders", _events_table([e for e in events if e.table == "orders"], "orders", ORDER_TYPE)),
        ("lines", _events_table([e for e in events if e.table == "order_lines"], "order_lines", LINE_TYPE)),
        ("txs", _tx_table(batch)),
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
