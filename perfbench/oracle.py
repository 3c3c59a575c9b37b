"""Independent reference for the tx-consistent denormalization: a dict
replay of the generated change log, and the checks the benchmark runs
on every batch's emissions (outside the timed region).

Emission contract checked (operators/txjoin.py docstring):

* exactly one emission per touched (order key, commit LSN) pair of the
  transactions the batch completes;
* emissions arrive in commit-LSN order;
* each emission is the order's document as of that commit: header
  fields and the live lines sorted by id, or a tombstone once deleted;
* the last document emitted per order equals the replayed final state.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from decimal import Decimal

from datagen import Batch, Tx

EPOCH = dt.date(1970, 1, 1)


class Oracle:
    """Replays transactions in commit order as their END records
    arrive, holding data events until their transaction completes."""

    def __init__(self):
        self.orders: dict[int, dict] = {}
        self.lines: dict[int, dict] = {}
        self.lines_of: dict[int, set[int]] = {}
        self._events: dict[int, list] = {}  # tx_id -> data events seen
        self._ends: dict[int, Tx] = {}  # known, not yet applied
        self.last_doc: dict[int, tuple] = {}  # order key -> (commit, doc)

    def load(self, orders: dict[int, dict], lines: dict[int, dict]) -> None:
        """Start from a known database state (row images are not
        mutated in place by their producer)."""
        self.orders = dict(orders)
        self.lines = dict(lines)
        for ln in lines.values():
            self.lines_of.setdefault(ln["order_id"], set()).add(ln["id"])

    def doc(self, key: int, tx_id: int) -> tuple:
        o = self.orders.get(key)
        if o is None:
            return (tx_id, True, None, None, None, None, None)
        lines = tuple(
            (
                ln["id"],
                ln["product_id"],
                ln["quantity"],
                Decimal(ln["price"]).quantize(Decimal("0.01")),
            )
            for ln in sorted((self.lines[i] for i in self.lines_of.get(key, ())), key=lambda r: r["id"])
        )
        return (
            tx_id,
            False,
            o["id"],
            EPOCH + dt.timedelta(days=o["order_date"]),
            o["purchaser"],
            o["shipping_address"],
            lines,
        )

    def _apply(self, e) -> None:
        if e.table == "orders":
            if e.after is None:
                self.orders.pop(e.before["id"], None)
            else:
                self.orders[e.after["id"]] = e.after
            return
        if e.before is not None:
            self.lines.pop(e.before["id"], None)
            self.lines_of.get(e.before["order_id"], set()).discard(e.before["id"])
        if e.after is not None:
            self.lines[e.after["id"]] = e.after
            self.lines_of.setdefault(e.after["order_id"], set()).add(e.after["id"])

    def expect(self, batch: Batch) -> dict[tuple[int, int], tuple]:
        """Feed one batch; return the expected emissions, keyed by
        (order key, commit LSN)."""
        for t in batch.txs:
            for e in t.events:
                self._events.setdefault(e.tx_id, []).append(e)
        for t in batch.ends:
            self._ends[t.tx_id] = t

        def complete(t: Tx) -> bool:
            seen = self._events.get(t.tx_id, [])
            n_orders = sum(1 for e in seen if e.table == "orders")
            return (n_orders, len(seen) - n_orders) == t.counts()

        # the emission barrier: nothing at or above the lowest known
        # incomplete commit may emit yet
        pending = sorted(self._ends.values(), key=lambda t: t.commit_lsn)
        out: dict[tuple[int, int], tuple] = {}
        for t in pending:
            if not complete(t):
                break
            events = sorted(self._events.pop(t.tx_id), key=lambda e: e.lsn)
            for e in events:
                self._apply(e)
            for key in sorted({e.order_key for e in events}):
                doc = self.doc(key, t.tx_id)
                out[(key, t.commit_lsn)] = doc
                self.last_doc[key] = (t.commit_lsn, doc)
            del self._ends[t.tx_id]
        return out


def emission_doc(row: dict) -> tuple:
    """A collected emission row in the oracle's document form."""
    lines = row["lines"]
    return (
        row["tx_id"],
        bool(row["deleted"]),
        row["id"],
        row["order_date"],
        row["purchaser"],
        row["shipping_address"],
        None
        if lines is None
        else tuple(
            (ln["id"], ln["product_id"], ln["quantity"], ln["price"]) for ln in lines
        ),
    )


def check_batch(rows: list[dict], expected: dict[tuple[int, int], tuple]) -> list[str]:
    """Compare one batch's emissions (in the order the sink received
    them) with the oracle's; returns a list of problems, empty if the
    batch is correct."""
    problems = []
    lsns = [r["commit_lsn"] for r in rows]
    for i in range(1, len(lsns)):
        if lsns[i] < lsns[i - 1]:
            problems.append(f"commit order: lsn {lsns[i]} after {lsns[i - 1]} at row {i}")
            break
    counts = Counter((r["order_key"], r["commit_lsn"]) for r in rows)
    dups = [k for k, c in counts.items() if c > 1]
    if dups:
        problems.append(f"{len(dups)} duplicate (order, commit) emissions, e.g. {dups[0]}")
    missing = [k for k in expected if k not in counts]
    if missing:
        problems.append(f"{len(missing)} missing emissions, e.g. {missing[0]}")
    extra = [k for k in counts if k not in expected]
    if extra:
        problems.append(f"{len(extra)} unexpected emissions, e.g. {extra[0]}")
    wrong = [
        (key, doc, expected[key])
        for r in rows
        for key, doc in [((r["order_key"], r["commit_lsn"]), emission_doc(r))]
        if key in expected and doc != expected[key]
    ]
    if wrong:
        key, got, want = wrong[0]
        problems.append(f"{len(wrong)} wrong documents, e.g. {key}: got {got}, want {want}")
    return problems


def check_final(emitted_last: dict[int, tuple], oracle: Oracle) -> list[str]:
    """The last document emitted per order (``key -> (commit, doc)``)
    must equal the oracle's replayed state for that order."""
    bad = [
        k
        for k, (lsn, doc) in emitted_last.items()
        if oracle.last_doc.get(k) != (lsn, doc)
        or doc[1:] != oracle.doc(k, doc[0])[1:]
    ]
    return [f"{len(bad)} orders whose final document differs from the replay, e.g. {bad[0]}"] if bad else []
