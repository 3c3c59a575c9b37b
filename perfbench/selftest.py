"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # fast: generator and checker
    python3 perfbench/selftest.py --e2e    # plus full runs (several minutes)

Fast tests: the same seed gives byte-identical inputs and another seed
does not; a correct emission stream passes the checker, and each
planted fault (dropped emission, swapped emission order, stale line in
a document) fails it. ``--e2e`` runs ``run.py`` on ``cdc-trickle`` with
each planted fault (``failed`` must be above 0), every workload of
BENCHMARK.json untraced and traced (every metric named there must be
printed with its unit), and ``catalog-mix`` untraced and traced (every
query must equal its DuckDB oracle).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from cdc import SPECS, _plant  # noqa: E402
from datagen import CdcGenerator, write_batch  # noqa: E402
from oracle import Oracle, check_batch, check_final, emission_doc  # noqa: E402

FAULTS = ("drop", "swap", "stale")
CATALOG_METRICS = {
    0: ("setup_s", "catalog_cold_s", "catalog_warm_s", "peak_rss_mb"),
    1: ("catalog.build_s", "catalog.exec_s", "catalog.spark_jobs", "session.start_s"),
}


def _stream(seed: int, n_batches: int = 3):
    spec = SPECS["cdc-trickle"]
    gen = CdcGenerator(seed, 2000)
    batches = [gen.base_batch()] + [
        gen.next_batch(40, spec.mix, spec.skew, spec.delay_frac)
        for _ in range(n_batches)
    ]
    return batches


def _write_all(batches, out: str) -> list[str]:
    files = []
    for i, b in enumerate(batches):
        files += sorted(write_batch(b, os.path.join(out, f"b{i}")).values())
    return files


def test_same_seed_same_bytes() -> None:
    with tempfile.TemporaryDirectory() as d:
        a = _write_all(_stream(7), os.path.join(d, "a"))
        b = _write_all(_stream(7), os.path.join(d, "b"))
        c = _write_all(_stream(8), os.path.join(d, "c"))
        assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b)), "same seed, different bytes"
        assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c)), "seed ignored"


def _perfect_rows(expected: dict) -> list[dict]:
    """What a correct engine emits for ``expected``, in commit order."""
    rows = []
    for (key, lsn), (tx_id, deleted, oid, date, purchaser, addr, lines) in sorted(
        expected.items(), key=lambda kv: (kv[0][1], kv[0][0])
    ):
        rows.append(
            {
                "order_key": key,
                "commit_lsn": lsn,
                "tx_id": tx_id,
                "deleted": deleted,
                "id": oid,
                "order_date": date,
                "purchaser": purchaser,
                "shipping_address": addr,
                "lines": None
                if lines is None
                else [dict(zip(("id", "product_id", "quantity", "price"), ln)) for ln in lines],
            }
        )
    return rows


def test_checker_passes_correct_and_fails_planted() -> None:
    oracle = Oracle()
    emitted_last = {}
    batches = _stream(11, n_batches=4)
    for i, b in enumerate(batches):
        expected = oracle.expect(b)
        rows = _perfect_rows(expected)
        assert check_batch(rows, expected) == [], f"correct batch {i} flagged"
        if i == 2:
            for fault in FAULTS:
                assert check_batch(_plant(rows, fault), expected), f"planted {fault} not caught"
        for r in rows:
            emitted_last[r["order_key"]] = (r["commit_lsn"], emission_doc(r))
    assert check_final(emitted_last, oracle) == []
    k = next(iter(emitted_last))
    lsn, doc = emitted_last[k]
    emitted_last[k] = (lsn, doc[:4] + (doc[4] + 1,) + doc[5:]) if doc[2] is not None else (lsn - 1, doc)
    assert check_final(emitted_last, oracle), "stale final document not caught"


def test_delayed_ends_carry_over() -> None:
    """Delayed ENDs hold their transactions back exactly one batch."""
    oracle = Oracle()
    batches = _stream(3)
    oracle.expect(batches[0])
    first = oracle.expect(batches[1])
    delayed = {t.commit_lsn for t in batches[1].txs} - {lsn for _, lsn in first}
    assert delayed, "no transaction was delayed"
    second = oracle.expect(batches[2])
    assert delayed <= {lsn for _, lsn in second}


def _run(args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def e2e() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    base = ["--workload", "cdc-trickle", "--seed", "5", "--seconds", "1"]
    for fault in FAULTS:
        res = _run(base + ["--trace", "0", "--plant", fault])
        assert res["failed"] > 0 and not res["correct"], f"planted {fault}: {res}"
        print(f"planted {fault}: failed={res['failed']} attempted={res['attempted']}")
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        for workload in [w["name"] for w in bench["workloads"]]:
            res = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)])
            assert res["correct"], res
            for m in bench[kind]:
                got = res["metrics"].get(m["name"])
                assert got is not None and got["unit"] == m["unit"], f"{workload} {m['name']}: {got}"
            print(f"{workload} trace={trace}: {len(bench[kind])} metrics with units")
    # catalog-mix is not in BENCHMARK.json (see README.md); it reads the
    # tables at $SPARK_GRAFT_SF_DIR, the package's default if unset
    for trace, names in CATALOG_METRICS.items():
        res = _run(["--workload", "catalog-mix", "--seed", "5", "--seconds", "1", "--trace", str(trace)])
        assert res["correct"], res
        missing = [n for n in names if n not in res["metrics"]]
        assert not missing, f"catalog-mix trace={trace}: no {missing}"
        print(f"catalog-mix trace={trace}: {len(res['metrics'])} metrics, every query equal to its oracle")


def main() -> int:
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}")
    if "--e2e" in sys.argv[1:]:
        e2e()
    return 0


if __name__ == "__main__":
    sys.exit(main())
