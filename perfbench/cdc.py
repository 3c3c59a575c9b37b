"""The two CDC workloads: a closed loop with one caller that offers
micro-batch i+1 to ``TxDenormBatchProcessor.process`` when batch i
returns, over a state store restored from a 100k-order snapshot.

* ``cdc-trickle``: ~20 mixed transactions per batch over skewed keys,
  10% of ENDs delayed one batch. Per-batch fixed cost dominates. The
  first batch warms the JVM up and is part of set-up; batches from the
  second on are timed.
* ``cdc-bulk``: 50k update/delete-heavy transactions per batch over
  uniform keys, touching every state bucket. Adds per-event work. The
  first batch, in a cold JVM, is timed.

Every batch, warm-up included, is checked against the oracle.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from datagen import Batch, CdcGenerator, Mix, write_batch
from oracle import Oracle, check_batch, check_final, emission_doc

from streaming_examples_spark.model.envelope import (
    data_change_event_schema,
    transaction_event_schema,
)
from streaming_examples_spark.model.fixtures import LINE_ROW_SCHEMA, ORDER_ROW_SCHEMA
from streaming_examples_spark.streaming.cdc_stream import TxDenormBatchProcessor

import tracing


@dataclass(frozen=True)
class CdcSpec:
    """One CDC workload. The mixes, ``skew`` and ``delay_frac`` are
    chosen, not measured: see perfbench/README.md, "Traffic
    parameters"."""

    batch_txs: int
    mix: Mix
    skew: float  # 1 = uniform keys; larger concentrates on a hot head
    delay_frac: float
    warmup_batches: int  # untimed batches at the start, part of set-up


BASE_ORDERS = 100_000
SPECS = {
    "cdc-trickle": CdcSpec(
        batch_txs=20,
        mix=Mix(0.2, 0.25, 0.2, 0.1, 0.15, 0.1),
        skew=4.0,
        delay_frac=0.1,
        warmup_batches=1,
    ),
    "cdc-bulk": CdcSpec(
        batch_txs=50_000,
        mix=Mix(0.1, 0.35, 0.25, 0.05, 0.15, 0.1),
        skew=1.0,
        delay_frac=0.0,
        warmup_batches=0,
    ),
}


class DurableSink:
    """The ``emission_sink``: collects each batch's emissions through
    Arrow and writes them to a parquet file that is fsync'd before the
    sink returns. Records when each batch's emissions became durable."""

    def __init__(self, out_dir: str, tracer: tracing.Tracer | None):
        self.out_dir = out_dir
        self.tracer = tracer
        self.done_at: dict[int, float] = {}
        self.tables: dict[int, object] = {}
        os.makedirs(out_dir, exist_ok=True)

    def __call__(self, df, batch_id: int) -> None:
        span = self.tracer.span("sink.write") if self.tracer else contextlib.nullcontext()
        with span:
            table = df.toArrow()
            path = os.path.join(self.out_dir, f"batch-{batch_id}.parquet")
            with open(path + ".tmp", "wb") as fh:
                pq.write_table(table, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(path + ".tmp", path)
            dirfd = os.open(self.out_dir, os.O_RDONLY)
            try:
                os.fsync(dirfd)
            finally:
                os.close(dirfd)
        if self.tracer:
            self.tracer.count("sink.rows", table.num_rows)
        self.done_at[batch_id] = time.perf_counter()
        self.tables[batch_id] = table


def _source_digest(root: str) -> str:
    """Digest of the program sources and the generator, keying the
    cached base state to the code that built it."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "streaming_examples_spark")
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    ]
    files.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "datagen.py"))
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def base_path(work_root: str, root: str) -> str:
    """Where the base snapshot's state store for this code is kept."""
    return os.path.join(work_root, f"base-{BASE_ORDERS}-{_source_digest(root)}")


def build_base(session, root: str) -> None:
    """Build the base snapshot's state store through ``process()`` and
    check its emissions against a full replay. Runs in its own session,
    before the measured one starts, so every run is timed in a fresh
    JVM."""
    cache = base_path(session.work_root, root)
    tmp = cache + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    base = CdcGenerator(0, BASE_ORDERS).base_batch()
    paths = write_batch(base, os.path.join(tmp, "input"))
    sink = DurableSink(os.path.join(tmp, "sink"), None)
    proc = TxDenormBatchProcessor(session.spark, os.path.join(tmp, "state"), emission_sink=sink)
    proc.process(*_read_batch(session.spark, paths), batch_id=0)
    problems = check_batch(sink.tables[0].to_pylist(), Oracle().expect(base))
    if problems:
        raise RuntimeError(f"base snapshot emissions are wrong: {problems}")
    shutil.rmtree(os.path.join(tmp, "input"))
    shutil.rmtree(os.path.join(tmp, "sink"))
    os.replace(tmp, cache)


def _read_batch(spark, paths: dict[str, str]):
    return (
        spark.read.schema(data_change_event_schema(ORDER_ROW_SCHEMA)).parquet(paths["orders"]),
        spark.read.schema(data_change_event_schema(LINE_ROW_SCHEMA)).parquet(paths["lines"]),
        spark.read.schema(transaction_event_schema()).parquet(paths["txs"]),
    )


def _plant(rows: list[dict], fault: str) -> list[dict]:
    """Corrupt a copy of one batch's emissions the way a faulty engine
    would: drop one, swap two of different commit LSNs, or make one
    line of a document stale."""
    rows = [dict(r) for r in rows]
    if fault == "drop":
        del rows[len(rows) // 2]
    elif fault == "swap":
        i = next(i for i in range(1, len(rows)) if rows[i]["commit_lsn"] != rows[i - 1]["commit_lsn"])
        rows[i - 1], rows[i] = rows[i], rows[i - 1]
    elif fault == "stale":
        i = next(i for i, r in enumerate(rows) if r["lines"])
        lines = [dict(x) for x in rows[i]["lines"]]
        lines[0]["quantity"] += 1
        rows[i]["lines"] = lines
    return rows


def _plain(record: dict) -> dict:
    """A batch record without its per-layer values, for the details."""
    return {k: v for k, v in record.items() if k != "layers"}


@dataclass
class Staged:
    """One batch written to parquet, with what the oracle expects of it."""

    batch: Batch
    batch_id: int
    paths: dict[str, str]
    expected: dict[tuple[int, int], tuple]


class Source:
    """The seeded stream of one workload and the oracle replaying it.
    Needs no Spark, so the first batch is staged while the JVM starts."""

    def __init__(self, spec: CdcSpec, seed: int, input_dir: str):
        self.spec = spec
        self.input_dir = input_dir
        self.gen = CdcGenerator(seed, BASE_ORDERS)
        self.oracle = Oracle()
        # the base state was checked against a full replay when its
        # store was built (build_base); start the oracle from it, with
        # the snapshot transactions still awaiting their END held back
        pending = self.gen.base_pending()
        held = {t.events[0].after["id"] for t in pending}
        self.oracle.load(
            {k: o for k, o in self.gen.db.orders.items() if k not in held},
            {k: ln for k, ln in self.gen.db.lines.items() if ln["order_id"] not in held},
        )
        self.oracle.expect(Batch(pending, []))
        self.next_id = 1
        self.staged: Staged | None = self._stage(1)

    def _stage(self, batch_id: int) -> Staged:
        spec = self.spec
        batch = self.gen.next_batch(spec.batch_txs, spec.mix, spec.skew, spec.delay_frac)
        paths = write_batch(batch, os.path.join(self.input_dir, f"b{batch_id}"))
        return Staged(batch, batch_id, paths, self.oracle.expect(batch))

    def take(self) -> Staged:
        """The next batch of the stream, numbered from 1."""
        staged = self.staged or self._stage(self.next_id)
        self.staged = None
        self.next_id = staged.batch_id + 1
        return staged


class CdcRun:
    def __init__(self, session, source: Source, trace: bool, plant: str | None):
        self.s = session
        self.spark = session.spark
        self.spec = source.spec
        self.source = source
        self.oracle = source.oracle
        self.work = session.run_dir
        self.trace = trace
        self.plant = plant
        self.tracer = tracing.Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.emitted_last: dict[int, tuple] = {}
        self.records: list[dict] = []

    # -- one batch ----------------------------------------------------------
    def run_batch(self, proc, sink, staged: Staged) -> None:
        batch, batch_id, expected = staged.batch, staged.batch_id, staged.expected
        frames = _read_batch(self.spark, staged.paths)
        sc = self.spark.sparkContext
        group = f"perfbench-batch-{batch_id}"
        sc.setJobGroup(group, group)
        gc0 = tracing.jvm_gc_seconds(self.spark) if self.trace else 0.0
        jvm_cpu0 = tracing.cpu_seconds(self.s.jvm_pid)
        if self.tracer:
            self.tracer.batch = batch_id
        span = self.tracer.span("cdc_stream.process") if self.tracer else contextlib.nullcontext()
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        error = None
        try:
            with span:
                proc.process(*frames, batch_id=batch_id)
        except Exception as exc:  # a failed batch is a measured outcome
            error = f"{type(exc).__name__}: {exc}"
        t1 = time.perf_counter()
        cpu = time.process_time() - cpu0
        jvm_cpu = tracing.cpu_seconds(self.s.jvm_pid) - jvm_cpu0
        if self.tracer:
            self.tracer.batch = None  # the accounting below is not the batch's
        sc.setJobGroup("perfbench-idle", "perfbench-idle")
        self.attempted += 1
        problems = [error] if error else []
        rec = {
            "batch": batch_id,
            "events": batch.n_events,
            "txs": len({lsn for _, lsn in expected}),  # transactions the batch commits
            "wall_s": t1 - t0,
            "jvm_cpu_s": jvm_cpu,
        }
        if error is None:
            rows = sink.tables.pop(batch_id).to_pylist()
            if self.plant:
                rows = _plant(rows, self.plant)
                self.plant = None
            problems += check_batch(rows, expected)
            for r in rows:
                self.emitted_last[r["order_key"]] = (r["commit_lsn"], emission_doc(r))
            rec["emit_s"] = sink.done_at[batch_id] - t0
            counts = tracing.job_counts(sc, group)
            if counts["failed_tasks"]:
                problems.append(f"{counts['failed_tasks']} failed Spark tasks")
            if self.trace:
                rec["layers"] = self.layer_totals(proc, batch_id, counts, cpu, jvm_cpu, gc0)
        if problems:
            self.failed += 1
            self.problems += [f"batch {batch_id}: {p}" for p in problems]
        self.records.append(rec)
        if error is not None:
            raise RuntimeError(f"batch {batch_id} raised: {error}")

    def layer_totals(self, proc, batch_id, counts, cpu, jvm_cpu, gc0) -> dict[str, float]:
        t = self.tracer.batch_totals(batch_id)
        backend = proc.backend
        version_dir = os.path.join(proc.state_dir, f"v{backend.read_pointer(proc.state_dir)}")
        out = {
            "cdc_stream.spark_jobs": counts["jobs"],
            "cdc_stream.spark_stages": counts["stages"],
            "cdc_stream.spark_tasks": counts["tasks"],
            "cdc_stream.failed_tasks": counts["failed_tasks"],
            "cdc_stream.self_s": t.get("cdc_stream.process.self_s", 0.0),
            "cdc_stream.backlog_rows": proc.metrics.backlog_rows,
            "cdc_stream.committed_txs": proc.metrics.committed_transactions,
            "driver.py4j_calls": t.get("driver.py4j_calls", 0),
            "driver.cpu_s": cpu,
            "driver.jvm_cpu_s": jvm_cpu,
            "driver.jvm_gc_s": tracing.jvm_gc_seconds(self.spark) - gc0,
            "txjoin.build_s": t.get("txjoin.build_s", 0.0),
            "locks.wait_s": t.get("locks.wait_s", 0.0),
            "state_backend.carry_files": t.get("state_backend.carry_files", 0),
            "state_backend.carry_s": t.get("state_backend.carry_s", 0.0),
            "state_backend.commit_s": t.get("state_backend.commit_s", 0.0),
            "state_backend.remove_tree_s": t.get("state_backend.remove_tree_s", 0.0),
            "state_backend.publish_files": t.get("state_backend.publish_files", 0),
            "state_backend.read_locations": t.get("state_backend.read_locations", 0),
            "state_backend.bytes_written": tracing.tree_bytes(version_dir, backend.carried),
            "sink.write_s": t.get("sink.write_s", 0.0),
            "sink.rows": t.get("sink.rows", 0),
        }
        # committed_transactions is cumulative on the processor
        out["cdc_stream.committed_txs"] -= sum(
            r.get("layers", {}).get("cdc_stream.committed_txs", 0) for r in self.records
        )
        backend.carried.clear()
        n_spans = sum(1 for s in self.tracer.spans if s.batch == batch_id)
        out["trace.overhead_s"] = (
            n_spans * self.s.span_cost_s + out["driver.py4j_calls"] * self.s.count_cost_s
        )
        return out

    # -- the run ------------------------------------------------------------
    def run(self, root: str, seconds: float, t_setup0: float) -> dict:
        spec = self.spec
        base = base_path(self.s.work_root, root)
        state_dir = os.path.join(self.work, "state")
        shutil.copytree(os.path.join(base, "state"), state_dir)
        sink = DurableSink(os.path.join(self.work, "sink"), self.tracer)
        backend = tracing.TracingBackend(self.tracer) if self.tracer else None
        proc = TxDenormBatchProcessor(self.spark, state_dir, backend=backend, emission_sink=sink)
        hooks = tracing.layer_hooks(self.tracer, self.spark) if self.tracer else contextlib.nullcontext()

        with hooks:
            for _ in range(spec.warmup_batches):
                self.run_batch(proc, sink, self.source.take())
            staged = self.source.take()
            setup_s = time.perf_counter() - t_setup0
            busy = 0.0
            while True:
                self.run_batch(proc, sink, staged)
                busy += self.records[-1]["wall_s"]
                if busy >= seconds:
                    break
                staged = self.source.take()
        # the end-of-run state check counts as one more operation
        final = check_final(self.emitted_last, self.oracle)
        self.attempted += 1
        if final:
            self.failed += 1
            self.problems += final
        timed = self.records[spec.warmup_batches:]
        metrics = {
            "setup_s": (setup_s, "s"),
            "txs_per_s": (sum(r["txs"] for r in timed) / sum(r["wall_s"] for r in timed), "1/s"),
            "batch_p50_s": (statistics.median(r["wall_s"] for r in timed), "s"),
            "emit_p50_s": (statistics.median(r["emit_s"] for r in timed), "s"),
            "peak_rss_mb": (tracing.peak_rss_bytes(self.s.pids()) / 1e6, "MB"),
            "state_mb": (tracing.tree_bytes(state_dir) / 1e6, "MB"),
        }
        if self.tracer:
            metrics = self.per_layer(timed)
            self.tracer.dump(os.path.join(self.s.work_root, f"spans-{self.s.workload}.json"))
        detail = {
            "warmup_batches": [_plain(r) for r in self.records[: spec.warmup_batches]],
            "batches": [_plain(r) for r in timed],
            "events_per_s": sum(r["events"] for r in timed) / sum(r["wall_s"] for r in timed),
            "error_rate": self.failed / self.attempted,
            "problems": self.problems[:20],
        }
        return {"metrics": metrics, "detail": detail}

    def per_layer(self, timed: list[dict]) -> dict[str, tuple[float, str]]:
        names = timed[0]["layers"].keys()
        out = {}
        for n in names:
            v = statistics.median(r["layers"][n] for r in timed)
            unit = "s" if n.endswith("_s") else "B" if n.endswith("bytes_written") else "count"
            out[n] = (v, unit)
        wall = statistics.median(r["wall_s"] for r in timed)
        out["trace.overhead_pct"] = (100.0 * out["trace.overhead_s"][0] / wall, "%")
        out["trace.batch_p50_s"] = (wall, "s")
        out["session.start_s"] = (self.s.start_s, "s")
        return out


def prepare(workload, seed, run_dir) -> Source:
    return Source(SPECS[workload], seed, os.path.join(run_dir, "input"))


def run(session, prepared, workload, seed, seconds, trace, plant, root, t_setup0):
    r = CdcRun(session, prepared, trace, plant)
    out = r.run(root, seconds, t_setup0)
    return r.attempted, r.failed, out["metrics"], out["detail"]
