"""Engine benchmark: one command runs a named workload with a seed,
checks the program's outputs, and prints every metric with its unit.

    python3 perfbench/run.py --workload cdc-trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it holds run details (effective Spark conf, nproc, load average, batch
samples, error rate). Working files go to ``.bench_work/`` in the
checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("cdc-trickle", "cdc-bulk", "catalog-mix")
#: driver heap, fixed (-Xms = -Xmx) so that heap resizing does not vary
#: between runs; not pretouched, so pages are backed as they are used
DRIVER_MEM = "3g"


class Session:
    """The Spark session sized for the host, plus the process facts
    the metrics need. The constructor makes the run's directories and
    environment; ``start()`` starts the JVM; ``stop()`` shuts it down
    and waits for it."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.work_root = WORK_ROOT
        self.run_dir = os.path.join(self.work_root, f"run-{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp)
        self.nproc = len(os.sched_getaffinity(0))
        # keep every scratch file of Python, Spark and the JVM in the checkout
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        self.spark = None

    def start(self) -> None:
        from streaming_examples_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        import tracing

        self.jvm_pid = tracing.jvm_pid(self.spark)
        self.span_cost_s, self.count_cost_s = _calibrate()

    def pids(self) -> list[int]:
        return [os.getpid(), self.jvm_pid]

    def conf(self) -> dict[str, str]:
        return dict(sorted(self.spark.sparkContext.getConf().getAll()))

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _calibrate() -> tuple[float, float]:
    """Added cost of one span and of one counted py4j call, used to
    estimate the traced run's overhead inside the timed region."""
    import tracing

    t = tracing.Tracer()
    n = 20000

    def f():
        return None

    def counted():
        t.count("x")
        return f()

    def per_call(fn) -> float:
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        return (time.perf_counter() - t0) / n

    def spanned():
        with t.span("x"):
            return f()

    bare = per_call(f)
    return per_call(spanned) - bare, per_call(counted) - bare


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant",
        choices=("drop", "swap", "stale"),
        help="corrupt the first batch's emissions before the check "
        "(self-test of the checker; CDC workloads only)",
    )
    ap.add_argument(
        "--build-base",
        action="store_true",
        help="only build the cached base state of the CDC workloads, then exit",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "streaming_examples_spark")):
        print(
            f"perfbench: no streaming_examples_spark package under {ROOT}; "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    if args.workload == "catalog-mix":
        import catalog_mix as mod
    else:
        import cdc as mod
    if args.build_base:
        build = Session(args.workload, args.seed)
        try:
            build.start()
            mod.build_base(build, ROOT)
        finally:
            build.stop()
            shutil.rmtree(build.run_dir, ignore_errors=True)
        return 0
    build_s = None
    if args.workload != "catalog-mix" and not os.path.isdir(mod.base_path(WORK_ROOT, ROOT)):
        # in a process of its own, so that the build's memory peak is not
        # in this process's VmHWM
        t0 = time.perf_counter()
        cmd = [sys.executable, os.path.abspath(__file__), *(sys.argv[1:] if argv is None else argv)]
        subprocess.run([*cmd, "--build-base"], stdout=sys.stderr, check=True)
        build_s = time.perf_counter() - t0

    t_setup0 = time.perf_counter()
    load_start = os.getloadavg()
    session = Session(args.workload, args.seed)
    try:
        # the workload's inputs are made while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(mod.prepare, args.workload, args.seed, session.run_dir)
            session.start()
            prepared = prepared.result()
        attempted, failed, metrics, detail = mod.run(
            session, prepared, args.workload, args.seed, args.seconds, bool(args.trace), args.plant, ROOT, t_setup0
        )
        conf = session.conf()
    finally:
        session.stop()
        shutil.rmtree(session.run_dir, ignore_errors=True)
    detail.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": session.nproc,
            "base_build_s": build_s,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "spark_conf": conf,
        }
    )
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
