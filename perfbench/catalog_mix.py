"""The ``catalog-mix`` workload: the 15 headline batch-catalog queries
(flagship plus one per operator family), each run cold and then warm,
writing to the noop sink.

* cold: caches cleared, plan constructed without the catalog's plan
  cache, then executed; timed as build (construction) + exec.
* warm: the query through the plan cache, once to fill it, then the
  median of three executions.

Inputs are the parquet tables of one scale-factor directory:
``$SPARK_GRAFT_SF_DIR``, the same variable and default the package's
table loader uses. Once per run, outside the timed region, each query's
result is compared with its ``CatalogEntry.oracle`` on DuckDB by row
count, column names and an order-insensitive value hash canonicalized
through pandas.

``--seed`` picks the order the queries run in; ``--seconds`` is not
used, a run always covers every query once.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import random
import statistics
import time

HEADLINE = (
    "denorm_orders",
    "tx_denorm_orders",
    "pricing_summary",
    "regional_revenue",
    "top_customers",
    "upsert_latest_events",
    "fill_forward_events",
    "sessionize_events",
    "dedup_minhash_lsh",
    "dedup_groups",
    "dedup_exact_norm",
    "ann_topk",
    "text_stats",
    "curated_corpus",
    "training_mix",
)
WARM_RUNS = 3


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        v = datetime.datetime(v.year, v.month, v.day)
    if hasattr(v, "isoformat"):
        return "NULL" if str(v) == "NaT" else v.isoformat(sep=" ")
    return str(v)


def frame_digest(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted column names, order-insensitive value hash) of a
    pandas frame, values canonicalized to strings."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "\x01".join(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(pdf), cols, h.hexdigest()[:16]


def check_oracles(spark, sf_dir: str, names) -> list[str]:
    import duckdb

    from streaming_examples_spark.catalog import entries, release
    from streaming_examples_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    problems = []
    cat = entries()
    for name in names:
        got = cat[name].fn(spark, sf_dir).toPandas()
        if cat[name].oracle is None:
            if got.empty:
                problems.append(f"{name}: zero rows")
        else:
            a, b = frame_digest(got), frame_digest(con.execute(cat[name].oracle).df())
            if a != b:
                problems.append(f"{name}: spark {a} != duckdb {b}")
        release(spark, name, sf_dir)
    con.close()
    return problems


def prepare(workload, seed, run_dir):
    """Nothing to make before the session starts: the tables are given."""
    return None


def run(session, prepared, workload, seed, seconds, trace, plant, root, t_setup0):
    import tracing

    from streaming_examples_spark.catalog import entries, release
    from streaming_examples_spark.tables import DEFAULT_SF_DIR

    spark = session.spark
    sc = spark.sparkContext
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"perfbench: catalog-mix needs the tables at {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    cat = entries()
    names = list(HEADLINE)
    random.Random(seed).shuffle(names)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    setup_s = time.perf_counter() - t_setup0

    per_q: dict[str, dict[str, float]] = {}
    failed = 0
    problems: list[str] = []
    for name in names:
        q: dict[str, float] = {}
        try:
            spark.catalog.clearCache()
            sc.setJobGroup(f"perfbench-{name}", name)
            t0 = time.perf_counter()
            df = cat[name].fn.__wrapped__(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            q["build_s"], q["exec_s"], q["cold_s"] = t1 - t0, t2 - t1, t2 - t0
            q["spark_jobs"] = tracing.job_counts(sc, f"perfbench-{name}")["jobs"]
            spark.catalog.clearCache()
            cat[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs = []
            for _ in range(WARM_RUNS):
                t0 = time.perf_counter()
                cat[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            q["warm_s"] = statistics.median(runs)
        except Exception as exc:  # a failed query is a measured outcome
            failed += 1
            problems.append(f"{name}: {type(exc).__name__}: {exc}")
        finally:
            release(spark, name, sf_dir)
            spark.catalog.clearCache()
        per_q[name] = q
    sc.setJobGroup("perfbench-check", "check")
    wrong = check_oracles(spark, sf_dir, [n for n in names if "warm_s" in per_q[n]])
    failed += len(wrong)
    problems += wrong
    attempted = len(names) * (2 + WARM_RUNS)
    ok = [q for q in per_q.values() if "warm_s" in q]
    if trace:
        metrics = {
            "catalog.build_s": (sum(q["build_s"] for q in ok), "s"),
            "catalog.exec_s": (sum(q["exec_s"] for q in ok), "s"),
            "catalog.spark_jobs": (sum(q["spark_jobs"] for q in ok), "count"),
            "session.start_s": (session.start_s, "s"),
        }
        for name in HEADLINE:
            for k in ("cold_s", "warm_s"):
                if k in per_q[name]:
                    metrics[f"catalog.{name}.{k}"] = (per_q[name][k], "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "catalog_cold_s": (sum(q["cold_s"] for q in ok), "s"),
            "catalog_warm_s": (sum(q["warm_s"] for q in ok), "s"),
            "peak_rss_mb": (tracing.peak_rss_bytes(session.pids()) / 1e6, "MB"),
        }
    detail = {
        "sf_dir": sf_dir,
        "order": names,
        "queries": per_q,
        "error_rate": failed / attempted,
        "problems": problems,
    }
    return attempted, failed, metrics, detail
