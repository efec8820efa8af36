"""Batch catalog entries on seeded star-schema tables, in two groups timed
as separate end-to-end metrics.

* SQL-shaped entries run no jobs while their DataFrame is built and are
  shuffle/join-bound.
* Iterative entries run eager jobs (checkpoints, power iterations) while
  being built; cutting those barriers should move only this group.

Each entry is built, then executed by collecting its result; build and
execution are timed separately, over two passes. Every result is then compared, untimed,
with the entry's DuckDB oracle under the suite's comparison rules.
"""

from __future__ import annotations

import os
import sys
import time

import common
import gen

SF = 0.1
# Subsets of the two groups: each run must finish well inside its time
# budget, and an entry's DuckDB oracle must be quick at this scale
# (dedup_clusters_incremental's takes over two minutes; see NOTES.md).
SQL_GROUP = ("q21_suppliers_who_kept_orders_waiting",)
ITER_GROUP = ("embedding_pca_power", "basket_brand_lift")
SETUP_REPS = 3
# Each entry runs this many times and reports its median: host speed
# drifts within a run, and one execution per entry left the slowest
# entry's time spread by a quarter over ten runs.
PASSES = 2
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def setup_once(spark, sf_dir: str) -> float:
    """Register the ten tables on a fresh session (empty read cache) and
    collect one small aggregate over the largest, which warms the scan,
    shuffle and collect paths the entries use; seconds."""
    from dsp_spark.session import load_tables

    t0 = time.perf_counter()
    fresh = spark.newSession()
    load_tables(fresh, sf_dir)["lineitem"].groupBy("l_returnflag").count().toPandas()
    return time.perf_counter() - t0


def time_entry(spark, qs, name: str, sf_dir: str) -> tuple[dict, object]:
    jobs0, st0 = common.job_count(spark), common.stage_totals(spark)
    t0 = time.perf_counter()
    df = qs[name](spark, sf_dir)
    t1 = time.perf_counter()
    jobs1 = common.job_count(spark)
    pdf = df.toPandas()
    t2 = time.perf_counter()
    jobs2, st2 = common.job_count(spark), common.stage_totals(spark)
    prof = {
        "build_s": t1 - t0, "build_jobs": jobs1 - jobs0, "exec_s": t2 - t1, "jobs": jobs2 - jobs1,
        "stages": st2["stages"] - st0["stages"], "shuffle_bytes": st2["shuffle_bytes"] - st0["shuffle_bytes"],
        "input_records": st2["input_records"] - st0["input_records"], "rows": len(pdf),
    }
    return prof, pdf


def oracle_check(sf_dir: str, results: dict) -> dict[str, str | None]:
    """DuckDB oracle per entry, compared with the suite's normalisation
    (``tests/_compare.py``); None when equal, else the mismatch."""
    import duckdb

    from dsp_spark.catalog import oracle_sql

    sys.path.insert(0, os.path.join(common.ROOT, "tests"))
    from _compare import assert_results_equal

    sql = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    out = {}
    for name, pdf in results.items():
        try:
            assert_results_equal(pdf, con.execute(sql[name]).fetchdf(), name)
            out[name] = None
        except AssertionError as e:
            out[name] = str(e)[:500]
    con.close()
    return out


def run(spark, run: common.Run) -> None:
    from dsp_spark.catalog import queries

    sf_dir = run.path("tables")
    t0 = time.perf_counter()
    rows = gen.catalog_tables(sf_dir, SF, run.seed)
    run.record["catalog"] = {"sf": SF, "table_rows": rows, "gen_s": time.perf_counter() - t0}
    for _ in range(SETUP_REPS):
        run.setup(setup_once(spark, sf_dir))
    qs = queries()
    results, passes = {}, {name: [] for name in SQL_GROUP + ITER_GROUP}
    for _ in range(PASSES):
        for name in passes:
            prof, results[name] = time_entry(spark, qs, name, sf_dir)
            passes[name].append(prof)
    # timings: median over passes; counts: the last pass, once table
    # reads are cached
    profiles = {
        name: {**ps[-1], **{k: common.median([p[k] for p in ps]) for k in ("build_s", "exec_s")}}
        for name, ps in passes.items()
    }
    for group, names in (("sql", SQL_GROUP), ("iter", ITER_GROUP)):
        run.count(f"catalog.{group}_group_s", sum(profiles[n]["build_s"] + profiles[n]["exec_s"] for n in names), "s")
    with run.phase("oracle"):
        mismatches = oracle_check(sf_dir, results)
    for name, err in mismatches.items():
        run.check(f"catalog.{name}", 1, err is not None, error=err)

    # an entry is one request: from the call to its collected result
    lat_ms = [(p["build_s"] + p["exec_s"]) * 1000.0 for p in profiles.values()]
    pct, tail, n = common.tail_percentile(lat_ms)  # a handful of entries: the slowest
    run.e2e("latency_p50_ms", common.quantile(lat_ms, 50), "ms")
    run.e2e("latency_tail_ms", tail, "ms")
    run.e2e("throughput_per_s", sum(p["input_records"] for p in profiles.values()) / (sum(lat_ms) / 1000.0), "1/s")
    run.record["catalog"].update({"entries": passes, "latency_samples": n, "tail_percentile": pct})
    for name, prof in profiles.items():
        for k in ("build_s", "exec_s"):
            run.count(f"catalog.{name}.{k}", prof[k], "s")
        for k in ("build_jobs", "jobs", "stages"):
            run.count(f"catalog.{name}.{k}", prof[k])
        run.count(f"catalog.{name}.shuffle_bytes", prof["shuffle_bytes"], "B")
