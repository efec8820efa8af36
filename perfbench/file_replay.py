"""Closed-loop file replay (traced runs): seeded frame files with
Zipf-skewed client ids drained with AvailableNow through (a) ``Pipeline``
-> parse -> route -> Multicast to two parquet sinks and (b) three sketch
queries (``heavy_hitters_stream``, ``approx_distinct_stream``,
``cms_stream``) over the parsed heartbeats, plus the layer ladder. Every
output is checked.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter

import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import common
import gen
import pipeline as pl
import progress as pg

ROWS_PER_FILE = 10_000
N_FILES = 3
SKETCH_FILES = 2  # the sketches read the first two: one set-up batch, one measured
SKETCHES = ("hh", "hll", "cms")
HLL_SIGMAS = 4.0  # checked band: 4 x the sketch's stated 1.04/sqrt(m)
LANES = 8


def _await(q, timeout: float = 150.0) -> None:
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(f"query {q.name} did not drain in {timeout}s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def drain_stats(prog: list[dict], t_start: float, rows_first: int, rows_total: int) -> dict:
    """Set-up (start to first committed batch) and throughput over the
    batches after the first, from the query's progress records."""
    ends = sorted((p["batchId"], pg.epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0)
                  for p in prog)
    first_end, last_end = ends[0][1], ends[-1][1]
    return {"setup_s": first_end - t_start, "drain_s": last_end - first_end, "first_end": first_end, "end": last_end,
            "rows_per_s": (rows_total - rows_first) / max(last_end - first_end, 1e-9), "batches": len(ends)}


def heartbeats(df):
    return pl.to_envelope(df).where(F.col("client_id").isNotNull()).select(
        "client_id", (F.col("client_id") % LANES).alias("lane"))


def replay(spark, run: common.Run, src: str, n_rows: int, tracer) -> None:
    from dsp_spark.engine import Pipeline
    from dsp_spark.operators.router import route

    sinks = [run.path("replay-lake"), run.path("replay-archive")]
    pipe = Pipeline(spark, pl.config(pl.file_source(src), sinks, pl.REPLAY_RULES), transform=pl.to_envelope)
    t0 = time.time()
    _await(pipe.start(checkpoint=run.path("replay-ck"), available_now=True))
    prog = pg.as_dicts(pipe.query.recentProgress)
    pipe.stop()
    st = drain_stats(prog, t0, ROWS_PER_FILE, n_rows)
    run.setup(st["setup_s"])
    run.count("engine.replay_mps", st["rows_per_s"], "msg/s")
    run.record["replay"] = st

    # check: each sink holds exactly a batch route() over the same files
    want_t = route(pl.to_envelope(spark.read.parquet(src)), pl.REPLAY_RULES).select("value", "topic").toArrow()
    want = Counter(zip(want_t.column("value").to_pylist(), want_t.column("topic").to_pylist()))
    bad_seqs: set[int] = set()
    for sink in sinks:
        got_t = ds.dataset(sink, format="parquet").to_table(columns=["value", "topic"])
        got = Counter(zip(got_t.column("value").to_pylist(), got_t.column("topic").to_pylist()))
        bad_seqs |= {gen.frame_seq(v) for v, _ in (want - got) + (got - want)}
    run.check("file_replay.sinks_equal_batch_route", n_rows, len(bad_seqs))

    run.record["replay"]["listener_counters"] = dict(pipe.listener.counters)
    run.timing("engine.replay_add_batch_ms", pg.durations(prog, "addBatch"), tail=False)
    tracer.report(run, "multicast.n2", [os.path.basename(d) for d in sinks])


def _sketch_query(spark, run, name: str, src: str):
    from dsp_spark.streaming import stateful as sf

    stream = spark.readStream.schema("value binary").option("maxFilesPerTrigger", 1).parquet(src)
    hb = heartbeats(stream)
    op = {
        "hh": lambda: sf.heavy_hitters_stream(hb, item_col="client_id"),
        "hll": lambda: sf.approx_distinct_stream(hb, key_col="lane", item_col="client_id"),
        "cms": lambda: sf.cms_stream(hb, key_col="client_id"),
    }[name]()
    table = f"pb_{name}_{run.seed}_{int(time.time() * 1000)}"
    q = (op.writeStream.format("memory").queryName(table).outputMode("update")
         .option("checkpointLocation", run.path(f"sk-ck-{name}")).trigger(availableNow=True).start())
    return q, table


def sketches(spark, run: common.Run, src: str, clients: pd.Series) -> None:
    """Run the three sketch queries together over the same files and
    check each against its batch twin."""
    from dsp_spark.streaming import stateful as sf

    hb_rows = len(clients)
    first_rows = int((clients.index < ROWS_PER_FILE).sum())
    t0 = time.time()
    started = {name: _sketch_query(spark, run, name, src) for name in SKETCHES}
    stats = {}
    for name, (q, table) in started.items():
        _await(q)
        prog = pg.as_dicts(q.recentProgress)
        stats[name] = st = drain_stats(prog, t0, first_rows, hb_rows)
        run.setup(st["setup_s"])
        out = spark.table(table).toPandas()
        spark.catalog.dropTempView(table)
        failed, attempted = CHECKS[name](spark, out, clients, sf)
        run.check(f"sketch.{name}", attempted, failed)
        ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        run.count(f"stateful.{name}.rows_per_s", st["rows_per_s"], "rows/s")
        run.timing(f"stateful.{name}.add_batch_ms", pg.durations(prog, "addBatch"), tail=False)
        run.count(f"stateful.{name}.state_rows", ops[-1]["numRowsTotal"])
        run.count(f"stateful.{name}.state_mem_bytes", ops[-1]["memoryUsedBytes"], "B")
        run.timing(f"stateful.{name}.state_commit_ms", [o.get("commitTimeMs", 0) for o in ops], tail=False)
        run.timing(f"stateful.{name}.all_updates_ms", [o.get("allUpdatesTimeMs", 0) for o in ops], tail=False)
    # aggregate fold rate of the three queries over their common window
    # (after each one's first batch, which is set-up)
    window = max(st["end"] for st in stats.values()) - min(st["first_end"] for st in stats.values())
    run.count("stateful.sketch_rows_per_s", len(SKETCHES) * (hb_rows - first_rows) / max(window, 1e-9), "rows/s")
    run.record["sketches"] = stats


def _check_hh(spark, out: pd.DataFrame, clients: pd.Series, sf) -> tuple[int, int]:
    """Misra-Gries bounds against ``heavy_hitters_batch``: no item
    overcounted, undercount at most the shard's decrements, every item
    above N_shard/(capacity+1) present."""
    truth_df = sf.heavy_hitters_batch(
        spark.createDataFrame(pd.DataFrame({"client_id": clients.astype("int64").values})), item_col="client_id"
    ).toPandas()
    truth = {(r.shard, r.item): r.true_count for r in truth_df.itertuples()}
    final = {}
    for shard, grp in out.groupby("shard"):
        top = grp["decrements"].max()
        final[shard] = (grp[grp["decrements"] == top].groupby("item")["est_count"].max().to_dict(), int(top))
    totals: dict[int, int] = {}
    for (shard, _), c in truth.items():
        totals[shard] = totals.get(shard, 0) + c
    failed = attempted = 0
    for (shard, item), true in truth.items():
        counters, dec = final.get(shard, ({}, 0))
        est = counters.get(item)
        heavy = true > totals[shard] / (sf.HH_CAPACITY + 1)
        if est is None and not heavy:
            continue
        attempted += 1
        failed += est is None or est > true or true - est > dec
    return failed, attempted


def _check_hll(spark, out: pd.DataFrame, clients: pd.Series, sf) -> tuple[int, int]:
    truth = clients.groupby(clients % LANES).nunique()
    tol = HLL_SIGMAS * 1.04 / math.sqrt(1 << sf.HLL_B)
    final = {}
    for key, grp in out.groupby("key"):
        final[int(key)] = float(grp.sort_values(["n_zero_regs", "estimate"], ascending=[True, False]).iloc[0]["estimate"])
    failed = sum(abs(final.get(int(k), 0.0) - v) > tol * v for k, v in truth.items())
    return failed, len(truth)


def _check_cms(spark, out: pd.DataFrame, clients: pd.Series, sf) -> tuple[int, int]:
    """Shard-merged final counters equal the batch counter matrix built
    from the shared bucket definition."""
    want: dict[tuple[int, int], int] = {}
    for key, n in clients.value_counts().items():
        for j in range(sf.CMS_D):
            cell = (j, sf._cms_bucket(j, str(key)))
            want[cell] = want.get(cell, 0) + int(n)
    final: dict[tuple[int, int, int], int] = {}
    for r in out.itertuples():
        cell = (r.shard, r.j, r.bucket)
        final[cell] = max(final.get(cell, 0), r.c)
    got: dict[tuple[int, int], int] = {}
    for (_, j, b), c in final.items():
        got[(j, b)] = got.get((j, b), 0) + c
    cells = set(want) | set(got)
    return sum(want.get(c) != got.get(c) for c in cells), len(cells)


CHECKS = {"hh": _check_hh, "hll": _check_hll, "cms": _check_cms}


def inputs(run: common.Run) -> tuple[str, int, pd.Series]:
    """Write the replay files; return their directory, row count and the
    heartbeat client ids indexed by sequence (the sketches' input)."""
    n_rows = ROWS_PER_FILE * N_FILES
    src = run.path("frames")
    gen.replay_files(src, n_rows, N_FILES, run.seed)
    values = ds.dataset(src, format="parquet").to_table().column("value").to_pylist()
    hb = [(i, gen.client_of(v)) for i, v in enumerate(values) if gen.frame_type(v) == gen.TYPE_HEARTBEAT]
    clients = pd.Series([c for _, c in hb], index=[i for i, _ in hb], dtype="int64")
    return src, n_rows, clients


def run(spark, run: common.Run) -> None:
    from multicast_trace import MulticastTrace

    import ladder

    src, n_rows, clients = inputs(run)
    tracer = MulticastTrace(spark).install()
    try:
        with run.phase("replay"):
            replay(spark, run, src, n_rows, tracer)
    finally:
        tracer.uninstall()
    sketch_src = run.path("frames-sketch")
    os.makedirs(sketch_src)
    for name in sorted(os.listdir(src))[:SKETCH_FILES]:
        os.link(os.path.join(src, name), os.path.join(sketch_src, name))
    with run.phase("sketches"):
        sketches(spark, run, sketch_src, clients[clients.index < SKETCH_FILES * ROWS_PER_FILE])
    with run.phase("ladder"):
        ladder.run(spark, run, src, n_rows)
