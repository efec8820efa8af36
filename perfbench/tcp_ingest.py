"""Open-loop TCP ingest: generator process -> ``dsp_tcp`` -> parse ->
route -> Multicast -> one parquet sink, driven through ``Pipeline``.

A separate generator process sends 200-byte frames over one connection
on a fixed schedule within one query: bursts well above capacity,
phased to the trigger, between stretches at the base rate, then a base
step. Each message is timed
from its due send time to the end of the micro-batch whose offsets cover
it, both read from the schedule and ``query.recentProgress``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.dataset as ds

import common
import gen
import pipeline as pl
import progress as pg

# A fixed trigger, as a deployed pipeline runs. Spark fires it on whole
# seconds of wall-clock time while batches keep up. A message waits for
# the next trigger (half the interval on average) and then for its batch.
# With back-to-back batches it would wait for the batch in flight instead,
# and its latency would swing with host speed twice over.
TRIGGER = "1 second"
# The schedule starts this far past a whole second, so every burst below
# (which starts on a cycle boundary and lasts under 1 - START_PHASE_S)
# lands whole in the micro-batch of the next trigger. A burst split at
# a random point between two batches, or still arriving while its batch
# runs, gave batch times that differed by half from run to run.
START_PHASE_S = 0.4
BASE_RATE = 2000
# A burst cycle: 0.4 s at 160000 msg/s, well above what the program takes
# today (30-50k msg/s on a 4-core VM), then 3.6 s at the base rate. Each
# burst's micro-batch runs while little else arrives. The gap lets the
# backlog clear and the trigger fall back onto whole seconds before the
# next burst: with shorter cycles the batches stayed behind the trigger
# and most bursts split. A burst of 32000 frames gave batch times that
# varied by a fifth within a run; one of 64000 varies by a tenth.
BURST_CYCLE = [(160000, 0.4), (BASE_RATE, 3.6)]
CYCLE_S = sum(s for _, s in BURST_CYCLE)
# Capacity is read off the batch-cost line at the size of a burst's batch.
REF_BATCH_ROWS = int(BURST_CYCLE[0][0] * BURST_CYCLE[0][1])
# Two burst cycles of warm-up come first and are excluded from every
# figure: a fresh JVM compiles the paths of large and of small
# micro-batches as it first runs them, and its first large batches run at
# half speed. The first burst after the warm-up may still run slow; the
# batch-cost line takes a median over the bursts. Then come the burst
# train and the base step, as shares of --seconds in whole cycles and
# whole seconds, so every burst starts on the same phase of the trigger.
# Micro-batches keep getting faster for about seven batches, so the base
# rate that latency is read at comes last.
WARMUP_CYCLES = 2
SHARES = {"train": 0.75, "base": 0.25}
P99_LIMIT_MS = 6000.0
# a cold start, then warm ones for the set-up median; the last pipeline is
# measured. Traced runs start it once: they report the cold start only.
SETUP_REPS = 3


def phases_for(seconds: int) -> list[tuple[str, list[tuple[float, float]]]]:
    """(name, [(msg/s, seconds), ...]) per phase, warm-up first."""
    cycles = max(2, round(SHARES["train"] * seconds / CYCLE_S))
    base_s = max(3, round(SHARES["base"] * seconds))
    return [("warmup", BURST_CYCLE * WARMUP_CYCLES), ("train", BURST_CYCLE * cycles), ("base", [(BASE_RATE, base_s)])]


def wait_first_batch(q, timeout: float = 150.0) -> None:
    deadline = time.monotonic() + timeout
    while not q.recentProgress:
        if not q.isActive or time.monotonic() > deadline:
            raise RuntimeError(f"no committed batch: {q.exception()}")
        time.sleep(0.02)


def start_pipeline(spark, run, tag: str):
    from dsp_spark.engine import Pipeline

    port = pl.free_port()
    sink = run.path(f"tcp-sink-{tag}")
    pipe = Pipeline(spark, pl.config(pl.tcp_source(port), [sink], pl.TCP_RULES), transform=pl.to_envelope)
    t0 = time.perf_counter()
    q = pipe.start(checkpoint=run.path(f"tcp-ck-{tag}"), processing_time=TRIGGER)
    wait_first_batch(q)
    return pipe, port, sink, time.perf_counter() - t0


def worker_rss_mb(exclude: set[int]) -> float:
    """RSS of the Python worker processes under the JVM (the TCP
    listener lives in the streaming-source runner among them)."""
    total = 0.0
    for pid in common.tree_pids(os.getpid(), exclude):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if pid != os.getpid() and b"python" in cmd:
            total += common.rss_mb(pid)
    return total


def check_sink(sink: str, n: int, seed: int) -> tuple[int, dict]:
    """Messages not delivered exactly as their rules dictate: each sent
    frame must arrive once per matching rule, byte for byte, under that
    rule's subject."""
    want = gen.frames(gen.tcp_kinds(n, seed), np.arange(n), np.arange(n) % 1000, seed)
    t = ds.dataset(sink, format="parquet").to_table(columns=["value", "topic"])
    values, topics = t.column("value").to_pylist(), t.column("topic").to_pylist()
    got: dict[int, list[str]] = {}
    corrupt = set()
    for v, topic in zip(values, topics):
        seq = gen.frame_seq(v) if len(v) == gen.FRAME_LEN else -1
        if not 0 <= seq < n or v != want[seq]:
            corrupt.add(seq)
            continue
        got.setdefault(seq, []).append(topic)
    bad = set(corrupt)
    dropped = 0
    by_type: dict[int, list[str]] = {}
    for seq in range(n):
        kind = gen.frame_type(want[seq])
        if kind not in by_type:
            by_type[kind] = sorted(pl.copies(pl.TCP_RULES, gen.TYPE_NAMES.get(kind, "unknown")))
        expect = by_type[kind]
        dropped += not expect
        if sorted(got.get(seq, [])) != expect:
            bad.add(seq)
    return len(bad), {"rows": len(values), "dropped_by_rules": dropped}


def run(spark, run: common.Run) -> None:
    tracer = None
    if run.trace:
        from multicast_trace import MulticastTrace

        tracer = MulticastTrace(spark).install()
    try:
        _run(spark, run, tracer)
    finally:
        if tracer:
            tracer.uninstall()


def _run(spark, run: common.Run, tracer) -> None:
    setups = []
    reps = 1 if run.trace else SETUP_REPS
    for rep in range(reps):
        pipe, port, sink, secs = start_pipeline(spark, run, str(rep))
        setups.append(secs)
        if rep < reps - 1:
            pipe.stop()
    for secs in setups:
        run.setup(secs)
    run.count("engine.first_batch_s", setups[0], "s")
    if tracer:
        tracer.calls.clear()
        tracer.instances.clear()

    phases = phases_for(run.seconds)
    steps = [st for _, sts in phases for st in sts]
    # each phase's first and end step in the flat schedule
    bounds, k = {}, 0
    for name, sts in phases:
        bounds[name] = (k, k + len(sts))
        k += len(sts)
    sched = gen.Schedule(steps)
    here = os.path.dirname(os.path.abspath(__file__))
    rss0 = worker_rss_mb(set())
    g = subprocess.Popen(
        [sys.executable, os.path.join(here, "tcp_gen.py"), "--port", str(port), "--seed", str(run.seed),
         "--steps", ",".join(f"{r:g}:{s:g}" for r, s in steps), "--start-phase", str(START_PHASE_S)],
        stdout=subprocess.PIPE, text=True,
    )
    run.rss.exclude.add(g.pid)
    try:
        out, _ = g.communicate(timeout=sched.seconds + 90)
    finally:
        if g.poll() is None:
            g.kill()
            g.wait()
    if g.returncode != 0:
        raise RuntimeError(f"generator exited {g.returncode}")
    sent = json.loads(out.strip().splitlines()[-1])
    q = pipe.query
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        bs = pg.batches(pg.as_dicts(q.recentProgress))
        if bs and bs[-1][1] >= sent["sent"]:
            break
        time.sleep(0.05)
    rss1 = worker_rss_mb({g.pid})
    prog = pg.as_dicts(q.recentProgress)
    pipe.stop()

    n = sched.total
    bs = pg.batches(prog)
    due = sent["t0"] + sched.offset(np.arange(n))
    lat = pg.latencies(bs, due)
    failed, detail = check_sink(sink, n, run.seed)
    run.check("tcp_ingest.exactly_once", n, failed, **detail)

    per_phase = {}
    for name, (k0, k1) in bounds.items():
        lo_i, hi_i = int(sched.first[k0]), int(sched.first[k1])
        secs = sched.t_start[k1] - sched.t_start[k0]
        rate = (hi_i - lo_i) / secs  # the offered mean
        ls = lat[lo_i:hi_i]
        missing = int(np.isnan(ls).sum())
        # an undelivered message counts as missing the latency limit
        ls = np.where(np.isnan(ls), np.inf, ls)
        p, tail, cnt = common.tail_percentile(list(ls))
        # this phase's own backlog at the batch ends inside the phase, after
        # the first one (which saw only part of a batch interval)
        lo, hi = sent["t0"] + sched.t_start[k0], sent["t0"] + sched.t_start[k1]
        pts = pg.step_backlog(bs, lambda t: sched.due_count(t - sent["t0"]), lo_i, hi_i)
        pts = [(t, b) for t, b in pts if lo <= t <= hi][1:]
        # too few batch ends to tell a trend counts as not sustained
        growing = pg.backlog_growing(pts, rate)
        committed = pg.committed_rate(bs, lo_i, hi_i)
        ok = bool(tail <= P99_LIMIT_MS and growing is False and missing == 0)
        per_phase[name] = {"rate": rate, "seconds": secs, "tail_percentile": p, "tail_ms": tail, "n": cnt,
                           "p50_ms": float(np.median(ls)), "missing": missing, "growing": growing,
                           "backlog": [(t - sent["t0"], b) for t, b in pts], "committed_mps": committed, "ok": ok}
    # the highest mean rate whose phase, and every phase at a lower rate, is sustained
    measured = [v for name, v in per_phase.items() if name != "warmup"]
    sustained = max((s["rate"] for s in measured if all(o["ok"] for o in measured if o["rate"] <= s["rate"])),
                    default=0.0)
    # Latency at the base rate: the messages of the batches that read base
    # rows only. The batch the change from the burst train lands in also
    # holds rows that waited out the last burst's batch.
    base_lo, base_hi = int(sched.first[bounds["base"][0]]), int(sched.first[bounds["base"][1]])
    at_base = np.zeros(n, dtype=bool)
    for start, end, _, _ in pg.inside(bs, base_lo, base_hi):
        at_base[start:end] = True
    base = lat[at_base]
    p, tail, cnt = common.tail_percentile(list(base))
    if p < 99.0:
        raise RuntimeError(f"base step too short for a p99: {cnt} samples")
    fixed, per_row = pg.batch_cost([b for b in bs if b[0] >= sched.first[bounds["train"][0]]])
    capacity = REF_BATCH_ROWS / (fixed + REF_BATCH_ROWS * per_row)
    run.e2e("latency_p50_ms", float(np.median(base)), "ms")
    run.e2e("latency_tail_ms", tail, "ms")
    run.e2e("throughput_per_s", capacity, "1/s")
    run.record["tcp"] = {
        "phases": per_phase, "p99_limit_ms": P99_LIMIT_MS, "backlog_tol": pg.BACKLOG_TOL, "setups_s": setups,
        "generator": sent, "batches": [(s, e, b - sent["t0"], d - sent["t0"]) for s, e, b, d in bs],
        "base_samples": cnt, "base_tail_percentile": p,
    }
    run.count("tcp.sustained_mps", sustained, "msg/s")
    run.count("engine.batch_fixed_ms", fixed * 1000.0, "ms")
    run.count("engine.row_cost_us", per_row * 1e6, "us")
    run.count("generator.lag_ms.max", sent["lag_ms_max"], "ms")

    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    run.count("engine.batches", len(bs))
    run.timing("engine.trigger_ms", pg.durations(prog, "triggerExecution"))
    run.timing("engine.add_batch_ms", pg.durations(prog, "addBatch"))
    run.timing("engine.query_planning_ms", pg.durations(prog, "queryPlanning"), tail=False)
    run.timing("engine.wal_commit_ms", pg.durations(prog, "walCommit"), tail=False)
    run.timing("engine.commit_offsets_ms", pg.durations(prog, "commitOffsets"), tail=False)
    run.timing("sources.latest_offset_ms", [p["durationMs"].get("latestOffset", 0) for p in data])
    run.timing("sources.rows_per_batch", [float(e - s) for s, e, _, _ in bs], unit="count", tail=False)
    run.count("sources.tcp.worker_rss_growth_mb", rss1 - rss0, "MB")
    run.count("router.copies_per_input", detail["rows"] / n)
    run.count("router.dropped_rows", detail["dropped_by_rules"])
    counters = pipe.listener.counters if pipe.listener else {}
    for name in ("receive_messages_total", "drop_messages_total", "sent_messages_total"):
        run.count(f"metrics.{name}", counters.get(name, 0))
    # the benchmark's own counts beside the listener's
    run.count("metrics.bench_sent_messages", n)
    run.count("metrics.bench_delivered_rows", detail["rows"])
    run.count("metrics.bench_dropped_messages", detail["dropped_by_rules"])
    run.record["tcp"]["listener_counters"] = dict(counters)
    if tracer:
        tracer.report(run, "multicast.n1", [os.path.basename(sink)])
