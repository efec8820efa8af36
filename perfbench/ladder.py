"""Layer ladder over the replay files (traced runs only).

The same batch read runs with one more layer per rung — source only, then
+``parse_telemetry`` (via the envelope transform), then +``route``, each
ending in a no-op write, then +``Multicast`` with one parquet sink and
with two. The difference between neighbouring rungs is that layer's
marginal cost per thousand input rows. Batch jobs carry no
streaming start-up, so the differences are not buried in it; the
operators are the same expressions on batch and streaming frames.
"""

from __future__ import annotations

import statistics
import time

import common
import pipeline as pl

REPS = 3


def _median_s(write) -> float:
    write(-1)  # warm-up
    reps = []
    for i in range(REPS):
        t0 = time.perf_counter()
        write(i)
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def _noop(df):
    return lambda _: df.write.format("noop").mode("overwrite").save()


def _multicast(df, run: common.Run, n_sinks: int):
    from dsp_spark.sinks.multicast import Multicast, parquet_sink

    m = Multicast()
    for i in range(n_sinks):
        m.attach(f"s{i + 1}", parquet_sink(run.path(f"ladder-mc{n_sinks}-s{i + 1}")))
    return lambda epoch: m(df, epoch)


def run(spark, run: common.Run, src: str, n_rows: int) -> None:
    from dsp_spark.operators.router import route

    source = spark.read.parquet(src)
    parsed = pl.to_envelope(source)
    routed = route(parsed, pl.REPLAY_RULES)
    rungs = {"source": _noop(source), "parse": _noop(parsed), "route": _noop(routed),
             "multicast1": _multicast(routed, run, 1), "multicast2": _multicast(routed, run, 2)}
    secs = {name: _median_s(write) for name, write in rungs.items()}
    per_krow = {k: v * 1e6 / n_rows for k, v in secs.items()}  # ms per 1000 rows
    run.count("telemetry.parse_ms_per_krow", per_krow["parse"] - per_krow["source"], "ms")
    run.count("router.route_ms_per_krow", per_krow["route"] - per_krow["parse"], "ms")
    run.count("multicast.sink1_ms_per_krow", per_krow["multicast1"] - per_krow["route"], "ms")
    run.count("multicast.sink2_ms_per_krow", per_krow["multicast2"] - per_krow["multicast1"], "ms")
    run.record["ladder_s"] = secs
