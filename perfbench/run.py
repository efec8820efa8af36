"""Benchmark entry point.

    python3 perfbench/run.py --workload tcp_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a human-readable summary, then
one JSON object as the last line of standard output: the workload's
end-to-end metrics with ``--trace 0``; with ``--trace 1`` every part
(the workload's own first) runs with timed wrappers and the per-layer
metrics are printed instead. Exits non-zero when any output check fails
or the program is not there. A run record with the host fingerprint,
drift probes, every check and, for traced runs, the tracing overhead
goes to ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

# each workload runs the part of its name; a traced run adds the others after it
WORKLOADS = ("tcp_ingest", "catalog_mix")
TRACED_PARTS = ("tcp_ingest", "file_replay", "catalog_mix")
DEADLINE_S = 175.0  # the whole run, inside the 180 s limit


def _watchdog(deadline: float) -> None:
    """Kill the process tree and exit non-zero if a run overstays."""

    def fire():
        print(f"run exceeded {deadline:.0f}s; aborting", file=sys.stderr, flush=True)
        for pid in common.tree_pids(os.getpid(), set()):
            if pid != os.getpid():
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        os._exit(3)

    t = threading.Timer(deadline, fire)
    t.daemon = True
    t.start()


def tracing_overhead(run: common.Run) -> dict:
    """Traced minus untraced end-to-end values, per workload, against the
    newest untraced record of that workload in this checkout. A traced
    part may set up fewer times than an untraced one (the traced TCP part
    starts its pipeline once, cold), so ``setup_s`` compares the median
    of the traced set-ups with that of the same leading set-ups, cold
    first, of the untraced run."""
    out = {}
    for wl in WORKLOADS:
        base = common.latest_record(wl, 0)
        part = run.parts.get(wl, {})
        traced = part.get("e2e", {})
        if base is None or not traced:
            out[wl] = "no untraced run of this workload in this checkout yet"
            continue
        out[wl] = {k: traced[k]["value"] - v["value"] for k, v in base["e2e"].items() if k in traced}
        setups = part["setups_s"]
        out[wl]["setup_s"] = common.median(setups) - common.median(base["by_part"][wl]["setups_s"][: len(setups)])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(common.ROOT, "dsp_spark", "__init__.py")):
        print("dsp_spark not found: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    _watchdog(DEADLINE_S)

    parts = [a.workload] + ([p for p in TRACED_PARTS if p != a.workload] if a.trace else [])
    run = common.Run(a.workload, a.seed, a.seconds, bool(a.trace))
    run.record.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                       "parts": parts, "host": common.fingerprint()})
    t_wall, cpu0 = time.perf_counter(), common.cpu_times()
    spark = None
    error = None
    try:
        with run.rss:
            t0 = time.perf_counter()
            spark = common.session(f"perfbench-{a.workload}")
            run.count("engine.session_start_s", time.perf_counter() - t0, "s")
            with run.phase("probe_before"):
                run.record["probe_before"] = common.probe(spark)
            for name in parts:
                with run.part(name):
                    importlib.import_module(name).run(spark, run)
            with run.phase("probe_after"):
                run.record["probe_after"] = common.probe(spark)
    except Exception:  # noqa: BLE001 - any failure fails the run
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if spark is not None:
            common.shutdown(spark)
        shutil.rmtree(run.work, ignore_errors=True)
    run.record["wall_s"] = time.perf_counter() - t_wall
    run.record["host"]["steal_share"] = common.steal_share(cpu0, common.cpu_times())
    if error:
        run.record["error"] = error
        common.write_record(a.workload, a.seed, a.trace, run.record)
        return 1

    e2e = run.parts[a.workload]["e2e"]
    ratio = run.failed / max(run.attempted, 1)
    run.record.update({"e2e": e2e, "by_part": run.parts, "layer": run.layer, "checks": run.checks,
                       "attempted": run.attempted, "failed": run.failed, "failed_ops_ratio": ratio})
    if a.trace:
        run.record["tracing_overhead"] = tracing_overhead(run)
    common.write_record(a.workload, a.seed, a.trace, run.record)
    for name, m in sorted(e2e.items()):
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} failed_ops_ratio = {ratio:.6g} ({run.failed}/{run.attempted})")
    correct = run.failed == 0
    common.emit(correct, run.attempted, run.failed, run.layer if a.trace else e2e)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
