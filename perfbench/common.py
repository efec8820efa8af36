"""Shared benchmark plumbing: Spark session, host fingerprint and probes,
process-tree RSS sampling, percentiles and the result line.

Nothing here changes the program: the session comes from
``dsp_spark.session.get_session`` with only host sizing passed in.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import statistics
import sys
import threading
import time

ROOT = os.getcwd()  # the benchmark runs from the root of a checkout
RUN_DIR = os.path.join(ROOT, ".perfbench_runs")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# --- statistics ---------------------------------------------------------------

PERCENTILES = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10  # samples a reported percentile must have above it


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile, q in [0, 100]."""
    if not values:
        return math.nan
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest of PERCENTILES with at least ``MIN_BEYOND`` samples
    above it, as (percentile, value, sample count); with too few samples
    for any of them, the maximum (reported as percentile 100)."""
    n = len(values)
    supported = [p for p in PERCENTILES if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND]
    p = supported[-1] if supported else 100.0
    return p, quantile(values, p), n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


# --- host ----------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def fingerprint() -> dict:
    out = {"nproc": host_cpus(), "mem_total_mb": mem_total_mb(), "loadavg": os.getloadavg()}
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                out["cpu_model"] = line.split(":", 1)[1].strip()
                break
    return out


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1) if len(d) > 7 else 0.0


def cpu_probe() -> float:
    """Best of 3 single-core integer loops (1M iterations), seconds."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * 2654435761) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def spark_probe(spark) -> float:
    """Median of 3 runs of a pinned job (range -> 2-key derive -> one hash
    shuffle -> agg -> noop write), seconds, after one warm-up. Small on
    purpose: it runs twice in every benchmark run."""
    from pyspark.sql import functions as F

    def job():
        df = spark.range(1_000_000).select((F.col("id") % 997).alias("k"), (F.col("id") * 7 % 1013).alias("v"))
        df.groupBy("k").agg(F.sum("v"), F.count("*")).write.format("noop").mode("overwrite").save()

    job()
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        job()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def probe(spark) -> dict:
    return {"cpu_s": cpu_probe(), "spark_s": spark_probe(spark), "loadavg": os.getloadavg()}


# --- memory --------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_pids(root: int, exclude: set[int]) -> list[int]:
    kids, out, stack = _children(), [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


RSS_PERIOD_S = 0.2


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    driver JVM and its Python workers), excluding load generators, every
    ``RSS_PERIOD_S``."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        self.peak_mb = 0.0
        self.sample()

    def sample(self) -> float:
        total = sum(rss_mb(p) for p in tree_pids(os.getpid(), self.exclude))
        self.peak_mb = max(self.peak_mb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# --- session -------------------------------------------------------------------


def driver_mem() -> str:
    """A quarter of host memory, 1-8 GiB (the library default of 48g
    exceeds small hosts)."""
    return f"{max(1, min(8, mem_total_mb() // 4096))}g"


def session(app: str):
    """The program's tuned session, sized to the host it runs on.

    Python workers import ``dsp_spark``; nothing in the program ships the
    package to them, so the checkout root goes on their PYTHONPATH here
    (known defect, see NOTES.md).
    """
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    # keep every scratch file inside the checkout
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    from dsp_spark.session import get_session

    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(RUN_DIR, 'derby')} -Djava.io.tmpdir={tmp}",
    }
    spark = get_session(app, master=f"local[{host_cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- statusStore ---------------------------------------------------------------


def job_count(spark) -> int:
    """Jobs submitted so far in this SparkContext (the scheduler's next
    job id), read through the JVM gateway."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def stage_totals(spark) -> dict:
    """Stage count, summed shuffle bytes and input records over the
    stages the status store retains (``statusStore().stageList``); diff two calls to
    attribute them to the work between."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        getattr(store, "stageList$default$4")(), getattr(store, "stageList$default$5")(),
    )
    out = {"stages": 0, "shuffle_bytes": 0, "input_records": 0}
    for i in range(stages.size()):
        st = stages.apply(i)
        out["stages"] += 1
        out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out["input_records"] += st.inputRecords()
    return out


# --- output --------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def write_record(workload: str, seed: int, trace: int, record: dict) -> str:
    os.makedirs(RUN_DIR, exist_ok=True)
    path = os.path.join(RUN_DIR, f"{workload}-seed{seed}-trace{trace}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    return path


def latest_record(workload: str, trace: int) -> dict | None:
    if not os.path.isdir(RUN_DIR):
        return None
    names = sorted(
        (n for n in os.listdir(RUN_DIR) if n.startswith(f"{workload}-") and f"-trace{trace}-" in n),
        key=lambda n: os.path.getmtime(os.path.join(RUN_DIR, n)),
    )
    if not names:
        return None
    with open(os.path.join(RUN_DIR, names[-1])) as f:
        return json.load(f)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    for name, m in metrics.items():
        if not (valid_name(name) and valid_unit(m["unit"])):
            raise ValueError(f"bad metric {name!r} {m!r}")
    line = {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    sys.stdout.write(json.dumps(line) + "\n")
    sys.stdout.flush()


class Run:
    """What one benchmark run accumulates: per-part end-to-end metrics and
    set-up samples, per-layer metrics, attempts and failures, and the run
    record. A part is one workload's body; a traced run executes every
    part so that it can report every layer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(RUN_DIR, "work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.parts: dict[str, dict] = {}
        self.current: dict = {}
        self.layer: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, dict] = {}
        self.record: dict = {}
        self.rss = RssSampler()

    @contextlib.contextmanager
    def part(self, name: str):
        self.current = self.parts.setdefault(name, {"e2e": {}, "setups_s": []})
        self.rss.reset()
        with self.phase(name):
            yield
        self.current["e2e"]["setup_s"] = metric(median(self.current["setups_s"]), "s")
        # too unsteady from run to run for an end-to-end bound: per layer
        self.count(f"engine.peak_rss_mb.{name}", self.rss.peak_mb, "MB")

    def setup(self, seconds: float) -> None:
        self.current["setups_s"].append(seconds)

    def e2e(self, name: str, value: float, unit: str) -> None:
        self.current["e2e"][name] = metric(value, unit)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall seconds of one phase of the run, kept in the record."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record.setdefault("phases_s", {})[name] = time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, attempted: int, failed: int, **detail) -> None:
        self.attempted += attempted
        self.failed += failed
        self.checks[name] = {"attempted": attempted, "failed": failed, **detail}

    def count(self, name: str, value: float, unit: str = "count") -> None:
        self.layer[name] = metric(value, unit)

    def timing(self, prefix: str, values: list[float], unit: str = "ms", tail: bool = True) -> None:
        """``prefix.p50`` and ``prefix.tail`` (the highest percentile with
        ten samples beyond it, else the maximum) as per-layer metrics; the
        record keeps which percentile the tail is and the sample count."""
        if not values:
            return
        self.layer[f"{prefix}.p50"] = metric(quantile(values, 50), unit)
        p, v, n = tail_percentile(values)
        if tail:
            self.layer[f"{prefix}.tail"] = metric(v, unit)
        self.record.setdefault("samples", {})[prefix] = {"tail_percentile": p, "n": n}
