"""Timed wrappers around the program's public entry points, installed only
for a traced run (``--trace 1``) and removed afterwards.

Spans are kept in memory and turned into per-layer metrics when the run
ends; untraced runs never install them.
"""

from __future__ import annotations

import time

from common import job_count


class MulticastTrace:
    """Times ``Multicast.__call__`` and every sink function that
    ``engine.build_sink`` returns, and counts the Spark jobs each call
    submits."""

    def __init__(self, spark):
        self.spark = spark
        self.calls: list[dict] = []
        self.instances: list = []
        self._saved = None

    def install(self) -> "MulticastTrace":
        from dsp_spark import engine
        from dsp_spark.sinks import multicast as mc

        orig_call, orig_build = mc.Multicast.__call__, engine.build_sink
        tracer = self

        def call(fan, batch, epoch_id):
            span = {"epoch": epoch_id, "sinks": {}, "rows0": sum(fan.delivered.values())}
            jobs0, t0 = job_count(tracer.spark), time.perf_counter()
            tracer._span = span
            try:
                orig_call(fan, batch, epoch_id)
            finally:
                span["call_ms"] = (time.perf_counter() - t0) * 1000.0
                span["jobs"] = job_count(tracer.spark) - jobs0
                span["rows"] = sum(fan.delivered.values()) - span.pop("rows0")
                tracer.calls.append(span)
                if not any(f is fan for f in tracer.instances):
                    tracer.instances.append(fan)

        def build(cfg, stores):
            fn = orig_build(cfg, stores)

            def timed(batch, epoch_id):
                t0 = time.perf_counter()
                try:
                    fn(batch, epoch_id)
                finally:
                    sinks = tracer._span["sinks"]
                    sinks[cfg.name] = sinks.get(cfg.name, 0.0) + (time.perf_counter() - t0) * 1000.0

            return timed

        self._saved = (mc.Multicast, orig_call, engine, orig_build)
        mc.Multicast.__call__ = call
        engine.build_sink = build
        return self

    def uninstall(self) -> None:
        if self._saved:
            cls, call, engine, build = self._saved
            cls.__call__ = call
            engine.build_sink = build
            self._saved = None

    def report(self, run, prefix: str, sink_names: list[str]) -> None:
        """Multicast per-layer metrics over the calls that delivered rows."""
        calls = [c for c in self.calls if c["rows"] > 0]
        if not calls:
            return
        run.timing(f"{prefix}.call_ms", [c["call_ms"] for c in calls])
        for i, name in enumerate(sink_names):
            run.timing(f"{prefix}.sink_write_ms.s{i + 1}", [c["sinks"].get(name, 0.0) for c in calls], tail=False)
        run.timing(f"{prefix}.overhead_ms", [c["call_ms"] - sum(c["sinks"].values()) for c in calls], tail=False)
        run.count(f"{prefix}.jobs_per_batch", sum(c["jobs"] for c in calls) / len(calls))
        for i, name in enumerate(sink_names):
            run.count(f"{prefix}.rows_delivered.s{i + 1}", sum(fan.delivered.get(name, 0) for fan in self.instances))
