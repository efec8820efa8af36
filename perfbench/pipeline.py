"""The pipeline shape both streaming workloads drive: frames -> parse ->
route -> Multicast -> parquet sinks, built only from the program's public
API (``PipelineConfig``, ``Pipeline``, ``parse_telemetry``)."""

from __future__ import annotations

import os
import socket

from dsp_spark.config import PipelineConfig, RouterRule, SinkConfig, SourceConfig
from dsp_spark.operators.telemetry import parse_telemetry
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# include + exclude: unknown-type frames match neither and are dropped
TCP_RULES = [
    RouterRule("hb", 1, "type", "heartbeat", "include", "lake", "hb"),
    RouterRule("valid", 2, "type", "unknown", "exclude", "lake", "valid"),
]
# include + exclude + wildcard over the replay files
REPLAY_RULES = [
    RouterRule("hb", 1, "type", "heartbeat", "include", "lake", "hb"),
    RouterRule("other", 2, "type", "heartbeat", "exclude", "lake", "other"),
    RouterRule("all", 3, "*", "*", "include", "archive", "all"),
]


def copies(rules: list[RouterRule], type_name: str) -> list[str]:
    """Subjects a frame of ``type_name`` is routed to (router semantics:
    every matching rule emits one copy)."""
    out = []
    for r in rules:
        if r.is_wildcard:
            hit = True
        elif r.action == "include":
            hit = type_name == r.value
        else:
            hit = type_name != r.value
        if hit:
            out.append(r.subject)
    return out


def to_envelope(df: DataFrame) -> DataFrame:
    """Parse raw frames and lift the message type into ``properties``."""
    if "frame" in df.columns:  # the dsp_tcp source's column
        df = df.withColumnRenamed("frame", "value")
    p = parse_telemetry(df.select("value"))
    kind = (
        F.when(F.col("msg_type") == 0, F.lit("heartbeat"))
        .when(F.col("msg_type") == 1, F.lit("dyn_message"))
        .otherwise(F.lit("unknown"))
    )
    return p.select(
        F.lit(None).cast("string").alias("topic"),
        F.create_map(F.lit("type"), kind).alias("properties"),
        "value",
        "client_id",
    )


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def config(source: SourceConfig, sink_dirs: list[str], rules: list[RouterRule]) -> PipelineConfig:
    sinks = [SinkConfig(os.path.basename(d), "parquet", {"path": d}) for d in sink_dirs]
    return PipelineConfig(source=source, sinks=sinks, rules=rules)


def tcp_source(port: int) -> SourceConfig:
    return SourceConfig("tcp", {"host": "127.0.0.1", "port": port})


def file_source(path: str) -> SourceConfig:
    return SourceConfig(
        "file",
        {"path": path, "format": "parquet", "schema": "value binary", "options": {"maxFilesPerTrigger": "1"}},
    )
