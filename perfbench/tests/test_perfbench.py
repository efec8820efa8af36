"""Self-tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow.parquet as pq
import pytest

import common
import gen
import pipeline as pipeline_rules
import progress as pg

BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


# --- seeded generators --------------------------------------------------------


def _tcp_frames(seed, n=500):
    return gen.frames(gen.tcp_kinds(n, seed), np.arange(n), np.arange(n) % 1000, seed)


def test_frames_reproducible_per_seed_and_differ_across_seeds():
    assert _tcp_frames(1) == _tcp_frames(1)
    assert _tcp_frames(1) != _tcp_frames(2)


def test_frames_are_wire_format():
    kinds = gen.tcp_kinds(2000, 5)
    frames = gen.frames(kinds, np.arange(2000), np.arange(2000) % 7, 5)
    assert {len(f) for f in frames} == {gen.FRAME_LEN}
    assert [gen.frame_seq(f) for f in frames] == list(range(2000))
    assert [gen.frame_type(f) for f in frames] == list(kinds)
    # the layout the parser reads, built field by field; padding is printable
    for i in (0, 1, 1999):
        head = gen.HEADER.pack(gen.FRAME_LEN, int(kinds[i])) + struct.pack("<QQQ", i % 7, i, 1_700_000_000_000_000 + i)
        assert frames[i][:28] == head
        assert set(frames[i][28:]) <= set(b"abcdefghijklmnopqrstuvwxyz0123456789")
    # mostly dyn_message, some heartbeats, about 1% unknown
    share = {k: float(np.mean(kinds == k)) for k in (gen.TYPE_DYN, gen.TYPE_HEARTBEAT, gen.TYPE_UNKNOWN)}
    assert share[gen.TYPE_DYN] > 0.7 and 0.05 < share[gen.TYPE_HEARTBEAT] < 0.3
    assert 0.0 < share[gen.TYPE_UNKNOWN] < 0.03


def test_replay_files_reproducible(tmp_path):
    def content(seed, d):
        gen.replay_files(str(tmp_path / d), 3000, 3, seed)
        return [pq.read_table(tmp_path / d / f).column("value").to_pylist() for f in sorted(os.listdir(tmp_path / d))]

    assert content(7, "a") == content(7, "b")
    assert content(7, "a") != content(8, "c")


def test_replay_clients_are_skewed():
    c = gen.zipf_clients(20000, 3)
    counts = np.sort(np.bincount(c))[::-1]
    assert counts[0] > 0.2 * len(c)  # one hot client
    assert (counts > 0).sum() > 100  # and a long tail


def test_catalog_tables_reproducible(tmp_path):
    def content(seed, d):
        gen.catalog_tables(str(tmp_path / d), 0.001, seed)
        return {t: pq.read_table(tmp_path / d / f"{t}.parquet").to_pydict() for t in ("lineitem", "events")}

    a = content(1, "a")
    assert a == content(1, "b")
    assert a != content(2, "c")


def test_schedule_offsets_and_due_counts():
    s = gen.Schedule([(1000, 2), (4000, 1)])
    assert s.total == 6000
    assert s.offset(np.array([0, 1999, 2000, 5999])).tolist() == pytest.approx([0, 1.999, 2.0, 2.99975])
    assert s.due_count(0) == 0 and s.due_count(1e-9) == 1
    assert s.due_count(2.0) == 2001 and s.due_count(10) == 6000


# --- latency from progress ---------------------------------------------------


def _progress(batch_id, start, end, ts, trigger_ms, rows=None):
    return {
        "batchId": batch_id,
        "timestamp": ts,
        "numInputRows": (end - start) if rows is None else rows,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 10, "latestOffset": 2},
        "sources": [{"startOffset": None if start is None else {"idx": start}, "endOffset": {"idx": end}}],
    }


def test_latency_from_synthetic_progress():
    t0 = pg.epoch("2026-01-01T00:00:00.000Z")
    prog = [
        _progress(0, None, 0, "2026-01-01T00:00:00.000Z", 500, rows=0),  # empty first batch
        _progress(1, 0, 3, "2026-01-01T00:00:01.000Z", 500),
        _progress(1, 0, 3, "2026-01-01T00:00:01.000Z", 500),  # repeated record
        _progress(2, 3, 5, "2026-01-01T00:00:02.000Z", 1000),
    ]
    bs = pg.batches(prog)
    assert bs == [(0, 3, t0 + 1.0, t0 + 1.5), (3, 5, t0 + 2.0, t0 + 3.0)]
    due = t0 + np.array([0.0, 0.5, 1.0, 1.5, 2.0, 2.5])  # message 5 never committed
    lat = pg.latencies(bs, due)
    assert lat[:5].tolist() == pytest.approx([1500, 1000, 500, 1500, 1000])
    assert np.isnan(lat[5])


def test_offsets_given_as_json_strings():
    p = _progress(3, 0, 4, "2026-01-01T00:00:00.000Z", 100)
    p["sources"][0]["startOffset"] = json.dumps({"idx": 1})
    assert pg.batches([p])[0][:2] == (1, 4)


# --- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n,expect",
    [(5, 100.0), (19, 100.0), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, expect):
    """...or the maximum when no percentile has ten samples beyond it."""
    p, _, count = common.tail_percentile([float(i) for i in range(n)])
    assert (p, count) == (expect, n)


def test_tail_value_is_nearest_rank():
    values = [float(i) for i in range(1, 1001)]
    assert common.tail_percentile(values)[1] == 990.0
    assert common.quantile(values, 50) == 500.0


# --- backlog growth ----------------------------------------------------------


def test_flat_sawtooth_is_not_growing():
    pts = [(t, 1000 + (300 if i % 2 else -300)) for i, t in enumerate(np.arange(0, 10, 0.5))]
    assert pg.backlog_growing(pts, rate=2000) is False


def test_backlog_above_capacity_grows():
    # offered 10k/s, capacity 6k/s: backlog grows by 4k/s
    pts = [(t, int(4000 * t)) for t in np.arange(0, 5, 0.7)]
    assert pg.backlog_growing(pts, rate=10000) is True


def test_too_few_points_is_undetermined():
    assert pg.backlog_growing([(0.0, 0), (1.0, 9999)], rate=100) is None


def test_step_backlog_counts_only_the_step_messages():
    bs = [(0, 100, 0.5, 1.0), (100, 150, 1.0, 2.0)]
    due = lambda t: int(t * 100)  # noqa: E731
    assert pg.step_backlog(bs, due, 0, 120) == [(1.0, 0), (2.0, 0)]
    assert pg.step_backlog(bs, due, 120, 400) == [(1.0, 0), (2.0, 50)]


def test_committed_rate_uses_batches_wholly_inside_the_range():
    # back-to-back batches; the first straddles the range start
    bs = [(0, 500, 0.0, 1.0), (500, 2500, 1.0, 2.0), (2500, 6500, 2.0, 3.5), (6500, 7000, 3.5, 4.0)]
    assert pg.committed_rate(bs, 400, 7000) == pytest.approx(6500 / 3.0)
    assert pg.committed_rate(bs, 0, 500) == pytest.approx(500.0)
    assert pg.committed_rate(bs, 600, 6000) is None


def test_batch_cost_line():
    # 0.5 s per batch plus 20 us per row
    bs = [(0, n, 10.0, 10.0 + 0.5 + n * 20e-6) for n in (1000, 4000, 50000, 120000)]
    fixed, per_row = pg.batch_cost(bs)
    assert fixed == pytest.approx(0.5) and per_row == pytest.approx(20e-6)


def test_batch_cost_ignores_one_slowed_batch():
    sizes = (2000, 2100, 1900, 30000, 45000, 60000, 80000)
    bs = [(0, n, 0.0, 0.5 + n * 20e-6) for n in sizes]
    bs[4] = (0, 45000, 0.0, 3.0)  # the host stalled this one
    fixed, per_row = pg.batch_cost(bs)
    assert fixed == pytest.approx(0.5) and per_row == pytest.approx(20e-6)
    with pytest.raises(ValueError):
        pg.batch_cost(bs[:3])


# --- routing expectations used by the output checks ---------------------------


def test_rule_copies_follow_router_semantics():
    tcp, replay = pipeline_rules.TCP_RULES, pipeline_rules.REPLAY_RULES
    assert pipeline_rules.copies(tcp, "heartbeat") == ["hb", "valid"]
    assert pipeline_rules.copies(tcp, "dyn_message") == ["valid"]
    assert pipeline_rules.copies(tcp, "unknown") == []
    assert pipeline_rules.copies(replay, "heartbeat") == ["hb", "all"]
    assert pipeline_rules.copies(replay, "dyn_message") == ["other", "all"]


# --- metric names ------------------------------------------------------------


def test_benchmark_json_names_and_units_are_valid():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(common.valid_name(n) for n in names)
    assert all(common.valid_unit(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("bad", ["", "_x", "a b", "x" * 65, "métrica"])
def test_invalid_metric_names_are_refused(bad, capsys):
    assert not common.valid_name(bad)
    with pytest.raises(ValueError):
        common.emit(True, 1, 0, {bad: common.metric(1.0, "ms")})
    assert capsys.readouterr().out == ""
