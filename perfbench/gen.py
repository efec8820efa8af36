"""Seeded input generators: telemetry frames and the catalog's tables.

Every generator takes the workload seed and nothing else that varies, so
the same seed gives byte-identical inputs. Nothing here imports Spark or
``dsp_spark``: the program under test receives only the files and the
socket bytes these functions produce.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRAME_LEN = 200
HEADER = struct.Struct("<HH")
TYPE_HEARTBEAT, TYPE_DYN, TYPE_UNKNOWN = 0, 1, 7
TYPE_NAMES = {TYPE_HEARTBEAT: "heartbeat", TYPE_DYN: "dyn_message"}
SEQ_OFFSET = 12  # every frame carries its sequence as u64le at bytes 12..20
# one frame: HEADER, then client_id, sequence and timestamp as u64le, then padding
_FRAME_DTYPE = np.dtype([("len", "<u2"), ("kind", "<u2"), ("client", "<u8"), ("seq", "<u8"), ("ts", "<u8"),
                         ("pad", "u1", FRAME_LEN - 28)])


def frames(kinds: np.ndarray, seqs: np.ndarray, clients: np.ndarray, seed: int) -> list[bytes]:
    """200-byte frames in the telemetry wire format.

    Heartbeats are ``len|type|client_id|sequence|ts`` padded to 200 bytes
    (the parser reads the first 24 body bytes and ignores the rest);
    dyn_message and unknown-type frames carry the same first 16 body bytes
    so the checker can read a sequence back from any frame.
    """
    rng = np.random.default_rng([seed, 7])
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
    pad = alphabet[rng.integers(0, len(alphabet), size=(len(kinds), FRAME_LEN - 28), dtype=np.uint8)]
    rec = np.empty(len(kinds), dtype=_FRAME_DTYPE)
    rec["len"] = FRAME_LEN
    rec["kind"] = kinds
    rec["client"] = clients
    rec["seq"] = seqs
    rec["ts"] = 1_700_000_000_000_000 + np.asarray(seqs, dtype=np.uint64)
    rec["pad"] = pad
    buf = rec.tobytes()
    return [buf[i : i + FRAME_LEN] for i in range(0, len(buf), FRAME_LEN)]


def frame_seq(frame: bytes) -> int:
    return struct.unpack_from("<Q", frame, SEQ_OFFSET)[0]


def frame_type(frame: bytes) -> int:
    return struct.unpack_from("<H", frame, 2)[0]


def tcp_kinds(n: int, seed: int) -> np.ndarray:
    """Mostly dyn_message, ~15% heartbeats, ~1% unknown-type frames."""
    u = np.random.default_rng([seed, 1]).random(n)
    return np.where(u < 0.01, TYPE_UNKNOWN, np.where(u < 0.16, TYPE_HEARTBEAT, TYPE_DYN))


def zipf_clients(n: int, seed: int, a: float = 1.3, cap: int = 100_000) -> np.ndarray:
    """Zipf-skewed client ids in [0, cap): a few clients send most frames."""
    z = np.random.default_rng([seed, 2]).zipf(a, size=n)
    return (z - 1) % cap


def replay_files(out_dir: str, n_rows: int, n_files: int, seed: int) -> list[str]:
    """Frame parquet files (one ``value`` binary column) for file replay:
    80% heartbeats with Zipf client ids, 20% dyn_message."""
    os.makedirs(out_dir, exist_ok=True)
    kinds = np.where(np.random.default_rng([seed, 3]).random(n_rows) < 0.8, TYPE_HEARTBEAT, TYPE_DYN)
    clients = zipf_clients(n_rows, seed)
    data = frames(kinds, np.arange(n_rows), clients, seed)
    paths = []
    step = -(-n_rows // n_files)
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        pq.write_table(pa.table({"value": pa.array(data[f * step : (f + 1) * step], pa.binary())}), path)
        paths.append(path)
    return paths


# --- catalog tables ---------------------------------------------------------
#
# Same schemas, key ranges and value grains as the star-schema test tables
# (TESTDATA.md): money in whole cents, dates at day grain, events at µs.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "gizmo", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge"
    " order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, size=n) / 100.0


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, size=n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": (90_000 + (np.arange(n_part) % 1000) * 10) / 100.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
    })
    gaps = rng.exponential(26.0, n_ev).cumsum()
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev),
        "ts": np.datetime64("2024-01-01", "us") + (gaps * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):  # 5% near-duplicates
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


# --- open-loop schedule -----------------------------------------------------


class Schedule:
    """Fixed-rate steps: message i is due ``offset(i)`` seconds after t0."""

    def __init__(self, steps: list[tuple[float, float]]):
        self.steps = [(float(r), float(s)) for r, s in steps]
        counts = [int(round(r * s)) for r, s in self.steps]
        self.first = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)  # first index per step
        self.t_start = np.concatenate([[0.0], np.cumsum([s for _, s in self.steps])])
        self.total = int(self.first[-1])

    def offset(self, idx: np.ndarray) -> np.ndarray:
        idx = np.asarray(idx, dtype=np.int64)
        k = np.clip(np.searchsorted(self.first, idx, side="right") - 1, 0, len(self.steps) - 1)
        rates = np.array([r for r, _ in self.steps])
        return self.t_start[k] + (idx - self.first[k]) / rates[k]

    def due_count(self, t: float) -> int:
        """Messages due by ``t`` seconds after t0."""
        if t <= 0:
            return 0
        for k, (rate, secs) in enumerate(self.steps):
            if t < self.t_start[k + 1]:
                return int(min(self.first[k + 1], self.first[k] + math.floor((t - self.t_start[k]) * rate) + 1))
        return self.total

    @property
    def seconds(self) -> float:
        return float(self.t_start[-1])


def client_of(frame: bytes) -> int:
    return struct.unpack_from("<Q", frame, 4)[0]
