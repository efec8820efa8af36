"""Open-loop TCP load generator, run as its own process.

Sends the seeded frames over one connection on a fixed schedule that does
not slow down when the receiver does: every millisecond it writes all
frames that are due. How late it ran is printed with the result. The
schedule starts ``--start-phase`` seconds past a whole second of
wall-clock time, on which a 1-second trigger fires.

    python3 perfbench/tcp_gen.py --port 9099 --seed 1 --steps 2000:5,6000:3 --start-phase 0.1
"""

from __future__ import annotations

import argparse
import json
import math
import os
import socket
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

CONNECT_TIMEOUT_S = 60.0  # the listener binds when the query first asks for offsets


def parse_steps(text: str) -> list[tuple[float, float]]:
    return [tuple(float(x) for x in part.split(":")) for part in text.split(",")]


def connect(port: int, timeout: float) -> socket.socket:
    deadline = time.monotonic() + timeout
    while True:
        try:
            return socket.create_connection(("127.0.0.1", port), timeout=5)
        except OSError:
            if time.monotonic() > deadline:
                raise
            time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--steps", required=True)
    p.add_argument("--start-phase", type=float, required=True)
    a = p.parse_args(argv)

    sched = gen.Schedule(parse_steps(a.steps))
    n = sched.total
    frames = gen.frames(gen.tcp_kinds(n, a.seed), np.arange(n), np.arange(n) % 1000, a.seed)
    due = sched.offset(np.arange(n))
    conn = connect(a.port, CONNECT_TIMEOUT_S)
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    lags = []
    sent = 0
    t0 = math.ceil(time.time()) + a.start_phase
    with conn:
        while sent < n:
            now = time.time() - t0
            upto = sched.due_count(now)
            if upto > sent:
                lags.append(max(0.0, now - due[sent]))  # oldest frame in this write
                conn.sendall(b"".join(frames[sent:upto]))
                sent = upto
            else:
                time.sleep(min(0.001, max(0.0, due[sent] - now)))
    lag_ms = np.array(lags) * 1000.0
    print(json.dumps({
        "t0": t0, "sent": sent, "writes": len(lags),
        "lag_ms_max": float(lag_ms.max()), "lag_ms_p99": float(np.percentile(lag_ms, 99)),
        "end": time.time(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
