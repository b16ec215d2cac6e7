"""TCP load generator: one process, one thread, one connection.

Run as ``python3 perfbench/loadgen.py --port P --seed S --rate R
--total T`` (T: messages of the whole run, which fixes each seq's
class). It connects, prints ``ready``, then runs one phase per command
line read from stdin:

* ``open A B``: an open loop over seqs A..B-1 at R msg/s in client
  batches of 10. Each message is stamped with the time it was due, so a
  stall counts against every message queued behind it; how late the
  sends ran is reported as ``late_ms_p99``.
* ``burst A B``: seqs A..B-1 sent as fast as the connection takes them,
  stamped with the burst start time.
* ``close``: close the connection and exit.

After each phase it prints one JSON line with what it sent.
"""

from __future__ import annotations

import argparse
import json
import socket
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402

from perfbench import inputs  # noqa: E402

BATCH = 10
CONNECT_TIMEOUT_S = 60.0


def connect(port: int, timeout: float) -> socket.socket:
    end = time.monotonic() + timeout
    while True:
        try:
            return socket.create_connection(("127.0.0.1", port), timeout=timeout)
        except OSError:
            if time.monotonic() > end:
                raise
            time.sleep(0.05)


def open_loop(sock, seqs, classes, fill, rate: float) -> dict:
    n = len(seqs)
    t0 = time.time() + 0.05
    due = t0 + np.arange(n) / rate
    data = inputs.frames(seqs, (due * 1e6).astype(np.uint64), classes, fill).tobytes()
    late = []
    step = BATCH * inputs.FRAME
    for k in range(0, n, BATCH):
        wait = due[k] - time.time()
        if wait > 0:
            time.sleep(wait)
        late.append(time.time() - due[k])
        sock.sendall(data[k * inputs.FRAME : k * inputs.FRAME + step])
    t_end = time.time()
    late.sort()
    return {
        "phase": "open",
        "sent": n,
        "t_start": t0,
        "t_end": t_end,
        "late_ms_p99": 1e3 * late[max(0, int(0.99 * len(late)) - 1)],
        "offered_msgs_per_s": n / (t_end - t0),
    }


def burst(sock, seqs, classes, fill) -> dict:
    n = len(seqs)
    t0 = time.time()
    stamps = np.full(n, int(t0 * 1e6), dtype=np.uint64)
    data = memoryview(inputs.frames(seqs, stamps, classes, fill).tobytes())
    step = BATCH * inputs.FRAME
    for off in range(0, len(data), step):
        sock.sendall(data[off : off + step])
    t_end = time.time()
    return {"phase": "burst", "sent": n, "t_start": t0, "t_end": t_end}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, default=10_000.0)
    ap.add_argument("--total", type=int, required=True)
    args = ap.parse_args()

    classes = inputs.message_classes(args.seed, args.total)
    fill = inputs.filler(args.seed)
    sock = connect(args.port, CONNECT_TIMEOUT_S)
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    print("ready", flush=True)
    with sock:
        for line in sys.stdin:
            cmd, *span = line.split()
            if cmd == "close":
                break
            seqs = np.arange(*map(int, span), dtype=np.uint64)
            if cmd == "open":
                out = open_loop(sock, seqs, classes, fill, args.rate)
            elif cmd == "burst":
                out = burst(sock, seqs, classes, fill)
            else:
                raise SystemExit(f"unknown command {cmd!r}")
            print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
