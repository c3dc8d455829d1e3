"""Open-loop SSE event generator: one process, one localhost connection.

    python3 perfbench/ssegen.py --seed 1 --rate 200 --pages 2000 --zipf 1.1 \
        --warm-rate 20 --events 40000 --status gen.json

Prints ``PORT <n>`` once listening. From the moment the reader connects
it sends a warm-up trickle at ``--warm-rate`` (a live feed is never
silent), so the query's first micro-batch, which pays for JVM and worker
start-up, does not leave a backlog that takes many batches to drain. A
``go`` line on stdin starts the measured schedule: event ``k`` after the
switch is due ``k / rate`` seconds after it and is sent as soon as it is
due. A reader that falls behind never slows the schedule; events wait in
the socket instead. On SIGTERM the generator stops sending and writes its
health record to ``--status``: the wall-clock start of the schedule and
the index of its first event, the number of events sent, how late sends
ran behind their due times, and the cumulative send count over time.
"""

from __future__ import annotations

import argparse
import http.server
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import rcgen  # noqa: E402
import stats  # noqa: E402


class _State:
    def __init__(self, frames: list[bytes], rate: float, warm_rate: float):
        self.frames = frames
        self.rate = rate
        self.warm_rate = warm_rate
        self.stop = threading.Event()
        self.opened: float | None = None
        self.go_at: float | None = None   # wall start of the schedule
        self.k0: int | None = None        # first event on the schedule
        self.sent = 0
        self.late: list[float] = []
        self.log: list[tuple[float, int]] = []
        self.connections = 0

    def due(self, i: int) -> float:
        if self.k0 is None:
            return self.opened + i / self.warm_rate
        return self.go_at + (i - self.k0) / self.rate

    def due_by(self, now: float) -> int:
        """Index one past the last event due at wall time ``now``."""
        if self.k0 is None:
            return int((now - self.opened) * self.warm_rate) + 1
        return self.k0 + int((now - self.go_at) * self.rate) + 1


def _handler(st: _State):
    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep stderr quiet
            pass

        def do_GET(self):  # noqa: N802
            st.connections += 1
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            if st.opened is None:
                st.opened = time.time()
            i = st.sent
            next_log = 0.0
            while i < len(st.frames) and not st.stop.is_set():
                if st.k0 is None and st.go_at is not None:
                    st.k0 = i
                now = time.time()
                due = st.due(i)
                if due > now:
                    time.sleep(min(due - now, 0.01))
                    continue
                # everything already due goes out in one write
                j = min(len(st.frames), max(i + 1, st.due_by(now)))
                try:
                    self.wfile.write(b"".join(st.frames[i:j]))
                    self.wfile.flush()
                except OSError:
                    return
                sent_at = time.time()
                if st.k0 is not None:
                    st.late.extend(sent_at - st.due(k) for k in range(i, j))
                i = st.sent = j
                if sent_at >= next_log:
                    st.log.append((sent_at, i))
                    next_log = sent_at + 0.25
            st.log.append((time.time(), i))

    return Handler


def _await_go(st: _State) -> None:
    for line in sys.stdin:
        if line.strip() == "go":
            st.go_at = time.time()
            return


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--zipf", type=float, required=True)
    ap.add_argument("--warm-rate", type=float, required=True)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--status", required=True)
    a = ap.parse_args()

    spec = rcgen.Spec(rate=a.rate, pages=a.pages, zipf_s=a.zipf)
    frames = [
        f"id: e{ev['seq']}\ndata: {rcgen.wire_json(ev)}\n\n".encode()
        for ev in rcgen.flat_events(spec, a.events, a.seed)
    ]
    st = _State(frames, a.rate, a.warm_rate)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _handler(st))
    srv.daemon_threads = True
    done = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    threading.Thread(target=_await_go, args=(st,), daemon=True).start()
    print(f"PORT {srv.server_address[1]}", flush=True)
    done.wait()
    st.stop.set()
    time.sleep(0.1)
    late = st.late or [0.0]
    with open(a.status + ".tmp", "w", encoding="utf-8") as f:
        json.dump({
            "t0": st.go_at, "k0": st.k0, "sent": st.sent,
            "connections": st.connections, "late_max_s": max(late),
            "late_p99_s": stats.percentile(late, 99), "send_log": st.log,
        }, f)
    os.replace(a.status + ".tmp", a.status)
    srv.server_close()


if __name__ == "__main__":
    main()
