"""Open-loop load generator (the gen layer).

Requests are due on a fixed schedule (uniform spacing at the offered rate)
whatever the server does, and each latency runs from when the request was
due, so a stall charges every request queued behind it. How late the
generator itself sent each request is kept too, to judge the run's
validity.
"""

from __future__ import annotations

import collections
import socket
import threading
import time

import numpy as np


class OpenLoopResult:
    def __init__(self, n: int) -> None:
        self.due = np.full(n, np.nan)
        self.sent = np.full(n, np.nan)
        self.done = np.full(n, np.nan)
        self.reply: list[str | None] = [None] * n

    def trim(self, n: int) -> "OpenLoopResult":
        self.due, self.sent, self.done = self.due[:n], self.sent[:n], self.done[:n]
        self.reply = self.reply[:n]
        return self


def tcp_open_loop(port: int, lines: list[str], rate: float, max_seconds: float,
                  conns: int, stop=None) -> tuple[OpenLoopResult, list[int]]:
    """Send ``lines[i % len(lines)]`` at ``rate``/s over ``conns``
    pipelined connections to 127.0.0.1:port, until ``max_seconds`` pass or
    ``stop()`` is true. → (result, query index per request)."""
    n_max = max(1, int(rate * max_seconds))
    res = OpenLoopResult(n_max)
    socks = [socket.create_connection(("127.0.0.1", port), timeout=30) for _ in range(conns)]
    for s in socks:
        s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    fifos = [collections.deque() for _ in range(conns)]
    locks = [threading.Lock() for _ in range(conns)]

    def reader(c: int) -> None:
        f = socks[c].makefile("r", encoding="utf-8")
        while True:
            try:
                line = f.readline()
            except OSError:
                return
            if not line:
                return
            now = time.perf_counter()
            with locks[c]:
                i = fifos[c].popleft()
            res.done[i] = now
            res.reply[i] = line

    threads = [threading.Thread(target=reader, args=(c,), daemon=True) for c in range(conns)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.05
    gap = 1.0 / rate
    n = 0
    for i in range(n_max):
        if stop is not None and i % 8 == 0 and stop():
            break
        due = t0 + i * gap
        res.due[i] = due
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        c = i % conns
        with locks[c]:
            fifos[c].append(i)
        res.sent[i] = time.perf_counter()
        n = i + 1
        try:
            socks[c].sendall((lines[i % len(lines)] + "\n").encode("utf-8"))
        except OSError:
            break
    # let replies to requests already sent drain, bounded
    deadline = time.perf_counter() + 10.0
    while time.perf_counter() < deadline and any(fifos):
        time.sleep(0.005)
    for s in socks:
        try:
            s.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        s.close()
    for t in threads:
        t.join(timeout=5)
    return res.trim(n), [i % len(lines) for i in range(n)]


def closed_loop_ms(fn, queries) -> np.ndarray:
    """Milliseconds per call of ``fn(q)`` over ``queries``, one at a time."""
    out = []
    for q in queries:
        t0 = time.perf_counter()
        fn(q)
        out.append((time.perf_counter() - t0) * 1000.0)
    return np.asarray(out)
