"""Serving-side processes the benchmark starts, one role per process.

    python3 perfbench/procs.py shard <args.json>
    python3 perfbench/procs.py agg   <args.json>
    python3 perfbench/procs.py gen   <args.json>

``shard`` serves a packed SPANN store over ``AnnTcpServer`` and reopens it
whenever a new patch lands, as a serving node tracking a live index would;
``agg`` is an ``aggregator_server`` node in front of shard ports on
127.0.0.1; ``gen`` is the open-loop load generator. Each writes its bound
port (or a ready mark) to ``args["ready"]`` once it serves, and stops when
its standard input closes (``shard``, ``agg``) or ``args["stop_file"]``
appears (``gen``), writing its figures to ``args["out"]``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


def _publish(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _read_manifest(path: str) -> list[dict]:
    try:
        with open(path) as f:
            return [json.loads(line) for line in f if line.endswith("\n")]
    except FileNotFoundError:
        return []


class StoreWatcher:
    """Reopens the shard's store on every new patch epoch and swaps it into
    the server; after each reopen, and whenever the writer's manifest
    grows, checks which batches' sampled vectors now come back as their
    own top-1 (the batch is then visible)."""

    def __init__(self, srv, a: dict) -> None:
        self.srv, self.a = srv, a
        self.meta = os.path.join(a["store"], "meta.json")
        self.reopens: list[dict] = []  # t_open, t_ready, ms
        self.visible_s: dict[int, float] = {}
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)

    def open(self):
        from sptag_spark.serving_local import DiskSpannReplica

        t_open = time.perf_counter()
        stamp = os.stat(self.meta).st_mtime_ns
        rep = DiskSpannReplica.from_store(self.a["store"])
        t_ready = time.perf_counter()
        self.reopens.append(
            {"t_open": t_open, "t_ready": t_ready, "ms": (t_ready - t_open) * 1000.0}
        )
        return rep, stamp

    def _loop(self) -> None:
        import numpy as np

        stamp = os.stat(self.meta).st_mtime_ns
        seen = -1
        while not self.stop.wait(0.002):
            if os.stat(self.meta).st_mtime_ns != stamp:
                try:
                    rep, stamp = self.open()
                except RuntimeError:  # a patch is mid-flight; next turn
                    continue
                self.srv.replica = rep
                seen = -1
            size = os.path.getsize(self.a["manifest"])
            if size == seen:
                continue
            seen = size
            rep = self.srv.replica
            for m in _read_manifest(self.a["manifest"]):
                b = m["batch"]
                if b < self.a["first_batch"] or b in self.visible_s:
                    continue
                got = [
                    int(rep.search_one(v, k=1, nprobe=self.a["nprobe"])[0][0])
                    for v in np.load(m["sample"])
                ]
                if got == m["sample_ids"]:
                    self.visible_s[b] = time.perf_counter() - m["t_call"]


def shard(a: dict) -> int:
    from sptag_spark.server import AnnTcpServer

    watcher = StoreWatcher(None, a)
    rep, _ = watcher.open()
    srv = AnnTcpServer(rep, nprobe=a["nprobe"])
    watcher.srv = srv
    srv.start()
    watcher.thread.start()
    _publish(a["ready"], str(srv.address[1]))
    try:
        sys.stdin.read()
    finally:
        watcher.stop.set()
        watcher.thread.join(timeout=10)
        srv.stop()
        with open(a["out"], "w") as f:
            json.dump({"reopens": watcher.reopens, "visible_s": watcher.visible_s}, f)
    return 0


def agg(a: dict) -> int:
    from sptag_spark.server import aggregator_server

    srv = aggregator_server([("127.0.0.1", p) for p in a["ports"]])
    srv.start()
    _publish(a["ready"], str(srv.address[1]))
    try:
        sys.stdin.read()
    finally:
        srv.stop()
    return 0


def gen(a: dict) -> int:
    import numpy as np

    from loadgen import tcp_open_loop
    from sptag_spark.server import encode_query

    queries = np.load(a["queries"])
    lines = [encode_query([float(v) for v in q], resultnum=a["k"]) for q in queries]
    _publish(a["ready"], "1")
    res, qidx = tcp_open_loop(
        a["port"], lines, a["rate"], a["max_seconds"], a["connections"],
        stop=lambda: os.path.exists(a["stop_file"]),
    )
    ids = []
    for line in res.reply:
        rows = json.loads(line).get("results") if line else None
        ids.append(None if rows is None else [r["id"] for r in rows])
    with open(a["out"], "w") as f:
        json.dump({
            "due": res.due.tolist(), "sent": res.sent.tolist(),
            "done": res.done.tolist(), "qidx": qidx, "ids": ids,
        }, f)
    return 0


def main(argv: list[str]) -> int:
    roles = {"shard": shard, "agg": agg, "gen": gen}
    if len(argv) != 2 or argv[0] not in roles:
        print(f"usage: procs.py {{{'|'.join(roles)}}} <args.json>", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        return roles[argv[0]](json.load(f))


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    sys.exit(main(sys.argv[1:]))
