"""``fresh_update``: inserts and deletes beside open-loop reads over TCP.

The benchmark process, as the Spark driver, applies seeded insert batches
back to back, each preceded by a delete of a share of base ids, to
``SpannLiveIndex(maintenance="local")`` with an attached packed store. The store is served by the three-tier TCP
deployment: a shard process (``AnnTcpServer`` over
``DiskSpannReplica.from_store``) that reopens the store on every new patch
epoch, and an ``aggregator_server`` node in front of it. A separate
generator process offers open-loop queries at a fixed rate to the
aggregator while the writes run, so reads meet both the store patches and
Spark's CPU use.

Checks, outside the timed window: every inserted vector is its own top-1
in the final store; no read returns an id whose delete had finished before
the shard last reopened; the aggregator's answers on the final store are
row-identical to the in-process replica's.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import host
from common import Ctx, pctl, tail_q
from loadgen import closed_loop_ms
from wl_registry import exact_topk

HERE = os.path.dirname(os.path.abspath(__file__))
K = 10
LATE_LIMIT_MS = 10.0  # generator lateness (p99) above which reads are invalid
# writer seconds a batch takes on a 4-vCPU host: the number of timed
# batches is the window over this, fixed by --seconds alone, because a batch
# costs more the more batches came before it (each adds to the postings'
# union lineage), and a count that followed the host's speed changed which
# batches the median fell on
BATCH_S = 4.0
DELETE_SHARE = 0.1  # base ids deleted per batch, as a share of its inserts
SPLIT_LIMIT = 1000  # posting length above which the live index splits
SETUP_REPEATS = 4  # packed-store builds measured for setup_s
CONNECTIONS = 2  # generator connections to the aggregator
SETTLE_S = 0.5  # reads go on this long after the last batch
VISIBLE_SAMPLE = 5  # inserted vectors per batch the shard checks for visibility


class Procs:
    """Benchmark-owned child processes, each started from procs.py with
    a JSON argument file; ``stop`` closes their stdin and waits."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.procs: list[subprocess.Popen] = []

    def start(self, role: str, args: dict) -> tuple[subprocess.Popen, str]:
        path = os.path.join(self.ctx.work, f"{role}.json")
        args["ready"] = os.path.join(self.ctx.work, f"{role}.ready")
        args["out"] = os.path.join(self.ctx.work, f"{role}.out.json")
        with open(path, "w") as f:
            json.dump(args, f)
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "procs.py"), role, path],
            stdin=subprocess.PIPE, cwd=self.ctx.root,
        )
        self.procs.append(p)
        deadline = time.time() + 60
        while not os.path.exists(args["ready"]):
            if p.poll() is not None or time.time() > deadline:
                raise RuntimeError(f"{role} process failed to start")
            time.sleep(0.005)
        with open(args["ready"]) as f:
            return p, f.read()

    def stop(self) -> None:
        for p in self.procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self.procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def _expected(rep, queries, nprobe: int):
    """In-process answers, merged as the aggregator merges one shard."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    out = []
    for q in queries:
        ids, d = rep.search_one(q, k=K, nprobe=nprobe)
        ids, d = ShardedSpannAggregator._merge([ids], [d], K)
        out.append(([int(i) for i in ids], [float(x) for x in d]))
    return out


def run(ctx: Ctx) -> None:
    from sptag_spark.serving_local import DiskSpannReplica, build_packed_store_parallel
    from sptag_spark.streaming.spfresh import SpannLiveIndex

    cfg = ctx.config["fresh_update"]
    # one untimed warm-up batch, then the timed ones
    n_timed = max(3, math.ceil(ctx.seconds / BATCH_S))
    n0, bs, nb = cfg["base_vectors"], cfg["batch_size"], 1 + n_timed
    n_del = int(bs * DELETE_SHARE)
    nprobe = cfg["nprobe"]
    with ctx.tracer.span("generate", "gen"):
        allv, _ = datagen.clustered_vectors(ctx.seed, n0 + nb * bs + cfg["n_queries"])
    base = allv[:n0]
    inserts = allv[n0 : n0 + nb * bs]
    queries = allv[n0 + nb * bs:]
    del_order = np.random.default_rng(ctx.seed + 7).permutation(n0)

    # the writer gets half the cores and the serving tier the rest, as a
    # co-located deployment would reserve them: with Spark on every core
    # the reads queued behind it, and their latency followed the host's
    # spare capacity (p50 11-50 ms, p99 65-450 ms across runs of the same
    # code) more than the serving path
    spark = ctx.start_spark(cpus=max(1, ctx.nproc // 2))
    base_path = os.path.join(ctx.work, "base.parquet")
    pq.write_table(datagen.vector_table(np.arange(n0), base), base_path)
    with ctx.tracer.span("build", "index"):
        t0 = time.perf_counter()
        idx = SpannLiveIndex(
            spark.read.parquet(base_path), maintenance="local",
            rebuild_threshold=10**9, split_limit=SPLIT_LIMIT,
        )
        ctx.layers["index.build_s.spann"] = time.perf_counter() - t0

    ctx.phase("store builds")
    # set-up: pack the serve store from the live index, several times,
    # median CPU seconds reported (the median wall beside it); the last
    # store is the one attached and served
    samples, walls = [], []
    store = None
    for i in range(SETUP_REPEATS):
        store = os.path.join(ctx.work, f"store{i}")
        t0, c0 = time.perf_counter(), host.tree_cpu_seconds(os.getpid())
        with ctx.tracer.span("store_build", "spfresh"):
            build_packed_store_parallel(idx.heads, idx.postings, store)
        samples.append(host.tree_cpu_seconds(os.getpid()) - c0)
        walls.append(time.perf_counter() - t0)
    ctx.e2e["setup_s"] = float(np.median(samples))
    ctx.samples["setup_s"] = len(samples)
    ctx.named["setup_wall_s"] = float(np.median(walls))
    idx.attach_store(store)

    batches = [
        spark.createDataFrame(datagen.vector_table(
            n0 + np.arange(b * bs, (b + 1) * bs), inserts[b * bs : (b + 1) * bs]
        ).to_pandas())
        for b in range(nb)
    ]
    manifest = os.path.join(ctx.work, "manifest.jsonl")
    open(manifest, "w").close()
    counters = None
    if ctx.trace:
        from spans import SparkCounters

        counters = SparkCounters(spark)
    deleted_log: list[tuple[float, list[int]]] = []  # (delete done, ids)
    add_s, cpu_s, jobs = [], [], []
    spans: list[tuple[float, float]] = []  # perf_counter start, end of timed batches

    def apply_batch(b: int) -> float:
        """Delete a share of base ids, then insert batch ``b``; the
        manifest line lets the shard time visibility. → writer seconds."""
        ids = (n0 + np.arange(b * bs, (b + 1) * bs)).tolist()
        dels = [int(x) for x in del_order[b * n_del : (b + 1) * n_del]]
        sample = np.linspace(0, bs - 1, VISIBLE_SAMPLE).astype(int)
        sp = os.path.join(ctx.work, f"sample{b}.npy")
        np.save(sp, inserts[b * bs + sample])
        entry = {"batch": b, "sample": sp, "sample_ids": [ids[j] for j in sample],
                 "t_call": time.perf_counter()}
        if counters is not None:
            spark.sparkContext.setJobGroup(f"batch{b}", f"batch{b}")
        with ctx.tracer.span(f"batch{b}", "spfresh"):
            t0 = time.perf_counter()
            idx.delete_ids(spark.createDataFrame([(d,) for d in dels], "id long"))
            deleted_log.append((time.perf_counter(), dels))
            idx.add_batch(batches[b])
            wall = time.perf_counter() - t0
        if counters is not None:
            jobs.append(counters.jobs_for(f"batch{b}")[0])
        with open(manifest, "a") as f:
            f.write(json.dumps(entry) + "\n")
        return wall

    # one untimed batch first: the write path's first Spark jobs pay JIT
    # and plan warm-up that no later batch pays
    apply_batch(0)
    jobs.clear()
    maint0, patches0 = len(idx.maintenance_log), len(idx.store_patch_log)

    ctx.phase("serving tier")
    procs = Procs(ctx)
    ctx.procs = procs.procs
    try:
        _serve_and_write(ctx, cfg, procs, store, manifest, queries, nb, apply_batch,
                         add_s, cpu_s, spans)
        b = len(add_s) + 1
    finally:
        procs.stop()
    with open(os.path.join(ctx.work, "shard.out.json")) as f:
        shard_log = json.load(f)
    with open(os.path.join(ctx.work, "gen.out.json")) as f:
        g = json.load(f)

    inserted = b * bs
    # CPU seconds of the writer (the driver, the JVM and Spark's Python
    # workers, not the serving tier) per timed batch, median over batches:
    # the batch walls of the same code moved 1.5-2x between runs with the
    # host's steal
    ctx.e2e["op_cpu_ms"] = float(np.median(cpu_s)) * 1000.0
    ctx.samples["op_cpu_ms"] = len(cpu_s)
    # vectors per second of writer wall, over the median batch
    ctx.named["insert_vps"] = bs / float(np.median(add_s))
    ctx.named["batches"] = b
    ctx.named["add_batch_s"] = add_s
    ctx.named["add_batch_cpu_s"] = cpu_s
    _reads(ctx, g, shard_log, deleted_log, spans)
    vis = list(shard_log["visible_s"].values())
    ctx.named["fresh_visible_p50_s"] = pctl(vis, 50)
    ctx.samples["fresh_visible_p50_s"] = len(vis)
    ctx.check(len(vis) == b - 1, f"fresh_update: {b - 1 - len(vis)} batches never became visible")

    ctx.phase("verify")
    # final state, read from disk: every inserted vector is its own top-1,
    # no deleted id comes back for its own vector, recall against truth
    deleted = [d for _, ds in deleted_log for d in ds]
    rep = DiskSpannReplica.from_store(store)
    with ctx.tracer.span("verify", "serving_local"):
        self_hit = sum(
            int(rep.search_one(v, k=1, nprobe=nprobe)[0][0]) == n0 + j
            for j, v in enumerate(inserts[:inserted])
        )
        ctx.check(self_hit == inserted, f"fresh_update: {inserted - self_hit} inserted vectors miss self-hit")
        dset = set(deleted)
        leaked = sum(
            bool(dset.intersection(int(x) for x in rep.search_one(base[d], k=K, nprobe=nprobe)[0]))
            for d in deleted
        )
        ctx.check(leaked == 0, f"fresh_update: {leaked} deleted ids returned")
        live_ids = np.concatenate([np.setdiff1d(np.arange(n0), deleted), n0 + np.arange(inserted)])
        live = allv[live_ids]
        hits = 0
        for qv, row in zip(queries, exact_topk(live, queries, K)):
            got = rep.search_one(qv, k=K, nprobe=nprobe)[0]
            hits += len(set(int(x) for x in got) & set(int(live_ids[j]) for j in row))
        ctx.e2e["recall_at_10"] = hits / float(K * len(queries))
        ctx.samples["recall_at_10"] = len(queries)

    L = ctx.layers
    L["spfresh.add_batch_s_p50"] = pctl(add_s, 50)
    L["spfresh.spark_jobs_per_batch"] = float(np.median(jobs)) if jobs else 0.0
    # per batch, so that running more batches in the window reads the same:
    # maintenance ops and appended store bytes of the timed batches, and
    # the final store's dead rows over all batches applied
    L["spfresh.maint_ops"] = (len(idx.maintenance_log) - maint0) / len(add_s)
    log = idx.store_patch_log
    if log:
        appended = sum(p.get("vector_bytes_appended", 0) for p in log[patches0:])
        L["spfresh.patch_bytes_ratio"] = appended / len(add_s) / log[-1]["store_vector_bytes"]
        L["spfresh.dead_rows_ratio"] = log[-1]["dead_rows"] / max(1, log[-1]["live_rows"]) / b
    L["spfresh.reopen_ms_p50"] = pctl([r["ms"] for r in shard_log["reopens"]], 50)
    L["spfresh.visible_p50_s"] = ctx.named["fresh_visible_p50_s"]
    if ctx.trace:
        sample = queries[: cfg["layer_queries"]]
        comp = closed_loop_ms(lambda qv: rep.search_one(qv, k=K, nprobe=nprobe), sample)
        io_p, io_r = [], []
        for qv in sample:
            rep.search_one(qv, k=K, nprobe=nprobe)
            io_p.append(rep.last_io_postings)
            io_r.append(rep.last_io_rows)
        from sptag_spark.operators.knn import _exact_pair_dists

        route = closed_loop_ms(
            lambda qv: np.argsort(_exact_pair_dists(rep.H, np.asarray(qv, np.float64), "l2"))[:nprobe],
            sample,
        )
        L["serving_local.compute_ms_p50"] = pctl(comp, 50)
        L["serving_local.compute_ms_p99"] = pctl(comp, tail_q(len(comp)))
        L["serving_local.route_ms"] = pctl(route, 50)
        L["serving_local.postings_read"] = float(np.mean(io_p))
        L["serving_local.rows_scanned"] = float(np.mean(io_r))
        L["serving_local.rows_per_result"] = float(np.mean(io_r)) / K
        if "server.shard_rtt_ms_p50" in L:
            L["server.wire_ms_p50"] = L["server.shard_rtt_ms_p50"] - L["serving_local.compute_ms_p50"]
    idx.close()
    ctx.stop_spark()


def _serve_and_write(ctx, cfg, procs, store, manifest, queries, nb, apply_batch,
                     add_s, cpu_s, spans) -> None:
    from sptag_spark.server import RemoteShard
    from sptag_spark.serving_local import DiskSpannReplica

    nprobe = cfg["nprobe"]
    shard, sport = procs.start("shard", {
        "store": store, "nprobe": nprobe, "manifest": manifest, "first_batch": 1,
    })
    agg, aport = procs.start("agg", {"ports": [int(sport)]})
    qpath = os.path.join(ctx.work, "queries.npy")
    np.save(qpath, queries)
    stop_file = os.path.join(ctx.work, "gen.stop")
    gen, _ = procs.start("gen", {
        "port": int(aport), "queries": qpath, "rate": cfg["read_qps"], "k": K,
        "connections": max(1, min(CONNECTIONS, ctx.nproc)),
        "max_seconds": ctx.seconds * 4 + 60, "stop_file": stop_file,
    })
    ctx.extra_pids = [shard.pid, agg.pid, gen.pid]
    serving = [shard.pid, agg.pid]
    cpu0 = {p: host.tree_cpu_seconds(p) for p in serving}

    ctx.phase("timed batches")
    ctx.rss_reset()
    t_start = time.perf_counter()
    me = os.getpid()
    for b in range(1, nb):
        t0, c0 = time.perf_counter(), host.tree_cpu_seconds(me, ctx.extra_pids)
        add_s.append(apply_batch(b))
        spans.append((t0, time.perf_counter()))
        cpu_s.append(host.tree_cpu_seconds(me, ctx.extra_pids) - c0)
        ctx.rss_snapshot()
    window = time.perf_counter() - t_start
    ctx.layers["server.agg_busy_share"] = (host.tree_cpu_seconds(agg.pid) - cpu0[agg.pid]) / window
    ctx.layers["server.shard_busy_share"] = (host.tree_cpu_seconds(shard.pid) - cpu0[shard.pid]) / window
    # give the shard time to reopen the last patch, then stop the reads
    time.sleep(SETTLE_S)
    ctx.rss_snapshot()
    with open(stop_file, "w") as f:
        f.write("1")
    gen.wait(timeout=60)

    # the aggregator's answers on the final store equal the in-process
    # replica's, row for row
    ctx.phase("row check")
    rep = DiskSpannReplica.from_store(store)
    want = _expected(rep, queries, nprobe)
    client = RemoteShard("127.0.0.1", int(aport))
    direct = RemoteShard("127.0.0.1", int(sport))
    agg_ms, shard_ms = [], []
    same = 0
    with ctx.tracer.span("row_check", "server"):
        for q, w in zip(queries, want):
            t0 = time.perf_counter()
            ids, d = client.search_one(q, K)
            agg_ms.append((time.perf_counter() - t0) * 1000.0)
            same += ([int(i) for i in ids], [float(x) for x in d]) == w
            t0 = time.perf_counter()
            direct.search_one(q, K)
            shard_ms.append((time.perf_counter() - t0) * 1000.0)
    client.close()
    direct.close()
    ctx.attempted += len(queries) - 1
    ctx.check(same == len(queries), f"fresh_update: {len(queries) - same} aggregator answers differ from in-process")
    L = ctx.layers
    L["server.shard_rtt_ms_p50"] = pctl(shard_ms, 50)
    L["server.agg_rtt_ms_p50"] = pctl(agg_ms, 50)
    L["server.agg_rtt_ms_p99"] = pctl(agg_ms, tail_q(len(agg_ms)))
    L["server.agg_overhead_ms_p50"] = pctl(np.asarray(agg_ms) - np.asarray(shard_ms), 50)
    L["server.fanout"] = 1.0


def _reads(ctx, g: dict, shard_log: dict, deleted_log, spans) -> None:
    """Open-loop read figures over the reads due while a timed batch ran
    (``spans``; the generator's clock is the same monotonic clock), and
    the deleted-id check: a read sent after the shard swapped in a store it
    began opening at t_open must not return an id whose delete finished
    before t_open."""
    due, sent, done = (np.asarray(g[k], dtype=np.float64) for k in ("due", "sent", "done"))
    answered = ~np.isnan(done) & np.array([x is not None for x in g["ids"]])
    lat = (done - due)[answered] * 1000.0
    opens = sorted((r["t_ready"], r["t_open"]) for r in shard_log["reopens"])
    ready = [r for r, _ in opens]
    violations = 0
    for i in np.flatnonzero(answered):
        # the newest store the shard had swapped in when the read was sent
        k = np.searchsorted(ready, sent[i], side="right") - 1
        if k < 0:
            continue
        gone = {d for t, ds in deleted_log if t < opens[k][1] for d in ds}
        if gone.intersection(g["ids"][i]):
            violations += 1
    n = len(due)
    failed = int((~answered).sum())
    ctx.attempted += n
    ctx.failed += failed
    if failed:
        ctx.problems.append(f"fresh_update: {failed} of {n} reads unanswered")
    ctx.check(violations == 0, f"fresh_update: {violations} reads returned a deleted id")
    # the tail per batch, median over batches: a 10 s window holds a few
    # stalls of 100 ms or more, and one of them decided a single p99 over
    # the window (65-450 ms across runs of the same code)
    due_ok = due[answered]
    per_batch = [lat[(due_ok >= t0) & (due_ok < t1)] for t0, t1 in spans]
    per_batch = [x for x in per_batch if len(x)]
    lat = np.concatenate(per_batch) if per_batch else lat
    ctx.named["update_read_p50_ms"] = pctl(lat, 50)
    tails = [pctl(x, tail_q(len(x))) for x in per_batch] or [pctl(lat, tail_q(len(lat)))]
    ctx.named["update_read_p99_ms"] = float(np.median(tails))
    ctx.named["read_pctl_ms"] = {p: pctl(lat, p) for p in (50, 90, 95, 99, 99.9)}
    ctx.named["reads"] = int(len(lat))
    ctx.named["update_read_tail_percentile"] = [tail_q(len(x)) for x in per_batch]
    L = ctx.layers
    L["gen.sent"] = float(n)
    L["gen.failed"] = float(failed + violations)
    L["gen.late_ms_p99"] = pctl((sent - due)[~np.isnan(sent)] * 1000.0, 99)
    ctx.named["gen_late_ms_p99"] = L["gen.late_ms_p99"]
    # the generator itself fell behind: read latencies are not valid
    ctx.named["reads_valid"] = L["gen.late_ms_p99"] <= LATE_LIMIT_MS
