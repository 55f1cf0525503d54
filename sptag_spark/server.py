"""Service-surface parity: the query wire format and search executor.

Reference (SURVEY.md §2.11): SPTAG's socket server accepts a query STRING of
``$option:value``-prefixed options followed by the vector, either
``|``-separated literals or ``#<base64>`` packed bytes
(`src/Server/QueryParser.cpp:29-150`); recognized options are ``indexname``,
``datatype``, ``extractmetadata``, ``resultnum``
(`src/Server/SearchExecutionContext.cpp:37-73`). `SearchExecutor`
(`src/Server/SearchExecutor.cpp:26-121`) parses, picks the index, runs the
search, and attaches metadata when asked.

Spark translation: parsing is driver-side (a query string is a request, not
data); batch execution is the same batch-kNN DataFrame plan as every other
search (`execute_queries`). The serve LOOP itself exists too —
`AnnTcpServer` answers the same wire format over a real TCP socket from the
process-local replica tier (newline framing in place of the reference's
custom binary packets, which are transport plumbing with no analytical
content).
"""

from __future__ import annotations

import base64
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from sptag_spark.operators.knn import attach_meta, knn_arrays
from sptag_spark.serving_local import (
    ScatterGatherAggregator,
    ShardLatencyTracker,
)

# value types per DefinitionList.h:6-9; wire layout is little-endian packed
_DATATYPES = {
    "int8": np.int8,
    "uint8": np.uint8,
    "int16": np.int16,
    "float": np.float32,
}


@dataclass
class ParsedQuery:
    """The SearchExecutionContext fields we honor."""

    vector: np.ndarray
    index_name: str | None = None
    result_num: int | None = None
    extract_metadata: bool = False
    options: dict[str, str] = field(default_factory=dict)


def parse_query(s: str, default_datatype: str = "float") -> ParsedQuery:
    """Parse one wire-format query string (`QueryParser.cpp:29-150`).

    ``$opt:value`` pairs may prefix the payload; the payload is either
    ``v1|v2|...`` literals or ``#<base64>`` of packed values in the declared
    datatype."""
    options: dict[str, str] = {}
    rest = s.strip()
    while rest.startswith("$"):
        name, sep, body = rest[1:].partition(":")
        if not sep:
            raise ValueError(f"malformed option {name!r} in {s!r}")
        # an option value ends at the next '$' (another option), at '|'
        # (literal payload separator), or at '#' (base64 payload)
        end, kind = len(body), None
        for ch in "$|#":
            i = body.find(ch)
            if i != -1 and i < end:
                end, kind = i, ch
        options[name.lower()] = body[:end]
        rest = body[end:]
        if kind == "|":
            rest = rest[1:]  # drop the option/payload separator
            break
        if kind != "$":
            break
    dtype = _DATATYPES[options.get("datatype", default_datatype)]
    if rest.startswith("#"):
        raw = base64.b64decode(rest[1:], validate=True)
        vec = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    else:
        vec = np.array([float(x) for x in rest.split("|") if x != ""])
    rn = options.get("resultnum")
    return ParsedQuery(
        vector=vec,
        index_name=options.get("indexname"),
        result_num=int(rn) if rn is not None else None,
        extract_metadata=options.get("extractmetadata", "").lower()
        in ("true", "1", "yes"),
        options=options,
    )


def encode_query(
    vector,
    datatype: str = "float",
    base64_payload: bool = False,
    **options,
) -> str:
    """Format a query string (the client side of the wire format)."""
    parts = [f"${k}:{v}" for k, v in options.items()]
    if datatype != "float":
        parts.append(f"$datatype:{datatype}")
    if base64_payload:
        packed = np.asarray(vector, dtype=_DATATYPES[datatype]).tobytes()
        payload = "#" + base64.b64encode(packed).decode("ascii")
    else:
        payload = "|".join(repr(float(x)) for x in vector)
        if parts:
            payload = "|" + payload  # option/payload separator
    return "".join(parts) + payload


def execute_queries(
    indexes: dict[str, DataFrame],
    query_strings: list[str],
    default_k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """SearchExecutor over a batch of wire-format strings: parse each, group
    by target index, run ONE batch-kNN plan per index (the executor loop at
    `SearchExecutor.cpp:95-121` becomes a union of DataFrame plans), attach
    metadata for queries that asked. query_id is the position in the batch.

    All queries against one index share a single kernel pass regardless of
    their individual resultnum — we search with max(k) and filter per query,
    which is exactly the partial/final top-k shape.
    """
    parsed = [parse_query(s) for s in query_strings]
    default_index = next(iter(indexes))
    by_index: dict[str, list[int]] = {}
    for i, p in enumerate(parsed):
        name = p.index_name or default_index
        by_index.setdefault(name, []).append(i)

    out: DataFrame | None = None
    for name, qids in by_index.items():
        vectors = indexes[name]
        Q = np.stack([parsed[i].vector for i in qids])
        ks = [parsed[i].result_num or default_k for i in qids]
        res = knn_arrays(
            vectors, np.array(qids, dtype=np.int64), Q, k=max(ks), metric=metric
        )
        res = attach_meta(res, vectors)
        # per-query resultnum filter; metadata nulled unless requested
        from pyspark.sql import functions as F

        spark = vectors.sparkSession
        limits = spark.createDataFrame(
            [
                (int(i), int(k), bool(parsed[i].extract_metadata))
                for i, k in zip(qids, ks)
            ],
            "query_id long, _k long, _with_meta boolean",
        )
        res = (
            res.join(F.broadcast(limits), "query_id")
            .filter(F.col("rank") <= F.col("_k"))
            .withColumn(
                "meta", F.when(F.col("_with_meta"), F.col("meta"))
            )
            .drop("_k", "_with_meta")
        )
        out = res if out is None else out.unionByName(res)
    return out


class AnnTcpServer:
    """The socket serve loop itself — line-oriented TCP over the in-RAM
    replica tier.

    Parity target: the reference's server accepts framed query strings over
    sockets and answers from the in-memory index
    (`src/Server/SearchService.cpp`, connection loop + `SearchExecutor`);
    its custom binary packet framing (`src/Socket/Packet.cpp`) is transport
    plumbing with no analytical content, so the framing here is
    newline-delimited: one request line in the SAME `$option:value`/
    `#base64` wire format `parse_query` handles, one JSON response line
    ``{"results": [{"rank", "id", "dist"}, ...]}`` (or ``{"error": ...}``).

    The backend is a `serving_local` replica — heads in RAM, posting
    vectors in a packed store it maps — so a point query is answered in
    ~0.5 ms (warm page cache) with no cluster job, the reference's
    serving shape. Spark remains the BUILD and BATCH tier
    (`execute_queries`, `streaming/serving.py`); this loop exists for
    protocol-level completeness and point-lookup clients.
    Connections are served one thread each (ThreadingTCPServer) and stay
    open for any number of request lines, like the reference's sessions.
    """

    def __init__(
        self,
        replica,
        host: str = "127.0.0.1",
        port: int = 0,
        k: int = 10,
        nprobe: int = 8,
        metric: str = "l2",
    ) -> None:
        import json
        import socketserver
        import threading

        outer = self

        def _search(rep, p, kk):
            """One replica, one parsed query → (rows, partial|None).
            $timeout:<ms> → per-query budget with partial results, when
            the backend is a sharded aggregator (AggregatorService.cpp:
            280-323 semantics); a single replica has no shards to drop,
            so the option is ignored there."""
            budget = p.options.get("timeout")
            deadline_fn = getattr(rep, "search_with_deadline", None)
            partial = None
            if budget is not None and deadline_fn is not None:
                ids, dists, partial = deadline_fn(
                    p.vector, k=kk, nprobe=outer.nprobe,
                    metric=outer.metric, budget_ms=float(budget),
                )
            else:
                ids, dists = rep.search_one(
                    p.vector, k=kk, nprobe=outer.nprobe,
                    metric=outer.metric,
                )
            rows = [
                {"rank": r + 1, "id": int(i), "dist": float(d)}
                for r, (i, d) in enumerate(zip(ids, dists))
            ]
            return rows, partial

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                for raw in self.rfile:
                    line = raw.decode("utf-8", errors="replace").strip()
                    if not line:
                        continue
                    try:
                        p = parse_query(line)
                        kk = p.result_num or outer.k
                        if outer.replicas is None:
                            # single-replica node: $indexname is ignored
                            # (one index IS the map, SelectIndex's
                            # size()==1 arm)
                            rows, partial = _search(outer.replica, p, kk)
                            resp = {"results": rows}
                            if partial is not None:
                                resp["partial"] = partial
                        else:
                            # multi-index node (`ServiceContext` hosts an
                            # index MAP; `SearchExecutor::SelectIndex`):
                            # $indexname:a,b searches each named index
                            # (unknown names silently skipped); with no
                            # option, only a singleton map selects
                            if p.index_name:
                                names = [
                                    n
                                    for n in p.index_name.split(",")
                                    if n in outer.replicas
                                ]
                            elif len(outer.replicas) == 1:
                                names = list(outer.replicas)
                            else:
                                names = []
                            per_index = []
                            partial = None
                            for n in names:
                                rows, pa = _search(outer.replicas[n], p, kk)
                                per_index.append(
                                    {"index": n, "results": rows}
                                )
                                if pa:
                                    partial = True
                            # "results" mirrors the first selected index so
                            # single-index clients work against either node
                            resp = {
                                "results": (
                                    per_index[0]["results"]
                                    if per_index
                                    else []
                                ),
                                "indexResults": per_index,
                            }
                            if not names:
                                # reference parity: no selected index
                                # answers NOTHING — but say so, or the
                                # empty answer reads as "no neighbors".
                                # Covers both a missing $indexname (e.g.
                                # aggregators never send one) and a
                                # $indexname whose names all miss —
                                # a client typo should not look like an
                                # empty neighborhood (r10 advice).
                                if p.index_name:
                                    resp["hint"] = (
                                        "multi-index node: $indexname "
                                        f"{p.index_name!r} matched no "
                                        "hosted index (hosted: "
                                        + ",".join(sorted(outer.replicas))
                                        + ")"
                                    )
                                else:
                                    resp["hint"] = (
                                        "multi-index node: pass "
                                        "$indexname:<name[,name]> to select"
                                    )
                            if partial is not None:
                                resp["partial"] = partial
                    except Exception as exc:  # noqa: BLE001 - wire boundary
                        resp = {"error": f"{type(exc).__name__}: {exc}"}
                    self.wfile.write(
                        (json.dumps(resp) + "\n").encode("utf-8")
                    )
                    self.wfile.flush()

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        if isinstance(replica, dict):
            # multi-index node: name → replica, the reference's
            # ServiceContext index map (one serving process hosts several
            # indexes; $indexname selects). self.replica stays the first
            # entry for single-index callers (close(), aggregators).
            self.replicas = dict(replica)
            self.replica = (
                next(iter(self.replicas.values())) if self.replicas else None
            )
        else:
            self.replicas = None
            self.replica = replica
        self.k = k
        self.nprobe = nprobe
        self.metric = metric
        self._server = Server((host, port), Handler)
        self.address = self._server.server_address  # (host, bound port)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._started = False

    @classmethod
    def from_index(
        cls,
        heads,
        postings,
        disk_store_dir=None,
        value_type="float32",
        **kwargs,
    ) -> "AnnTcpServer":
        """ONE serving tier (VERDICT r7 #8): build the socket server on the
        planner's memoized replica (plans.planner.warm_replica) so
        the planner fast path and the TCP loop share a single replica per
        index object, and default nprobe to the committed autotuned
        operating point (AUTOTUNE.json chosen — tools/autotune.py) when one
        exists AND its recorded index_fingerprint matches this index
        (ADVICE r8 — a point tuned on another corpus/build must not be
        adopted). Explicit kwargs win.

        The replica is the store replica (serving_local.DiskSpannReplica),
        packed at ``disk_store_dir`` or, without one, into a private
        directory. To serve the PQ+refine tier instead, warm it with
        warm_pq_replica and pass it to the constructor."""
        from sptag_spark.plans.planner import (
            index_fingerprint,
            tuned_operating_point,
            warm_replica,
        )

        if "nprobe" not in kwargs:
            point = tuned_operating_point(
                fingerprint=index_fingerprint(heads, postings)
            )
            # a chosen entry may omit nprobe — guard, don't KeyError
            if point and point.get("nprobe") is not None:
                kwargs["nprobe"] = int(point["nprobe"])
        rep = warm_replica(heads, postings, disk_store_dir, value_type)
        return cls(rep, **kwargs)

    @classmethod
    def from_indexes(cls, indexes: dict, **kwargs) -> "AnnTcpServer":
        """Multi-index node (`Server/ServiceContext.cpp` loads an index
        MAP from its config; queries pick members with ``$indexname``):
        ``indexes`` maps name → (heads, postings) Spark artifacts or an
        already-built replica object. Artifact pairs warm through the same
        memoized warm_replica path as from_index; node-wide kwargs
        (k/nprobe/metric) apply to every member, like the reference
        service's shared settings."""
        from sptag_spark.plans.planner import warm_replica

        reps = {}
        for name, v in indexes.items():
            if isinstance(v, tuple):
                h, p = v
                reps[name] = warm_replica(h, p)
            else:
                reps[name] = v
        return cls(reps, **kwargs)

    def start(self) -> "AnnTcpServer":
        self._thread.start()
        self._started = True
        return self

    def stop(self) -> None:
        # shutdown() blocks on an event that only serve_forever() sets —
        # calling it on a never-started server deadlocks, so gate on the
        # started flag (an already-exited serve_forever has set the event,
        # so shutdown() returns immediately in that case). server_close()
        # releases the listening socket in every path.
        if self._started:
            self._server.shutdown()
            self._thread.join(timeout=10)
        self._server.server_close()


_PIPELINE_CHUNK = 128  # max pipelined queries in flight per window
_PIPELINE_BYTE_BUDGET = 32768  # unread-response byte ceiling per window
# (half a typical 64 KiB socket buffer: the r10 advice flagged that the
# old fixed 128-query window at k=10 already sat AT the buffer size)
_EST_RESULT_ROW_BYTES = 50  # ~ one {"rank","id","dist"} JSON element


def _pipeline_window(k: int) -> int:
    """Queries in flight per window for RemoteShard.batch_search —
    bounded by RESPONSE bytes, not a fixed query count: unread response
    bytes per window scale with k (~window·k·50B), and a fixed window of
    128 at a large resultnum would push past default socket buffer sizes
    and recreate exactly the write/write deadlock the windowing exists
    to prevent. window = BYTE_BUDGET // (k · row_bytes), clamped to
    [1, _PIPELINE_CHUNK]."""
    est = max(1, int(k)) * _EST_RESULT_ROW_BYTES
    return max(1, min(_PIPELINE_CHUNK, _PIPELINE_BYTE_BUDGET // est))


class RemoteShard:
    """Client handle to one remote serve loop (AnnTcpServer) — the
    aggregator's view of a child server (`AggregatorService.cpp:209-258`
    holds one socket per remote index). Speaks the same newline-framed
    wire format; connections are per-thread and persistent (the
    reference's sessions stay open across queries).

    nprobe/metric arguments are accepted for replica-interface
    compatibility but IGNORED: each remote node answers at its own
    configured operating point, exactly the reference's child-index
    semantics (every child applies its own MaxCheck budget).
    ``deleted_ids``/``allowed_ids`` are REFUSED (ValueError): the wire
    format has no field for them, and dropping them would answer with
    ids the caller filtered out."""

    def __init__(self, host: str, port: int, timeout: float = 10.0) -> None:
        import threading

        self.host, self.port, self.timeout = host, int(port), timeout
        self._local = threading.local()

    def _files(self):
        import socket

        f = getattr(self._local, "f", None)
        if f is None:
            s = socket.create_connection(
                (self.host, self.port), timeout=self.timeout
            )
            f = s.makefile("rw", encoding="utf-8")
            self._local.s, self._local.f = s, f
        return f

    def _invalidate(self) -> None:
        """Drop this thread's cached connection after ANY transport
        failure — a dead socket cached in a long-lived scatter-pool
        thread would otherwise poison every later query on that thread
        even after the backend recovers (r10 review)."""
        s = getattr(self._local, "s", None)
        if s is not None:
            try:
                s.close()
            except OSError:
                pass
        self._local.s = self._local.f = None

    def search_one(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int | None = None,
        metric: str | None = None,
        max_dist_ratio: float | None = None,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """→ (ids, dists): the batch path with one query — one request
        line, one response line, the same error and reconnect handling."""
        rows = self.batch_search(
            [(0, q)], k, deleted_ids=deleted_ids, allowed_ids=allowed_ids
        )
        return (
            np.array([r[2] for r in rows], dtype=np.int64),
            np.array([r[3] for r in rows], dtype=np.float64),
        )

    def batch_search(
        self,
        queries,
        k: int = 10,
        nprobe: int | None = None,
        metric: str | None = None,
        max_dist_ratio: float | None = None,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """→ rows of (query_id, rank, id, dist) — the batch PIPELINED over
        the persistent connection: a window of query lines is written
        before any response is read (the serve loop answers one
        connection's lines in order), so a batch pays one round-trip's
        latency per window instead of per query. Windowed at
        _PIPELINE_CHUNK to bound unread-response bytes — an unbounded
        write-all-then-read-all can deadlock once the server's send
        buffer and this client's receive buffer both fill (the server
        blocks in write, stops reading, and our write blocks in turn).
        The window size is BYTE-budgeted via _pipeline_window(k): large
        resultnum → fewer queries in flight, so the unread-byte ceiling
        holds at any k.

        An error RESPONSE drains the window's remaining responses before
        raising, so the connection stays request/response-synced and is
        reusable; only transport failures invalidate it."""
        import json

        if deleted_ids is not None or allowed_ids is not None:
            raise ValueError(
                "a remote shard cannot apply deleted_ids/allowed_ids: the "
                "wire format carries no id filter"
            )
        if not queries:
            return []
        out: list[tuple[int, int, int, float]] = []
        try:
            f = self._files()
            win = _pipeline_window(k)
            for w0 in range(0, len(queries), win):
                window = queries[w0 : w0 + win]
                for _, q in window:
                    f.write(
                        encode_query([float(v) for v in q], resultnum=int(k))
                        + "\n"
                    )
                f.flush()
                first_err: str | None = None
                for qid, _ in window:
                    line = f.readline()
                    if not line:
                        self._invalidate()
                        raise ConnectionError(
                            f"shard {self.host}:{self.port} closed"
                        )
                    resp = json.loads(line)
                    if "error" in resp:
                        if first_err is None:
                            first_err = resp["error"]
                        continue  # keep draining — stay wire-synced
                    if first_err is None:
                        out.extend(
                            (
                                int(qid),
                                int(r["rank"]),
                                int(r["id"]),
                                float(r["dist"]),
                            )
                            for r in resp["results"]
                        )
                if first_err is not None:
                    raise RuntimeError(first_err)
            return out
        except OSError:
            self._invalidate()
            raise

    def close(self) -> None:
        s = getattr(self._local, "s", None)
        if s is not None:
            s.close()
            self._local.s = self._local.f = None


class RemoteReplicaAggregator(ScatterGatherAggregator):
    """Scatter-gather over REMOTE serve loops — the reference's Aggregator
    node (`AggregatorService.cpp:216-323`: a network service that fans a
    query out to child SPTAG servers and merges), completing the
    deployment story: BalancedDataPartition → N `cli serve` nodes → one
    `cli aggserve` front.

    Routing, sub-batch split, deadline executor, tracker and merge are
    the in-process tier's (serving_local.ScatterGatherAggregator). What
    differs: the scatter is THREADED on a pooled executor, which
    measurement rejected for in-process shards (µs-scale work, SCALING.md
    r10) but is right here — each call is an ms-scale socket wait with
    the GIL released; routing uses the constructor ``metric`` (the space
    the centers live in) whatever metric a call passes; and the shards
    answer at their own configured nprobe/metric and refuse id filters
    (RemoteShard). On the deadline paths a refused filter is a failed
    shard like any other: every shard drops and the empty answer is
    flagged partial.

    A hung backend's deadline straggler thread lives until the shard
    socket timeout (default 10 s) before its socket is GC-closed.
    Deployments doing sustained deadline traffic against flaky backends
    should front each backend with its own health check rather than
    lean on this path for liveness."""

    dispatch_label = "remote_aggregator"

    def __init__(
        self,
        backends,
        centers=None,
        scatter_topk: int | None = None,
        metric: str = "l2",
    ) -> None:
        """``centers``/``scatter_topk``: center-routed scatter — one
        center vector per backend (BalancedDataPartition's per-node
        centers; the reference reads them from the `[Service] Centers`
        file) and the number of nearest backends to scatter each query to
        (`[Service] TopK`, `AggregatorService.cpp:215-258`). Requires one
        center per backend, like the reference's count check; None
        broadcasts."""
        self.replicas = [RemoteShard(h, p) for h, p in backends]
        self.centers = (
            np.asarray(centers, dtype=np.float64)
            if centers is not None
            else None
        )
        if self.centers is not None and len(self.centers) != len(
            self.replicas
        ):
            raise ValueError(
                f"{len(self.centers)} centers for {len(self.replicas)} "
                "backends — the reference routes only when counts match"
            )
        self.scatter_topk = scatter_topk
        self.metric = metric
        self._pool = None
        #: per-backend latency window + deadline-miss attribution — what
        #: the reference operator reads from AggregatorService timeout logs
        self.tracker = ShardLatencyTracker(len(self.replicas))

    def _route(self, q, metric) -> list[int]:
        return super()._route(q, self.metric)

    def _scatter(self, calls: list) -> list:
        import concurrent.futures as cf

        if self._pool is None:
            self._pool = cf.ThreadPoolExecutor(
                max_workers=max(len(self.replicas), 1),
                thread_name_prefix="agg-scatter",
            )
        return [f.result() for f in [self._pool.submit(c) for c in calls]]

    def close(self) -> None:
        """Shut the scatter pool and close this thread's shard sockets."""
        if self._pool is not None:
            self._pool.shutdown(wait=False, cancel_futures=True)
            self._pool = None
        for rep in self.replicas:
            rep.close()


def load_server_ini(path: str) -> dict:
    """Parse the reference's Server service config
    (`Server/ServiceContext.cpp:24-58`): [Service] ListenAddr /
    ListenPort, [QueryConfig] DefaultMaxResultNumber, [Index]
    List=<a,b,...> with one [Index_<name>] IndexFolder=... section per
    member — names whose section lacks IndexFolder are SKIPPED, mirroring
    the reference's DoesParameterExist continue. → {host, port, k,
    indexes: {name: folder}} (insertion order = List order)."""
    import configparser

    cp = configparser.ConfigParser()
    with open(path) as f:
        cp.read_string(f.read())
    svc = cp["Service"] if cp.has_section("Service") else {}
    qc = cp["QueryConfig"] if cp.has_section("QueryConfig") else {}
    index_list = (
        cp.get("Index", "List", fallback="")
        if cp.has_section("Index")
        else ""
    )
    indexes: dict[str, str] = {}
    for name in (n.strip() for n in index_list.split(",") if n.strip()):
        sec = f"Index_{name}"
        folder = (
            cp.get(sec, "IndexFolder", fallback="")
            if cp.has_section(sec)
            else ""
        )
        if folder:
            indexes[name] = folder
    return {
        "host": svc.get("ListenAddr", "0.0.0.0"),
        "port": int(svc.get("ListenPort", "8000")),
        "k": int(qc.get("DefaultMaxResultNumber", "10")),
        "indexes": indexes,
    }


def load_aggregator_ini(path: str) -> dict:
    """Parse the reference's Aggregator.ini
    (`AggregatorContext.cpp:30-55`): [Service] ListenAddr / ListenPort /
    TopK / Centers, [Servers] Number, then one [Server_<i>] section per
    backend with Address / Port — missing or incomplete server sections
    are SKIPPED, mirroring the reference's empty-address ``continue``.

    NOTE the reference semantics of TopK: it is the CENTER-ROUTED SCATTER
    fan-out — the number of nearest servers (by query-to-center distance
    against the `Centers` vector file) each query is sent to
    (`AggregatorService.cpp:215-258`) — NOT a result count. <= 0 (the
    default -1) means broadcast to all servers.
    → {host, port, scatter_topk, centers (file path), backends}."""
    import configparser

    cp = configparser.ConfigParser()
    with open(path) as f:
        cp.read_string(f.read())
    svc = cp["Service"] if cp.has_section("Service") else {}
    n = (
        int(cp.get("Servers", "Number", fallback="0"))
        if cp.has_section("Servers")
        else 0
    )
    backends = []
    for i in range(n):
        sec = f"Server_{i}"
        if not cp.has_section(sec):
            continue
        addr = cp.get(sec, "Address", fallback="")
        bport = cp.get(sec, "Port", fallback="")
        if not addr or not bport:
            continue
        backends.append((addr, int(bport)))
    return {
        "host": svc.get("ListenAddr", "0.0.0.0"),
        "port": int(svc.get("ListenPort", "8100")),
        "scatter_topk": int(svc.get("TopK", "-1")),
        "centers": svc.get("Centers", "centers"),
        "backends": backends,
    }


def aggregator_server(
    backends,
    host: str = "127.0.0.1",
    port: int = 0,
    k: int = 10,
    centers=None,
    scatter_topk: int | None = None,
    metric: str = "l2",
) -> AnnTcpServer:
    """An Aggregator NODE: the same newline-framed wire loop
    (AnnTcpServer), backed by RemoteReplicaAggregator instead of a local
    replica — so clients speak to one front exactly as they would to a
    single serving node, `$timeout:<ms>` buys deadline partials across
    the remote shards, and the reference's three-tier deployment (client
    → aggregator → serving nodes, `AggregatorService.cpp`) is complete
    over real sockets."""
    return AnnTcpServer(
        RemoteReplicaAggregator(
            backends, centers=centers, scatter_topk=scatter_topk,
            metric=metric,
        ),
        host=host,
        port=port,
        k=k,
    )
