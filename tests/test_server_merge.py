"""Wire-format parser/executor (SURVEY §2.11) and MergeIndex (§2.7) tests.

Mirrors the reference's own coverage: QueryParser option extraction
(`src/Server/QueryParser.cpp:29-150`, `Test/src/StringConvertTest.cpp`),
base64 payloads (`Test/src/Base64HelperTest.cpp:11`), and MergeIndex
re-insertion (`src/Core/VectorIndex.cpp:489-560`).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.mutate import merge_index
from sptag_spark.server import encode_query, execute_queries, parse_query

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vectors(spark):
    from sptag_spark.tables import vectors_table

    return vectors_table(spark, SF)


def test_parse_literal_roundtrip():
    p = parse_query("1.5|2.0|-3.25")
    assert p.vector.tolist() == [1.5, 2.0, -3.25]
    assert p.result_num is None and not p.extract_metadata


def test_parse_options_and_literal():
    p = parse_query("$resultnum:7$extractmetadata:true$indexname:foo|1.0|2.0")
    assert p.result_num == 7
    assert p.extract_metadata is True
    assert p.index_name == "foo"
    assert p.vector.tolist() == [1.0, 2.0]


def test_parse_base64_roundtrip():
    vec = np.array([0.5, -1.25, 3.0], dtype=np.float32)
    s = encode_query(vec, base64_payload=True, resultnum=3)
    p = parse_query(s)
    assert p.result_num == 3
    assert p.vector.tolist() == vec.astype(np.float64).tolist()


def test_parse_base64_int8():
    vec = np.array([1, -2, 3], dtype=np.int8)
    s = encode_query(vec, datatype="int8", base64_payload=True)
    p = parse_query(s)
    assert p.vector.tolist() == [1.0, -2.0, 3.0]


def test_encode_parse_identity_options():
    s = encode_query([1.0, 2.0], resultnum=5, extractmetadata="true")
    p = parse_query(s)
    assert p.result_num == 5 and p.extract_metadata
    assert p.vector.tolist() == [1.0, 2.0]


def test_malformed_option_raises():
    with pytest.raises(ValueError):
        parse_query("$resultnum|1.0|2.0")


def test_execute_queries_per_query_k_and_meta(spark, vectors):
    v0 = vectors.select("vector").first()["vector"]
    v1 = vectors.filter(F.col("id") == 3).select("vector").first()["vector"]
    strings = [
        encode_query(v0, resultnum=2, extractmetadata="true"),
        encode_query(v1, resultnum=4, base64_payload=True),
    ]
    res = execute_queries({"main": vectors}, strings).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[0]) == 2 and len(by_q[1]) == 4
    # q0 asked for metadata, q1 did not
    assert all(r["meta"] is not None for r in by_q[0])
    assert all(r["meta"] is None for r in by_q[1])
    # exact self-match at rank 1
    assert by_q[1][0]["id"] == 3 and by_q[1][0]["dist"] == 0.0


def test_merge_index_remaps_and_drops(spark):
    v1 = spark.createDataFrame(
        [(0, [0.0], "a"), (1, [1.0], "b"), (5, [5.0], "c")],
        "id long, vector array<float>, meta string",
    )
    v2 = spark.createDataFrame(
        [(0, [10.0], "x"), (2, [12.0], "y")],
        "id long, vector array<float>, meta string",
    )
    t1 = spark.createDataFrame([(1,)], "id long")
    t2 = spark.createDataFrame([(0,)], "id long")
    rows = {r["id"]: r["meta"] for r in merge_index(v1, t1, v2, t2).collect()}
    # live1 = {0, 5}; offset = 6; live2 = {2} -> 8
    assert rows == {0: "a", 5: "c", 8: "y"}


def test_tcp_serve_loop(spark):
    """The socket serve loop (SearchService parity, newline framing): a
    client sends wire-format query lines over a real TCP connection and
    gets JSON result lines answered by the store replica — self-hits at
    rank 1, $resultnum honored, malformed input answered with an error
    line instead of a dropped connection, multiple requests per session."""
    import json
    import socket

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import DiskSpannReplica

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 6) for i in range(40)],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.2)
    postings = build_postings(vecs, heads)
    srv = AnnTcpServer(
        DiskSpannReplica(heads, postings), k=3, nprobe=4
    ).start()
    try:
        with socket.create_connection(srv.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            # request 1: plain literal vector — self-hit at rank 1
            f.write(encode_query([7.0] * 6) + "\n")
            f.flush()
            r1 = json.loads(f.readline())
            assert r1["results"][0] == {"rank": 1, "id": 7, "dist": 0.0}
            assert len(r1["results"]) == 3
            # request 2, same session: base64 payload + $resultnum:2
            f.write(
                encode_query([12.0] * 6, base64_payload=True, resultnum=2)
                + "\n"
            )
            f.flush()
            r2 = json.loads(f.readline())
            assert [x["id"] for x in r2["results"]][:1] == [12]
            assert len(r2["results"]) == 2
            # request 3: garbage — error response, connection stays up
            f.write("$datatype:nonsense#zzz\n")
            f.flush()
            assert "error" in json.loads(f.readline())
            f.write(encode_query([0.0] * 6) + "\n")
            f.flush()
            assert json.loads(f.readline())["results"][0]["id"] == 0
    finally:
        srv.stop()


def test_abort_hook_rebuild_and_kmeans(spark):
    """IAbortOperation parity (VectorIndex.h:22-26; ErrorCode::ExternalAbort
    DefinitionList.h:66): a should_abort hook stops a rebuild between
    phases leaving the serving index untouched, and stops the balanced
    k-means iteration loop; None-hook behavior is unchanged."""
    import pytest as _pytest

    from sptag_spark.errors import ExternalAbortError
    from sptag_spark.index.balanced import balanced_kmeans
    from sptag_spark.streaming.spfresh import SpannLiveIndex

    vecs = spark.createDataFrame(
        [(i, [float(i), float(i % 7)]) for i in range(60)],
        "id long, vector array<float>",
    )
    idx = SpannLiveIndex(vecs, rebuild_threshold=10**9)
    old = (idx.heads, idx.postings, idx.builds)
    calls = {"n": 0}

    def abort_second_phase() -> bool:
        calls["n"] += 1
        return calls["n"] >= 2

    with _pytest.raises(ExternalAbortError):
        idx.rebuild(should_abort=abort_second_phase)
    assert (idx.heads, idx.postings, idx.builds) == old  # swap never ran
    idx.rebuild()  # None hook: completes
    assert idx.builds == old[2] + 1

    with _pytest.raises(ExternalAbortError):
        balanced_kmeans(
            vecs, k=4, n_iter=4, should_abort=lambda: True
        ).count()


def test_tcp_server_agrees_with_batch_executor(spark):
    """Tier consistency: the same wire-format query answered by the TCP
    serve loop (store replica, exhaustive nprobe) and by the Spark batch
    executor (exact brute-force knn) must produce identical ids and
    distances — the reference's single SearchIndex semantics regardless of
    entry point."""
    import json
    import socket

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import DiskSpannReplica

    rows = [
        (i, [float((i * 7 + j * 3) % 13) for j in range(5)], str(i))
        for i in range(30)
    ]
    vecs = spark.createDataFrame(
        rows, "id long, vector array<float>, meta string"
    )
    heads = select_heads(vecs.select("id", "vector"), ratio=0.3)
    postings = build_postings(vecs.select("id", "vector"), heads)
    n_heads = heads.count()
    srv = AnnTcpServer(
        DiskSpannReplica(heads, postings), k=4, nprobe=int(n_heads)
    ).start()
    qvecs = [rows[3][1], rows[17][1], [0.5] * 5]
    try:
        with socket.create_connection(srv.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            tcp_res = []
            for qv in qvecs:
                f.write(encode_query(qv) + "\n")
                f.flush()
                tcp_res.append(json.loads(f.readline())["results"])
    finally:
        srv.stop()
    batch = execute_queries(
        {"default": vecs},
        [encode_query(qv) for qv in qvecs],
        default_k=4,
    ).collect()
    for qid, tres in enumerate(tcp_res):
        bres = sorted(
            (r for r in batch if r["query_id"] == qid),
            key=lambda r: r["rank"],
        )
        assert [(x["rank"], x["id"]) for x in tres] == [
            (r["rank"], r["id"]) for r in bres
        ]
        for x, r in zip(tres, bres):
            assert abs(x["dist"] - r["dist"]) < 1e-6


def test_tcp_server_concurrent_clients(spark):
    """N concurrent sessions against one serve loop (the reference's
    connection manager handles many sockets, `src/Socket/Server.cpp`):
    every client gets ITS OWN answers in order on its own connection —
    no cross-session bleed — and shutdown is clean while clients have
    open sockets."""
    import json
    import socket
    import threading

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import DiskSpannReplica

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 6) for i in range(40)],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.2)
    postings = build_postings(vecs, heads)
    srv = AnnTcpServer(
        DiskSpannReplica(heads, postings), k=3, nprobe=4
    ).start()
    n_clients, n_reqs = 8, 12
    failures: list[str] = []

    def session(ci: int) -> None:
        try:
            with socket.create_connection(srv.address, timeout=30) as s:
                f = s.makefile("rw", encoding="utf-8")
                for j in range(n_reqs):
                    target = (ci * 5 + j) % 40  # distinct stream per client
                    f.write(encode_query([float(target)] * 6) + "\n")
                    f.flush()
                    r = json.loads(f.readline())
                    got = r["results"][0]
                    if got["id"] != target or got["dist"] != 0.0:
                        failures.append(
                            f"client {ci} req {j}: want {target} got {got}"
                        )
        except Exception as exc:  # noqa: BLE001
            failures.append(f"client {ci}: {type(exc).__name__}: {exc}")

    threads = [
        threading.Thread(target=session, args=(ci,)) for ci in range(n_clients)
    ]
    held = socket.create_connection(srv.address, timeout=30)  # idle session
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not failures, failures[:5]
        assert not any(t.is_alive() for t in threads)
    finally:
        srv.stop()  # must return promptly even with `held` still open
        held.close()


def test_tcp_server_stop_without_start_returns(spark):
    """Regression: stop() on a never-started server must return instead of
    deadlocking on the serve_forever shutdown event (ADVICE r5)."""
    import threading

    from sptag_spark.server import AnnTcpServer

    class _NullReplica:
        def search_one(self, *a, **kw):
            raise AssertionError("never called")

    srv = AnnTcpServer(_NullReplica())
    t = threading.Thread(target=srv.stop)
    t.start()
    t.join(timeout=5)
    assert not t.is_alive()  # returned, no deadlock


def test_tcp_timeout_option_returns_partial(spark):
    """$timeout:<ms> over the wire: with a sharded-aggregator backend whose
    one shard stalls past the budget, the response carries partial=true and
    still answers from the fast shards; without the option no partial key
    is present (single-replica semantics unchanged)."""
    import json
    import socket
    import time

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import ShardedSpannAggregator

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 6) for i in range(40)],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.2)
    postings = build_postings(vecs, heads)
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)

    class _Slow:
        def __init__(self, inner):
            self.inner = inner

        def search_one(self, *a, **kw):
            time.sleep(1.0)
            return self.inner.search_one(*a, **kw)

    agg.replicas[1] = _Slow(agg.replicas[1])
    srv = AnnTcpServer(agg, k=3, nprobe=4).start()
    try:
        with socket.create_connection(srv.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(encode_query([1.0] * 6, timeout=150) + "\n")
            f.flush()
            r = json.loads(f.readline())
            assert r["partial"] is True
            assert r["results"]  # fast shards still answered
            # generous budget → complete answer, flag present and false
            f.write(encode_query([1.0] * 6, timeout=30000) + "\n")
            f.flush()
            r2 = json.loads(f.readline())
            assert r2["partial"] is False
            assert r2["results"][0]["id"] == 1
            # no $timeout → no partial key (plain scatter-gather path)
            f.write(encode_query([2.0] * 6) + "\n")
            f.flush()
            r3 = json.loads(f.readline())
            assert "partial" not in r3
            assert r3["results"][0]["id"] == 2
    finally:
        srv.stop()
        agg.close()


def test_tcp_server_from_index_shares_warm_replica(spark, tmp_path, monkeypatch):
    """VERDICT r7 #8: AnnTcpServer.from_index serves from the SAME memoized
    replica the planner's warm_replica path uses (one construction per
    index), and defaults nprobe to the committed autotuned point."""
    import json
    import socket

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.plans.planner import warm_replica
    from sptag_spark.server import AnnTcpServer, encode_query

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 6) for i in range(40)],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.2).persist()
    postings = build_postings(vecs, heads).persist()
    postings.count()

    from sptag_spark.plans.planner import index_fingerprint

    fp = index_fingerprint(heads, postings)
    tune = tmp_path / "AUTOTUNE.json"
    tune.write_text(
        json.dumps(
            {
                "chosen": {"nprobe": 5, "replica_count": 4},
                "index_fingerprint": fp,
            }
        )
    )
    monkeypatch.setenv("SPTAG_AUTOTUNE", str(tune))

    rep = warm_replica(heads, postings)
    srv = AnnTcpServer.from_index(heads, postings, k=3)
    assert srv.replica is rep  # one replica, planner and socket tier
    assert srv.nprobe == 5  # autotuned operating point adopted

    # tuned on a DIFFERENT index -> not adopted (ADVICE r8)
    tune.write_text(
        json.dumps(
            {
                "chosen": {"nprobe": 5},
                "index_fingerprint": {**fp, "heads": fp["heads"] + 1},
            }
        )
    )
    assert AnnTcpServer.from_index(heads, postings).nprobe == 8

    # chosen entry without an nprobe key -> guarded, default stands
    # (ADVICE r8: was a KeyError at server construction)
    tune.write_text(
        json.dumps(
            {"chosen": {"replica_count": 4}, "index_fingerprint": fp}
        )
    )
    assert AnnTcpServer.from_index(heads, postings).nprobe == 8
    tune.write_text(
        json.dumps(
            {
                "chosen": {"nprobe": 5, "replica_count": 4},
                "index_fingerprint": fp,
            }
        )
    )
    srv.start()
    try:
        with socket.create_connection(srv.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(encode_query([7.0] * 6) + "\n")
            f.flush()
            r = json.loads(f.readline())
            assert r["results"][0] == {"rank": 1, "id": 7, "dist": 0.0}
    finally:
        srv.stop()

    # explicit kwarg beats the tuned default; absent file -> builtin default
    srv2 = AnnTcpServer.from_index(heads, postings, nprobe=9)
    assert srv2.nprobe == 9 and srv2.replica is rep
    monkeypatch.setenv("SPTAG_AUTOTUNE", str(tmp_path / "missing.json"))
    srv3 = AnnTcpServer.from_index(heads, postings)
    assert srv3.nprobe == 8 and srv3.replica is rep


def test_tcp_server_budget_dispatch_serves_pq(spark):
    """A server built on a warmed PQ replica (warm_pq_replica) serves the
    socket loop from codes + ADC — the compressed-RAM node shape — and
    still answers the wire format correctly."""
    import json
    import socket

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.plans.planner import warm_pq_replica
    from sptag_spark.server import AnnTcpServer, encode_query

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(64)],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.2).persist()
    postings = build_postings(vecs, heads).persist()
    postings.count()
    books = train_pq(vecs, m=4)
    codes = pq_encode(vecs, books).persist()
    codes.count()

    srv = AnnTcpServer(warm_pq_replica(heads, postings, codes, books), k=3)
    assert srv.replica.dispatch_label == "pq_replica"
    srv.start()
    try:
        with socket.create_connection(srv.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(encode_query([9.0] * 8) + "\n")
            f.flush()
            r = json.loads(f.readline())
        # ADC distances are approximate; the id contract holds for an
        # easy self-corpus query
        assert r["results"][0]["id"] in (8, 9, 10)
        assert len(r["results"]) == 3
    finally:
        srv.stop()
    codes.unpersist()


def test_aggregator_tcp_tier(spark, vectors):
    """The Aggregator NODE over real sockets (AggregatorService.cpp
    parity): two shard serve loops + one aggregator front speaking the
    same wire format. Answers equal the in-process ShardedSpannAggregator
    at the same per-shard operating point; $timeout yields deadline
    partials (slow shard dropped, fast shard's answer flagged partial)."""
    import json as _json
    import socket
    import time as _time

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.serving_local import ShardedSpannAggregator
    from sptag_spark.server import (
        AnnTcpServer,
        RemoteReplicaAggregator,
        aggregator_server,
        encode_query,
    )

    heads = select_heads(vectors, ratio=0.12).persist()
    postings = build_postings(vectors, heads).persist()
    postings.count()
    local = ShardedSpannAggregator(heads, postings, n_shards=2)
    nprobe = 6
    shard_srvs = [
        AnnTcpServer(rep, k=10, nprobe=nprobe).start()
        for rep in local.replicas
    ]
    agg = aggregator_server(
        [s.address for s in shard_srvs], k=10
    ).start()
    try:
        q_rows = vectors.limit(5).collect()
        with socket.create_connection(agg.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            for row in q_rows:
                q = [float(v) for v in row["vector"]]
                f.write(encode_query(q, resultnum=10) + "\n")
                f.flush()
                resp = _json.loads(f.readline())
                got = [(r["rank"], r["id"], r["dist"]) for r in resp["results"]]
                import numpy as np

                ids, d = local.search_one(
                    np.asarray(q, dtype=np.float64), k=10, nprobe=nprobe
                )
                exp = [
                    (r + 1, int(i), float(dd))
                    for r, (i, dd) in enumerate(zip(ids, d))
                ]
                assert got == exp
            # deadline partials across REMOTE shards: make shard 0 slow
            slow = local.replicas[0]
            real = slow.search_one

            def lagged(q, *a, **kw):
                _time.sleep(1.0)
                return real(q, *a, **kw)

            slow.search_one = lagged
            try:
                q = [float(v) for v in q_rows[0]["vector"]]
                f.write(
                    encode_query(q, resultnum=10, timeout=150) + "\n"
                )
                f.flush()
                resp = _json.loads(f.readline())
            finally:
                slow.search_one = real
            assert resp["partial"] is True
            fast_ids, fast_d = local.replicas[1].search_one(
                __import__("numpy").asarray(q), k=10, nprobe=nprobe
            )
            assert [r["id"] for r in resp["results"]] == [
                int(i) for i in fast_ids
            ]
        # a crashed backend degrades to partial, not an error: kill shard 0
        shard_srvs[0].stop()
        agg2 = aggregator_server(
            [s.address for s in shard_srvs], k=10
        ).start()
        try:
            with socket.create_connection(agg2.address, timeout=30) as s:
                f = s.makefile("rw", encoding="utf-8")
                q = [float(v) for v in q_rows[0]["vector"]]
                f.write(encode_query(q, resultnum=10, timeout=500) + "\n")
                f.flush()
                resp = _json.loads(f.readline())
            assert resp["partial"] is True and len(resp["results"]) == 10
        finally:
            agg2.replica.close()
            agg2.stop()
    finally:
        agg.replica.close()
        agg.stop()
        for s in shard_srvs[1:]:
            s.stop()
        heads.unpersist()
        postings.unpersist()


def test_remote_shard_reconnects_after_backend_restart(spark, vectors):
    """r10 review: a RemoteShard invalidates its cached per-thread
    connection on failure, so the aggregator recovers when a backend
    comes back (same port) instead of staying poisoned forever."""
    import numpy as np
    import pytest

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, RemoteShard
    from sptag_spark.serving_local import DiskSpannReplica

    heads = select_heads(vectors, ratio=0.12).persist()
    postings = build_postings(vectors, heads).persist()
    postings.count()
    rep = DiskSpannReplica(heads, postings)
    srv = AnnTcpServer(rep, k=5, nprobe=6).start()
    host, port = srv.address
    shard = RemoteShard(host, port)
    q = np.asarray(vectors.limit(1).collect()[0]["vector"], dtype=np.float64)
    try:
        ids1, _ = shard.search_one(q, k=5)
        # the cached connection dies under us (TCP reset / backend
        # restart); the next call must fail ONCE and invalidate...
        import socket as _socket

        shard._local.s.shutdown(_socket.SHUT_RDWR)
        with pytest.raises((ConnectionError, OSError)):
            shard.search_one(q, k=5)
        # ...so this call reconnects to the live backend and answers —
        # without the invalidation the dead socket is cached forever
        ids2, _ = shard.search_one(q, k=5)
        assert ids2.tolist() == ids1.tolist()
    finally:
        shard.close()
        srv.stop()
        heads.unpersist()
        postings.unpersist()


def test_tcp_server_multi_index_map(spark):
    """Multi-index node (`Server/ServiceContext.cpp` index map +
    `SearchExecutor::SelectIndex`): $indexname:a,b searches each named
    index and the response carries per-index result sets; unknown names
    are silently skipped; with NO $indexname, only a singleton map
    selects (a multi-index node answers empty, like the reference)."""
    import json
    import socket

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer
    from sptag_spark.serving_local import DiskSpannReplica

    def mk(base):
        vecs = spark.createDataFrame(
            [(base + i, [float(base + i)] * 6) for i in range(30)],
            "id long, vector array<float>",
        )
        heads = select_heads(vecs, ratio=0.2)
        return DiskSpannReplica(heads, build_postings(vecs, heads))

    rep_a, rep_b = mk(0), mk(1000)
    srv = AnnTcpServer({"a": rep_a, "b": rep_b}, k=3, nprobe=4).start()
    try:
        with socket.create_connection(srv.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")

            def ask(line):
                f.write(line + "\n")
                f.flush()
                return json.loads(f.readline())

            # one named index → that index only; results mirrors it
            r = ask(encode_query([5.0] * 6, indexname="a"))
            assert [e["index"] for e in r["indexResults"]] == ["a"]
            assert r["results"][0]["id"] == 5
            # both → two result sets, each with its own nearest
            r = ask(encode_query([1005.0] * 6, indexname="a,b"))
            assert [e["index"] for e in r["indexResults"]] == ["a", "b"]
            assert r["indexResults"][1]["results"][0] == {
                "rank": 1, "id": 1005, "dist": 0.0,
            }
            assert r["indexResults"][0]["results"][0]["id"] == 29  # a's max
            # unknown names skipped (SelectIndex's find-miss continue)
            r = ask(encode_query([5.0] * 6, indexname="zzz,b"))
            assert [e["index"] for e in r["indexResults"]] == ["b"]
            # ALL-unknown names → empty, but with an explanatory hint
            # naming the hosted indexes (a client typo must not read as
            # "no neighbors"; r10 advice)
            r = ask(encode_query([5.0] * 6, indexname="zzz"))
            assert r["indexResults"] == [] and r["results"] == []
            assert "zzz" in r["hint"] and "a,b" in r["hint"]
            # no $indexname on a 2-index node → nothing selected
            r = ask(encode_query([5.0] * 6))
            assert r["indexResults"] == [] and r["results"] == []
            assert "$indexname" in r["hint"]
    finally:
        srv.stop()
    # a SINGLETON map selects without $indexname (SelectIndex size()==1)
    srv1 = AnnTcpServer({"only": rep_a}, k=3, nprobe=4).start()
    try:
        with socket.create_connection(srv1.address, timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(encode_query([5.0] * 6) + "\n")
            f.flush()
            r = json.loads(f.readline())
            assert r["results"][0] == {"rank": 1, "id": 5, "dist": 0.0}
            assert [e["index"] for e in r["indexResults"]] == ["only"]
    finally:
        srv1.stop()


def test_remote_batch_pipelining(spark, vectors):
    """The network tier's batch paths: RemoteShard.batch_search pipelines
    every query line before reading any response (rows identical to a
    search_one loop over the same shard), and
    RemoteReplicaAggregator.batch_search scatters the batch to all
    backends and merges identically to its own search_one loop."""
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import (
        AnnTcpServer,
        RemoteReplicaAggregator,
        RemoteShard,
    )
    from sptag_spark.serving_local import ShardedSpannAggregator

    heads = select_heads(vectors, ratio=0.12).persist()
    postings = build_postings(vectors, heads).persist()
    postings.count()
    local = ShardedSpannAggregator(heads, postings, n_shards=2)
    srvs = [
        AnnTcpServer(rep, k=10, nprobe=6).start() for rep in local.replicas
    ]
    agg = RemoteReplicaAggregator([s.address for s in srvs])
    try:
        qs = [
            (int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
            for r in vectors.limit(12).collect()
        ]
        shard = RemoteShard(*srvs[0].address)
        try:
            got = shard.batch_search(qs, k=5)
            want = []
            for qid, q in qs:
                ids, d = shard.search_one(q, k=5)
                want.extend(
                    (qid, r + 1, int(i), float(dd))
                    for r, (i, dd) in enumerate(zip(ids, d))
                )
            assert got == want
            assert shard.batch_search([], k=5) == []
        finally:
            shard.close()
        got = agg.batch_search(qs, k=5)
        want = []
        for qid, q in qs:
            ids, d = agg.search_one(q, k=5)
            want.extend(
                (qid, r + 1, int(i), float(dd))
                for r, (i, dd) in enumerate(zip(ids, d))
            )
        assert got == want
        # the batch answer equals the in-process aggregator's (same index,
        # same merge), modulo each node's configured k/nprobe being equal
        in_proc = local.batch_search(qs, k=5, nprobe=6)
        assert got == in_proc
    finally:
        agg.close()
        for s in srvs:
            s.stop()
        heads.unpersist()
        postings.unpersist()


def test_remote_center_routed_scatter(spark):
    """The network aggregator honors centers + scatter_topk (the
    reference's Aggregator.ini TopK/Centers mode): a query near one
    backend's center is answered by that backend alone; mismatched center
    count is rejected like the reference's count gate."""
    import pytest as _pytest

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, RemoteReplicaAggregator
    from sptag_spark.serving_local import DiskSpannReplica

    def mk(base):
        vecs = spark.createDataFrame(
            [(base + i, [float(base + i)] * 4) for i in range(20)],
            "id long, vector array<float>",
        )
        heads = select_heads(vecs, ratio=0.2)
        return DiskSpannReplica(heads, build_postings(vecs, heads))

    srvs = [AnnTcpServer(mk(b), k=5, nprobe=4).start() for b in (0, 500)]
    centers = np.array([[10.0] * 4, [510.0] * 4])
    agg = RemoteReplicaAggregator(
        [s.address for s in srvs], centers=centers, scatter_topk=1
    )
    try:
        ids, d = agg.search_one(np.array([507.0] * 4), k=5)
        assert all(int(i) >= 500 for i in ids)
        rows = agg.batch_search(
            [(0, np.array([3.0] * 4)), (1, np.array([503.0] * 4))], k=3
        )
        by_q = {}
        for qid, rank, i, dd in rows:
            by_q.setdefault(qid, []).append(i)
        assert all(i < 500 for i in by_q[0])
        assert all(i >= 500 for i in by_q[1])
    finally:
        agg.close()
        for s in srvs:
            s.stop()
    with _pytest.raises(ValueError):
        RemoteReplicaAggregator(
            [("h", 1), ("h", 2)], centers=np.array([[0.0] * 4]),
            scatter_topk=1,
        )


def test_remote_batch_error_drains_and_connection_survives(spark, vectors):
    """r10 review: an error RESPONSE inside a pipelined batch must drain
    the window's remaining responses before raising, so the persistent
    connection stays request/response-synced — the next query on the same
    shard answers correctly instead of reading a stale response."""
    import pytest as _pytest

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, RemoteShard
    from sptag_spark.serving_local import DiskSpannReplica

    heads = select_heads(vectors, ratio=0.12)
    srv = AnnTcpServer(
        DiskSpannReplica(heads, build_postings(vectors, heads)),
        k=5, nprobe=6,
    ).start()
    shard = RemoteShard(*srv.address)
    try:
        rows = [
            (int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
            for r in vectors.limit(3).collect()
        ]
        bad = [rows[0], (99, np.zeros(2)), rows[1]]  # wrong dimension
        with _pytest.raises(RuntimeError):
            shard.batch_search(bad, k=5)
        # the connection is still synced: a fresh query answers itself
        qid, q = rows[2]
        ids, d = shard.search_one(q, k=5)
        assert int(ids[0]) == qid and d[0] == 0.0
    finally:
        shard.close()
        srv.stop()


def test_remote_batch_pipeline_windowing(spark, vectors, monkeypatch):
    """The pipeline window (_PIPELINE_CHUNK) bounds in-flight responses;
    window boundaries must not change a single row."""
    import sptag_spark.server as srv_mod
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, RemoteShard
    from sptag_spark.serving_local import DiskSpannReplica

    heads = select_heads(vectors, ratio=0.12)
    srv = AnnTcpServer(
        DiskSpannReplica(heads, build_postings(vectors, heads)),
        k=5, nprobe=6,
    ).start()
    shard = RemoteShard(*srv.address)
    try:
        qs = [
            (int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
            for r in vectors.limit(10).collect()
        ]
        want = shard.batch_search(qs, k=5)
        monkeypatch.setattr(srv_mod, "_PIPELINE_CHUNK", 3)
        assert shard.batch_search(qs, k=5) == want
    finally:
        shard.close()
        srv.stop()


def test_remote_batch_deadline_partials(spark, vectors):
    """The network tier's batched deadline: generous budget == the plain
    batch scatter unflagged; a killed backend folds into a partial merge
    instead of failing the whole batch."""
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, RemoteReplicaAggregator
    from sptag_spark.serving_local import ShardedSpannAggregator

    heads = select_heads(vectors, ratio=0.12).persist()
    postings = build_postings(vectors, heads).persist()
    postings.count()
    local = ShardedSpannAggregator(heads, postings, n_shards=2)
    srvs = [
        AnnTcpServer(rep, k=10, nprobe=6).start() for rep in local.replicas
    ]
    agg = RemoteReplicaAggregator([s.address for s in srvs])
    try:
        qs = [
            (int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
            for r in vectors.limit(6).collect()
        ]
        rows, partial = agg.batch_search_with_deadline(
            qs, k=5, budget_ms=20_000.0
        )
        assert not partial and rows == agg.batch_search(qs, k=5)
        srvs[1].stop()  # killed backend → partial, not an exception
        rows, partial = agg.batch_search_with_deadline(
            qs, k=5, budget_ms=2_000.0
        )
        assert partial
        assert rows  # the surviving shard still answers
    finally:
        agg.close()
        for s in srvs:
            s.stop()
        heads.unpersist()
        postings.unpersist()


def test_pipeline_window_byte_budget():
    """The pipeline window is RESPONSE-byte bounded, not a fixed query
    count: large resultnum shrinks the window so unread bytes per window
    stay under the budget at any k (r10 advice)."""
    from sptag_spark.server import (
        _EST_RESULT_ROW_BYTES,
        _PIPELINE_BYTE_BUDGET,
        _PIPELINE_CHUNK,
        _pipeline_window,
    )

    for k in (1, 10, 100, 1000, 100_000):
        w = _pipeline_window(k)
        assert 1 <= w <= _PIPELINE_CHUNK
        # estimated unread bytes per window stay under budget (unless
        # a single response alone exceeds it — then window is 1)
        if w > 1:
            assert w * k * _EST_RESULT_ROW_BYTES <= _PIPELINE_BYTE_BUDGET
    assert _pipeline_window(1) == _PIPELINE_CHUNK  # tiny k → full chunk
    assert _pipeline_window(100_000) == 1  # huge k → one in flight


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_route_to_shards_empty_center_guard():
    """Empty shards carry +inf sentinel centers; for ip/cosine the dot
    product can go NaN (inf*0). The never-route-to-empty invariant must
    hold by explicit guard, not lexsort's NaN-last detail (r10 advice)."""
    from sptag_spark.serving_local import route_to_shards

    centers = np.array(
        [[1.0, 0.0], [np.inf, np.inf], [0.0, 1.0], [np.inf, np.inf]]
    )
    q = np.array([0.0, 1.0])  # zero component meets inf → inf*0 = nan
    for metric in ("l2", "ip", "cosine"):
        sel = route_to_shards(centers, 2, q, metric, 4)
        assert set(sel) <= {0, 2}, (metric, sel)
