"""CLI parity layer (IndexBuilder / IndexSearcher / Quantizer mains)."""

from __future__ import annotations

import argparse
import json
import os

import numpy as np


def _write_txt(path, X, prefix):
    with open(path, "w") as f:
        for i, row in enumerate(X):
            f.write(
                f"{prefix}{i}\t" + "|".join(f"{v:.5f}" for v in row) + "\n"
            )


def test_cli_build_search_quantize_roundtrip(spark, tmp_path, capsys):
    from sptag_spark.cli import cmd_build, cmd_quantize, cmd_search

    rng = np.random.default_rng(5)
    X = rng.normal(size=(200, 8)).astype("float32")
    corpus = str(tmp_path / "corpus.tsv")
    queries = str(tmp_path / "queries.tsv")
    _write_txt(corpus, X, "m")
    q_rows = X[[i * 9 for i in range(8)]]
    _write_txt(queries, q_rows, "q")
    # TXT truth: exact self-neighbor first (queries are corpus rows)
    truth = str(tmp_path / "truth.txt")
    D = ((X[:, None, :] - q_rows[None, :, :]) ** 2).sum(-1)  # (n, q)
    with open(truth, "w") as f:
        for j in range(len(q_rows)):
            top = np.lexsort((np.arange(len(X)), D[:, j]))[:5]
            f.write(" ".join(str(int(i)) for i in top) + "\n")

    idx = str(tmp_path / "idx")
    rc = cmd_build(
        argparse.Namespace(
            input=corpus, output=idx, algo="SPANN",
            valuetype="float32", filetype="TXT", delimiter="|",
            overrides=["SelectHead.Ratio=0.2", "Index.ReplicaCount=4"],
        ),
        spark,
    )
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["vectors"] == 200 and built["config"]["replica_count"] == 4
    assert os.path.isdir(os.path.join(idx, "postings"))

    result = str(tmp_path / "result.txt")
    rc = cmd_search(
        argparse.Namespace(
            input=queries, index=idx, truth=truth, result=result,
            k=5, truthk=5, maxcheck=4096, withmeta=True,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["queries"] == 8
    assert report["recall_at_k"] >= 0.9, report
    lines = open(result).read().splitlines()
    # reference shape (IndexSearcher/main.cpp:280-310):
    # "<qmeta-or-qid>:<dist>@<label>|" × k, trailing '|' on every cell
    assert len(lines) == 8
    assert all(l.endswith("|") and l.count("|") == 5 for l in lines)
    # --withmeta labels neighbors by metadata; query j is corpus row 9j,
    # whose self-hit must lead its line at distance 0
    prefix0, _, rest0 = lines[0].partition(":")
    assert rest0.split("|")[0] == "0.000000@m0", lines[0]
    assert lines[1].partition(":")[2].split("|")[0] == "0.000000@m9"

    out = str(tmp_path / "pq")
    rc = cmd_quantize(
        argparse.Namespace(
            input=corpus, output=out, qt="PQQuantizer", qd=4,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    )
    assert rc == 0
    assert os.path.isfile(os.path.join(out, "quantizer", "codebooks.npy"))
    codes = spark.read.parquet(os.path.join(out, "codes"))
    assert codes.count() == 200

    # -pq: quantized build stores the quantizer + codes beside the index
    capsys.readouterr()
    idx2 = str(tmp_path / "idx_q")
    assert cmd_build(
        argparse.Namespace(
            input=corpus, output=idx2, algo="SPANN", quantizer=out,
            valuetype="float32", filetype="TXT", delimiter="|",
            overrides=["SelectHead.Ratio=0.2"],
        ),
        spark,
    ) == 0
    assert os.path.isfile(
        os.path.join(idx2, "quantizer", "codebooks.npy")
    )
    assert spark.read.parquet(os.path.join(idx2, "codes")).count() == 200


def test_cli_bkt_graph_index_roundtrip(spark, tmp_path, capsys):
    from sptag_spark.cli import cmd_build, cmd_search

    rng = np.random.default_rng(9)
    X = rng.normal(size=(150, 6)).astype("float32")
    corpus = str(tmp_path / "c.tsv")
    queries = str(tmp_path / "q.tsv")
    _write_txt(corpus, X, "d")
    _write_txt(queries, X[:5], "q")
    idx = str(tmp_path / "bkt")
    assert cmd_build(
        argparse.Namespace(
            input=corpus, output=idx, algo="BKT",
            valuetype="float32", filetype="TXT", delimiter="|",
            overrides=[],
        ),
        spark,
    ) == 0
    assert os.path.isdir(os.path.join(idx, "graph_edges"))
    capsys.readouterr()
    assert cmd_search(
        argparse.Namespace(
            input=queries, index=idx, truth=None, result=None,
            k=3, truthk=None, maxcheck=None, withmeta=False,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    ) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["queries"] == 5 and report["k"] == 3


def test_cli_gentruth_and_serve(spark, tmp_path, capsys):
    import socket

    from sptag_spark.cli import cmd_build, cmd_search, cmd_serve

    rng = np.random.default_rng(3)
    X = rng.normal(size=(120, 6)).astype("float32")
    corpus = str(tmp_path / "c.tsv")
    queries = str(tmp_path / "q.tsv")
    _write_txt(corpus, X, "m")
    _write_txt(queries, X[:4], "q")
    idx = str(tmp_path / "idx")
    cmd_build(
        argparse.Namespace(
            input=corpus, output=idx, algo="SPANN",
            valuetype="float32", filetype="TXT", delimiter="|",
            overrides=["SelectHead.Ratio=0.2"],
        ),
        spark,
    )
    capsys.readouterr()

    # -g: exact truth written, then consumed by a scored search run
    truth = str(tmp_path / "truth.txt")
    assert cmd_search(
        argparse.Namespace(
            input=queries, index=idx, truth=None, result=None,
            k=3, truthk=3, maxcheck=None, withmeta=False, gentruth=truth,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    ) == 0
    lines = open(truth).read().splitlines()
    assert len(lines) == 4
    # query j IS corpus row j -> truth rank 1 is the self id
    assert [int(l.split()[0]) for l in lines] == [0, 1, 2, 3]
    capsys.readouterr()
    assert cmd_search(
        argparse.Namespace(
            input=queries, index=idx, truth=truth, result=None,
            k=3, truthk=3, maxcheck=None, withmeta=False, gentruth=None,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    ) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["recall_at_k"] >= 0.9

    # serve: answers the wire format from the shared warm replica
    import threading

    from sptag_spark.server import encode_query

    ns = argparse.Namespace(index=idx, host="127.0.0.1", port=0, k=3,
                            duration=25.0)
    t = threading.Thread(target=cmd_serve, args=(ns, spark), daemon=True)
    t.start()
    import time as _t

    addr = None
    for _ in range(80):
        out = capsys.readouterr().out
        for line in out.splitlines():
            if '"serving"' in line:
                addr = tuple(json.loads(line)["serving"])
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "serve never reported its address"
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query([float(v) for v in X[2]]) + "\n")
        f.flush()
        r = json.loads(f.readline())
    # corpus TSV rounds to 5 decimals; the wire query carries full float32
    assert r["results"][0]["id"] == 2 and r["results"][0]["dist"] < 1e-6

    # client subcommand drives the same loop from a query file
    from sptag_spark.cli import cmd_client

    res_file = str(tmp_path / "client_out.jsonl")
    assert cmd_client(
        argparse.Namespace(
            input=queries, host=addr[0], port=int(addr[1]), k=2,
            result=res_file,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    ) == 0
    lines = [json.loads(l) for l in open(res_file)]
    assert len(lines) == 4
    assert all(len(l["results"]) == 2 for l in lines)
    assert lines[0]["results"][0]["id"] == 0  # query 0 is corpus row 0
    t.join(timeout=30)


def test_cli_aggserve(spark, capsys):
    """`cli aggserve -b host:port,host:port` fronts running serve loops
    with the same wire format (Aggregator/main.cpp parity)."""
    import argparse
    import json
    import socket
    import threading
    import time as _t

    from sptag_spark.cli import cmd_aggserve
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, encode_query
    from sptag_spark.serving_local import ShardedSpannAggregator
    from sptag_spark.tables import vectors_table

    v = vectors_table(spark, "/root/testdata/sf0.001")
    heads = select_heads(v, ratio=0.12).persist()
    postings = build_postings(v, heads).persist()
    postings.count()
    local = ShardedSpannAggregator(heads, postings, n_shards=2)
    srvs = [AnnTcpServer(rep, k=5, nprobe=6).start() for rep in local.replicas]
    ns = argparse.Namespace(
        backends=",".join(f"{h}:{p}" for h, p in (s.address for s in srvs)),
        config=None, host="127.0.0.1", port=0, k=5, duration=20.0,
    )
    t = threading.Thread(target=cmd_aggserve, args=(ns, spark), daemon=True)
    t.start()
    addr = None
    for _ in range(80):
        for line in capsys.readouterr().out.splitlines():
            if '"aggregating"' in line:
                addr = tuple(json.loads(line)["aggregating"])
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "aggserve never reported its address"
    row = v.limit(1).collect()[0]
    q = [float(x) for x in row["vector"]]
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query(q) + "\n")
        f.flush()
        resp = json.loads(f.readline())
    assert resp["results"][0]["id"] == int(row["id"])
    assert resp["results"][0]["dist"] == 0.0
    for s2 in srvs:
        s2.stop()
    heads.unpersist()
    postings.unpersist()


def test_load_aggregator_ini(tmp_path):
    """load_aggregator_ini parses the reference's Aggregator.ini shape
    (AggregatorContext.cpp:30-55): [Service] knobs, [Servers] Number,
    [Server_<i>] sections — incomplete server sections are skipped like
    the reference's empty-address continue."""
    from sptag_spark.server import load_aggregator_ini

    p = tmp_path / "Aggregator.ini"
    p.write_text(
        "[Service]\n"
        "ListenAddr=127.0.0.1\n"
        "ListenPort=8123\n"
        "TopK=7\n"
        "[Servers]\n"
        "Number=3\n"
        "[Server_0]\n"
        "Address=10.0.0.1\n"
        "Port=8000\n"
        "[Server_1]\n"
        "Address=\n"
        "Port=8001\n"
        "[Server_2]\n"
        "Address=10.0.0.3\n"
        "Port=8002\n"
    )
    cfg = load_aggregator_ini(str(p))
    assert cfg["host"] == "127.0.0.1" and cfg["port"] == 8123
    # TopK is the CENTER-ROUTED SCATTER fan-out (number of nearest
    # servers a query goes to, AggregatorService.cpp:215-258) — not a
    # result count
    assert cfg["scatter_topk"] == 7
    assert cfg["backends"] == [("10.0.0.1", 8000), ("10.0.0.3", 8002)]
    # defaults when sections are absent (reference defaults 0.0.0.0:8100,
    # TopK -1 = broadcast, Centers "centers")
    (tmp_path / "empty.ini").write_text("")
    cfg = load_aggregator_ini(str(tmp_path / "empty.ini"))
    assert cfg == {
        "host": "0.0.0.0", "port": 8100, "scatter_topk": -1,
        "centers": "centers", "backends": [],
    }


def test_cli_aggserve_ini_config(spark, capsys, tmp_path):
    """`cli aggserve --config Aggregator.ini` boots the aggregator node
    from the reference's own config file shape — no flags needed."""
    import argparse
    import json
    import socket
    import threading
    import time as _t

    from sptag_spark.cli import cmd_aggserve
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, encode_query
    from sptag_spark.serving_local import ShardedSpannAggregator
    from sptag_spark.tables import vectors_table

    v = vectors_table(spark, "/root/testdata/sf0.001")
    heads = select_heads(v, ratio=0.12).persist()
    postings = build_postings(v, heads).persist()
    postings.count()
    local = ShardedSpannAggregator(heads, postings, n_shards=2)
    srvs = [AnnTcpServer(rep, k=5, nprobe=6).start() for rep in local.replicas]
    # TopK=-1 (the reference default): broadcast, no Centers file needed
    # — TopK>0 without a readable Centers file is FATAL
    # (AggregatorContext.cpp:66-68), covered separately below
    lines = [
        "[Service]", "ListenAddr=127.0.0.1", "ListenPort=0", "TopK=-1",
        "[Servers]", f"Number={len(srvs)}",
    ]
    for i, s in enumerate(srvs):
        h, p = s.address
        lines += [f"[Server_{i}]", f"Address={h}", f"Port={p}"]
    ini = tmp_path / "Aggregator.ini"
    ini.write_text("\n".join(lines) + "\n")
    ns = argparse.Namespace(
        backends=None, config=str(ini), host=None, port=None, k=None,
        duration=20.0,
    )
    t = threading.Thread(target=cmd_aggserve, args=(ns, spark), daemon=True)
    t.start()
    addr = None
    for _ in range(80):
        for line in capsys.readouterr().out.splitlines():
            if '"aggregating"' in line:
                addr = tuple(json.loads(line)["aggregating"])
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "aggserve never reported its address"
    row = v.limit(1).collect()[0]
    q = [float(x) for x in row["vector"]]
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query(q) + "\n")
        f.flush()
        resp = json.loads(f.readline())
    assert resp["results"][0]["id"] == int(row["id"])
    assert resp["results"][0]["dist"] == 0.0
    for s2 in srvs:
        s2.stop()
    heads.unpersist()
    postings.unpersist()


def test_cli_serve_multi_index(spark, tmp_path, capsys):
    """`cli serve -x a=path1 -x b=path2` hosts a multi-index node
    (ServiceContext map); $indexname routes queries to a member."""
    import socket
    import threading
    import time as _t

    from sptag_spark.cli import cmd_build, cmd_serve
    from sptag_spark.server import encode_query

    rng = np.random.default_rng(11)
    idxs = {}
    for name, base in (("a", 0.0), ("b", 100.0)):
        X = (rng.normal(size=(60, 6)) + base).astype("float32")
        corpus = str(tmp_path / f"{name}.tsv")
        _write_txt(corpus, X, name)
        idx = str(tmp_path / f"idx_{name}")
        assert cmd_build(
            argparse.Namespace(
                input=corpus, output=idx, algo="SPANN",
                valuetype="float32", filetype="TXT", delimiter="|",
                overrides=["SelectHead.Ratio=0.2"],
            ),
            spark,
        ) == 0
        idxs[name] = (idx, X)
    capsys.readouterr()
    ns = argparse.Namespace(
        index=[f"a={idxs['a'][0]}", f"b={idxs['b'][0]}"],
        host="127.0.0.1", port=0, k=3, duration=25.0, memory_budget=None,
    )
    t = threading.Thread(target=cmd_serve, args=(ns, spark), daemon=True)
    t.start()
    addr = None
    for _ in range(80):
        for line in capsys.readouterr().out.splitlines():
            if '"serving"' in line:
                info = json.loads(line)
                addr = tuple(info["serving"])
                assert info["indexes"] == ["a", "b"]
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "serve never reported its address"
    # the TSV writer truncates to 5 decimals — query what the index stored
    qb = [float(f"{v:.5f}") for v in idxs["b"][1][3]]
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query(qb, indexname="b") + "\n")
        f.flush()
        resp = json.loads(f.readline())
    assert [e["index"] for e in resp["indexResults"]] == ["b"]
    # float32 parquet storage vs the float64 decimal query → ~1e-11 self-dist
    assert resp["results"][0]["id"] == 3
    assert resp["results"][0]["dist"] < 1e-9


def test_load_server_ini(tmp_path):
    """load_server_ini parses the reference's Server boot config
    (ServiceContext.cpp:24-58): [Service]/[QueryConfig] knobs and the
    [Index] List → [Index_<name>] IndexFolder map; names whose section
    lacks IndexFolder are skipped."""
    from sptag_spark.server import load_server_ini

    p = tmp_path / "Server.ini"
    p.write_text(
        "[Service]\n"
        "ListenAddr=127.0.0.1\n"
        "ListenPort=8765\n"
        "[QueryConfig]\n"
        "DefaultMaxResultNumber=6\n"
        "[Index]\n"
        "List=a,b,ghost\n"
        "[Index_a]\n"
        "IndexFolder=/data/idx_a\n"
        "[Index_b]\n"
        "IndexFolder=/data/idx_b\n"
        "[Index_ghost]\n"
        "SomethingElse=1\n"
    )
    cfg = load_server_ini(str(p))
    assert cfg["host"] == "127.0.0.1" and cfg["port"] == 8765
    assert cfg["k"] == 6
    assert cfg["indexes"] == {"a": "/data/idx_a", "b": "/data/idx_b"}
    (tmp_path / "empty.ini").write_text("")
    assert load_server_ini(str(tmp_path / "empty.ini")) == {
        "host": "0.0.0.0", "port": 8000, "k": 10, "indexes": {},
    }


def test_cli_serve_from_server_ini(spark, tmp_path, capsys):
    """`cli serve --config Server.ini` boots the node entirely from the
    reference's service config — index map, port, and k."""
    import socket
    import threading
    import time as _t

    from sptag_spark.cli import cmd_build, cmd_serve
    from sptag_spark.server import encode_query

    rng = np.random.default_rng(13)
    X = rng.normal(size=(50, 6)).astype("float32")
    corpus = str(tmp_path / "c.tsv")
    _write_txt(corpus, X, "m")
    idx = str(tmp_path / "idx")
    assert cmd_build(
        argparse.Namespace(
            input=corpus, output=idx, algo="SPANN",
            valuetype="float32", filetype="TXT", delimiter="|",
            overrides=["SelectHead.Ratio=0.2"],
        ),
        spark,
    ) == 0
    ini = tmp_path / "Server.ini"
    ini.write_text(
        "[Service]\nListenAddr=127.0.0.1\nListenPort=0\n"
        "[QueryConfig]\nDefaultMaxResultNumber=4\n"
        "[Index]\nList=main\n"
        f"[Index_main]\nIndexFolder={idx}\n"
    )
    capsys.readouterr()
    ns = argparse.Namespace(
        index=None, config=str(ini), host=None, port=None, k=None,
        duration=25.0, memory_budget=None,
    )
    t = threading.Thread(target=cmd_serve, args=(ns, spark), daemon=True)
    t.start()
    addr = None
    for _ in range(80):
        for line in capsys.readouterr().out.splitlines():
            if '"serving"' in line:
                info = json.loads(line)
                addr = tuple(info["serving"])
                # a SINGLE-index config boots the single-index path (same
                # autotuned operating point + budget ladder as -x PATH —
                # r10 review: --config must not serve at a different
                # operating point), carrying QueryConfig's k
                assert info["k"] == 4 and "replica" in info
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "serve never reported its address"
    q = [float(f"{v:.5f}") for v in X[7]]
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query(q) + "\n")
        f.flush()
        resp = json.loads(f.readline())
    assert resp["results"][0]["id"] == 7
    assert resp["results"][0]["dist"] < 1e-9
    assert len(resp["results"]) == 4


def test_cli_aggserve_center_routed(spark, capsys, tmp_path):
    """`cli aggserve --config` with [Service] TopK + a Centers vector
    file (DEFAULT binary, one center per backend) boots the reference's
    center-routed mode: each query is answered by its nearest backend
    only."""
    import socket
    import struct
    import threading
    import time as _t

    from sptag_spark.cli import cmd_aggserve
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.server import AnnTcpServer, encode_query
    from sptag_spark.serving_local import DiskSpannReplica

    def mk(base):
        vecs = spark.createDataFrame(
            [(base + i, [float(base + i)] * 4) for i in range(20)],
            "id long, vector array<float>",
        )
        heads = select_heads(vecs, ratio=0.2)
        return DiskSpannReplica(heads, build_postings(vecs, heads))

    srvs = [AnnTcpServer(mk(b), k=5, nprobe=4).start() for b in (0, 500)]
    centers = np.array([[10.0] * 4, [510.0] * 4], dtype=np.float32)
    cpath = tmp_path / "centers.bin"
    with open(cpath, "wb") as f:
        f.write(struct.pack("<ii", *centers.shape))
        centers.tofile(f)
    lines = [
        "[Service]", "ListenAddr=127.0.0.1", "ListenPort=0",
        "TopK=1", f"Centers={cpath}",
        "[Servers]", f"Number={len(srvs)}",
    ]
    for i, s in enumerate(srvs):
        h, p = s.address
        lines += [f"[Server_{i}]", f"Address={h}", f"Port={p}"]
    ini = tmp_path / "Aggregator.ini"
    ini.write_text("\n".join(lines) + "\n")
    ns = argparse.Namespace(
        backends=None, config=str(ini), host=None, port=None, k=5,
        duration=20.0,
    )
    t = threading.Thread(target=cmd_aggserve, args=(ns, spark), daemon=True)
    t.start()
    addr = None
    for _ in range(80):
        for line in capsys.readouterr().out.splitlines():
            if '"aggregating"' in line:
                info = json.loads(line)
                addr = tuple(info["aggregating"])
                assert info["scatter_topk"] == 1
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "aggserve never reported its address"
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query([507.0] * 4) + "\n")
        f.flush()
        r1 = json.loads(f.readline())
        f.write(encode_query([3.0] * 4) + "\n")
        f.flush()
        r2 = json.loads(f.readline())
    assert all(e["id"] >= 500 for e in r1["results"])
    assert all(e["id"] < 500 for e in r2["results"])
    for s2 in srvs:
        s2.stop()


def test_cli_aggserve_missing_centers_fatal(spark, capsys, tmp_path):
    """[Service] TopK>0 with a missing Centers file is a FATAL
    misconfiguration (AggregatorContext.cpp:66-68 logs and exit(1)) —
    a silent broadcast fallback would quietly drop the operator's
    fan-out bound (r10 advice)."""
    import argparse

    from sptag_spark.cli import cmd_aggserve

    ini = tmp_path / "Aggregator.ini"
    ini.write_text(
        "[Service]\nListenAddr=127.0.0.1\nListenPort=0\nTopK=1\n"
        "Centers=/nonexistent/centers.bin\n"
        "[Servers]\nNumber=1\n[Server_0]\nAddress=127.0.0.1\nPort=9\n"
    )
    ns = argparse.Namespace(
        backends=None, config=str(ini), host=None, port=None, k=None,
        duration=0.1,
    )
    rc = cmd_aggserve(ns, spark)
    assert rc == 1
    err = capsys.readouterr().err
    assert "TopK" in err and "Centers" in err.replace("centers", "Centers")


def test_cli_partition_roundtrip(spark, tmp_path, capsys):
    """BalancedDataPartition journey (main.cpp:151-241 output parity):
    `cli partition --build` writes per-shard files + a DEFAULT-binary
    Centers file + an Aggregator.ini; serve loops host the per-shard
    indexes at the ini's ports; `cli aggserve --config` boots the ini
    UNMODIFIED with center routing (TopK=1) — and routed results equal a
    broadcast aggregator's on the clustered corpus."""
    import json as _json
    import socket
    import threading
    import time as _t

    from sptag_spark.cli import cmd_aggserve, cmd_partition, cmd_serve
    from sptag_spark.io.readers import read_binary_vectors
    from sptag_spark.server import encode_query

    rng = np.random.default_rng(21)
    sites = np.array(
        [[0.0] * 6, [500.0] * 6, [-500.0, 500.0, -500.0, 500.0, -500.0, 500.0]]
    )
    X = np.vstack(
        [s + rng.normal(scale=0.3, size=(60, 6)) for s in sites]
    ).astype("float32")
    corpus = str(tmp_path / "corpus.tsv")
    _write_txt(corpus, X, "m")
    out = str(tmp_path / "part")
    bp = 21000 + (os.getpid() % 1500) * 3
    rc = cmd_partition(
        argparse.Namespace(
            input=corpus, output=out, nparts=3, penalty=None, topk=1,
            host="127.0.0.1", port=0, base_port=bp, build=True,
            valuetype="float32", filetype="TXT", delimiter="|",
        ),
        spark,
    )
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(rep["sizes"]) == 180 and min(rep["sizes"]) > 0
    assert len(rep["indexes"]) == 3
    # the centers file is reference DEFAULT binary (trailing
    # lambda/diff/mindist/noimprovement record skipped by the header)
    C = read_binary_vectors(spark, rep["centers"], "default").collect()
    assert len(C) == 3 and len(C[0]["vector"]) == 6
    # host each shard index at the ini's Server_<i> port
    threads = []
    for i, idx_dir in enumerate(rep["indexes"]):
        ns = argparse.Namespace(
            index=[idx_dir], config=None, host="127.0.0.1", port=bp + i,
            k=None, duration=60.0, memory_budget=None,
        )
        t = threading.Thread(target=cmd_serve, args=(ns, spark), daemon=True)
        t.start()
        threads.append(t)

    seen: list[str] = []

    def wait_addrs(key, want):
        for _ in range(240):
            seen.extend(capsys.readouterr().out.splitlines())
            got = [
                tuple(_json.loads(ln)[key])
                for ln in seen
                if f'"{key}"' in ln
            ]
            if len(got) >= want:
                return got
            _t.sleep(0.25)
        raise AssertionError(f"saw {len(got)} {key} lines, want {want}")

    wait_addrs("serving", 3)
    # routed aggregator: boots the GENERATED ini unmodified
    ns = argparse.Namespace(
        backends=None, config=rep["ini"], host=None, port=None, k=None,
        duration=60.0,
    )
    threading.Thread(
        target=cmd_aggserve, args=(ns, spark), daemon=True
    ).start()
    routed_addr = wait_addrs("aggregating", 1)[0]
    # broadcast aggregator over the same backends, for the equality check
    ns2 = argparse.Namespace(
        backends=",".join(f"127.0.0.1:{bp + i}" for i in range(3)),
        config=None, host="127.0.0.1", port=0, k=None, duration=60.0,
    )
    threading.Thread(
        target=cmd_aggserve, args=(ns2, spark), daemon=True
    ).start()
    bcast_addr = wait_addrs("aggregating", 2)[1]

    def ask(addr, vec):
        with socket.create_connection(
            (addr[0], int(addr[1])), timeout=30
        ) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(encode_query([float(v) for v in vec], resultnum=5) + "\n")
            f.flush()
            return [
                (r["id"], round(r["dist"], 4))
                for r in _json.loads(f.readline())["results"]
            ]

    for qi in (0, 5, 60, 65, 120, 125):  # two probes per cluster
        r_routed = ask(routed_addr, X[qi])
        r_bcast = ask(bcast_addr, X[qi])
        assert r_routed == r_bcast, (qi, r_routed, r_bcast)
        assert r_routed[0][1] == 0.0  # exact self-hit


def test_cli_partition_drops_empty_clusters(spark, tmp_path, capsys):
    """nparts above what the corpus can fill: empty clusters must not
    leave all-zero center rows or dangling [Server_i] sections (ADVICE
    r11 — a routed aggregator would scatter near-origin queries to a
    backend that has no server). Centers/ini are numbered densely over
    the LIVE clusters; an empty corpus fails fast instead of raising."""
    import json as _json
    import struct as _struct

    from sptag_spark.cli import cmd_partition

    # 3 identical points, 5 parts → at most 1 live cluster
    X = np.full((3, 4), 7.0, dtype="float32")
    corpus = str(tmp_path / "tiny.tsv")
    _write_txt(corpus, X, "m")
    out = str(tmp_path / "part_sparse")
    ns = argparse.Namespace(
        input=corpus, output=out, nparts=5, penalty=None, topk=1,
        host="127.0.0.1", port=0, base_port=23000, build=False,
        valuetype="float32", filetype="TXT", delimiter="|",
    )
    assert cmd_partition(ns, spark) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    live = rep["clusters"]
    assert len(live) < 5 and sum(rep["sizes"]) == 3
    # centers.bin row count == live clusters (DEFAULT header)
    with open(rep["centers"], "rb") as f:
        n_rows, dim = _struct.unpack("<ii", f.read(8))
    assert n_rows == len(live) and dim == 4
    ini = open(rep["ini"]).read()
    assert f"Number={len(live)}" in ini
    assert f"[Server_{len(live) - 1}]" in ini
    assert f"[Server_{len(live)}]" not in ini
    # empty corpus: fail fast with rc=2, no traceback
    empty = str(tmp_path / "empty.tsv")
    open(empty, "w").close()
    ns2 = argparse.Namespace(
        input=empty, output=str(tmp_path / "part_empty"), nparts=2,
        penalty=None, topk=1, host="127.0.0.1", port=0, base_port=23100,
        build=False, valuetype="float32", filetype="TXT", delimiter="|",
    )
    assert cmd_partition(ns2, spark) == 2
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err


def test_cli_serve_int8_index_uses_native_store(spark, tmp_path, capsys):
    """An index BUILT with -v int8 and served under a memory budget must
    materialize its replica store at the declared width (r12:
    post_vectors.i8 — 4x less SSD than f32) and still answer exact
    self-hits over the socket."""
    import socket
    import threading
    import time as _t

    from sptag_spark.cli import cmd_build, cmd_serve
    from sptag_spark.io.readers import write_default_bin
    from sptag_spark.server import encode_query

    rng = np.random.default_rng(13)
    X = rng.integers(-128, 128, size=(120, 6)).astype(np.int8)
    corpus = str(tmp_path / "c.bin")
    write_default_bin(X, corpus)
    idx = str(tmp_path / "idx8")
    assert cmd_build(
        argparse.Namespace(
            input=corpus, output=idx, algo="SPANN",
            valuetype="int8", filetype="DEFAULT", delimiter="|",
            overrides=["SelectHead.Ratio=0.2"],
        ),
        spark,
    ) == 0
    capsys.readouterr()
    ns = argparse.Namespace(
        index=[idx], host="127.0.0.1", port=0, k=3, duration=25.0,
        memory_budget=1,  # a budget serves from <index>/replica_store
    )
    threading.Thread(target=cmd_serve, args=(ns, spark), daemon=True).start()
    addr = None
    for _ in range(100):
        for line in capsys.readouterr().out.splitlines():
            if '"serving"' in line:
                addr = tuple(json.loads(line)["serving"])
        if addr:
            break
        _t.sleep(0.25)
    assert addr, "serve never reported its address"
    store = os.path.join(idx, "replica_store")
    assert os.path.exists(os.path.join(store, "post_vectors.i8"))
    assert not os.path.exists(os.path.join(store, "post_vectors.f32"))
    q = [float(v) for v in X[7]]
    with socket.create_connection((addr[0], int(addr[1])), timeout=30) as s:
        f = s.makefile("rw", encoding="utf-8")
        f.write(encode_query(q) + "\n")
        f.flush()
        res = json.loads(f.readline())["results"]
    assert res and res[0]["id"] == 7 and res[0]["dist"] == 0.0
