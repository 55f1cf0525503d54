"""Command-line parity with the reference's three user-facing tools.

A reference user drives SPTAG through `indexbuilder`, `indexsearcher`, and
`quantizer` (`AnnService/src/IndexBuilder/main.cpp`,
`IndexSearcher/main.cpp`, `Quantizer/main.cpp`); this module is those
entry points over the Spark engine, with the same flag vocabulary:

  python -m sptag_spark.cli build  -i INPUT -o FOLDER -a SPANN|BKT|KDT
         [-v float|int8|int16] [-f TXT|DEFAULT|XVEC] [-t '|']
         [Section.Key=Value ...]
  python -m sptag_spark.cli search -i QUERIES -x FOLDER [-r TRUTH]
         [-o RESULT] [-k 32] [-tk K] [-f TXT|DEFAULT|XVEC] [-v float]
         [--withmeta]
  python -m sptag_spark.cli quantize -i INPUT -o FOLDER
         [-qt PQQuantizer|OPQQuantizer] [-qd M] [-f ...] [-v ...]

Behavioral parity, not a port: `build -a SPANN` produces the
heads+postings Parquet layout (`io/index_store.py`), `-a BKT|KDT`
produces the in-memory serving shape (RNG graph + entry heads — the
structure the reference's BKT/KDT search actually walks,
`BKTIndex.cpp:279-350`); `search` loads the folder, answers through the
same operators every driver query uses, writes the reference's
result-file shape (`<qid-or-qmeta>:<dist>@<vid-or-vmeta>|...|` per line,
IndexSearcher/main.cpp:280-310), and
prints the recall/latency table `IndexSearcher` logs. `Section.Key=Value`
trailing args mirror the builder's ini-override convention for the knobs
this engine exposes (SelectHead.Ratio, Index.ReplicaCount,
Index.PostingPageLimit → posting_limit, Index.DistCalcMethod → metric,
Index.NeighborhoodSize → graph L).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _read_vectors(spark, path: str, fmt: str, value_type: str, delim: str):
    from sptag_spark.io.readers import read_binary_vectors, read_tsv_vectors

    fmt = fmt.upper()
    if fmt == "TXT":
        return read_tsv_vectors(spark, path, delimiter=delim)
    if fmt in ("DEFAULT", "XVEC"):
        df = read_binary_vectors(
            spark, path, fmt=fmt.lower(), value_type=value_type
        )
        from pyspark.sql import functions as F

        return df.withColumn("meta", F.lit(None).cast("string"))
    raise SystemExit(f"unknown vector file type {fmt!r} (TXT|DEFAULT|XVEC)")


# ini-override vocabulary → engine knobs (reference: trailing
# Section.Key=Value args patch the builder config, IndexBuilder/main.cpp)
_KNOB_MAP = {
    "selecthead.ratio": ("ratio", float),
    "index.ratio": ("ratio", float),
    "index.replicacount": ("replica_count", int),
    "buildssdindex.replicacount": ("replica_count", int),
    "index.postingpagelimit": ("posting_limit", int),
    "buildssdindex.postingpagelimit": ("posting_limit", int),
    "index.distcalcmethod": ("metric", str),
    "base.distcalcmethod": ("metric", str),
    "index.neighborhoodsize": ("graph_l", int),
}


def _parse_overrides(pairs: list[str]) -> dict:
    knobs: dict = {}
    unknown: dict = {}
    for p in pairs:
        if "=" not in p:
            continue
        key, val = p.split("=", 1)
        mapped = _KNOB_MAP.get(key.lower())
        if mapped is None:
            unknown[key] = val
            continue
        name, cast = mapped
        v = val.lower() if cast is str else cast(val)
        if name == "metric":
            v = {"l2": "l2", "cosine": "cosine", "ip": "ip"}.get(v, v)
        knobs[name] = v
    if unknown:
        print(f"[cli] ignoring unrecognized overrides: {unknown}", file=sys.stderr)
    return knobs


def cmd_build(args, spark) -> int:
    from sptag_spark.index.heads import DEFAULT_HEAD_RATIO, select_heads
    from sptag_spark.index.postings import (
        POSTING_LIMIT,
        REPLICA_COUNT,
        build_postings,
    )
    from sptag_spark.io.index_store import SptagIndex, save_index

    knobs = _parse_overrides(args.overrides)
    metric = knobs.get("metric", "l2")
    vectors = _read_vectors(
        spark, args.input, args.filetype, args.valuetype, args.delimiter
    ).persist()
    n = vectors.count()
    algo = args.algo.upper()
    t0 = time.time()
    config = {
        "algo": algo,
        "metric": metric,
        "value_type": args.valuetype,
        "n_vectors": n,
    }
    heads = postings = None
    if algo == "SPANN":
        ratio = knobs.get("ratio", DEFAULT_HEAD_RATIO)
        heads = select_heads(vectors, ratio=ratio, metric=metric).persist()
        postings = build_postings(
            vectors,
            heads,
            metric=metric,
            replica_count=knobs.get("replica_count", REPLICA_COUNT),
            posting_limit=knobs.get("posting_limit", POSTING_LIMIT),
        )
        config.update(
            ratio=ratio,
            replica_count=knobs.get("replica_count", REPLICA_COUNT),
            posting_limit=knobs.get("posting_limit", POSTING_LIMIT),
        )
    elif algo in ("BKT", "KDT"):
        # the reference serves BKT/KDT from RAM by walking tree + RNG
        # graph; the durable artifact is the graph + entry heads
        from sptag_spark.index.graph import NEIGHBORHOOD_SIZE, build_rng_graph

        entry = select_heads(vectors, ratio=0.1, metric=metric).persist()
        edges = build_rng_graph(
            vectors.select("id", "vector"),
            L=knobs.get("graph_l", NEIGHBORHOOD_SIZE),
            heads=entry,
            metric=metric,
        )
        os.makedirs(args.output, exist_ok=True)
        edges.write.mode("overwrite").parquet(
            os.path.join(args.output, "graph_edges")
        )
        entry.write.mode("overwrite").parquet(
            os.path.join(args.output, "graph_entry")
        )
        config["graph_l"] = knobs.get("graph_l", NEIGHBORHOOD_SIZE)
    else:
        raise SystemExit(f"unknown algo {args.algo!r} (SPANN|BKT|KDT)")
    quantizer = codes = None
    if getattr(args, "quantizer", None):
        # IndexBuilder -pq: attach a pre-trained quantizer (cli quantize's
        # output folder) and store the per-vector codes beside the index —
        # the reference's quantized-build mode (LoadQuantizer in main.cpp)
        from sptag_spark.index.pq import pq_encode
        from sptag_spark.io.index_store import load_quantizer

        quantizer = load_quantizer(os.path.join(args.quantizer, "quantizer"))
        codes = pq_encode(vectors, quantizer)
        config["quantized"] = True
    save_index(
        SptagIndex(
            vectors=vectors,
            heads=heads,
            postings=postings,
            quantizer=quantizer,
            codes=codes,
            config=config,
        ),
        args.output,
    )
    print(
        json.dumps(
            {
                "built": algo,
                "vectors": n,
                "output": args.output,
                "build_sec": round(time.time() - t0, 2),
                "config": config,
            }
        )
    )
    return 0


def cmd_search(args, spark) -> int:
    from pyspark.sql import functions as F

    from sptag_spark.io.index_store import load_index
    from sptag_spark.io.readers import read_truth_default, read_truth_txt

    idx = load_index(spark, args.index)
    algo = idx.config.get("algo", "SPANN")
    metric = idx.config.get("metric", "l2")
    q_raw = _read_vectors(
        spark, args.input, args.filetype, args.valuetype, args.delimiter
    )
    queries = (
        q_raw.select(F.col("id").alias("query_id"), "vector").persist()
    )
    nq = queries.count()
    if getattr(args, "gentruth", None):
        # IndexSearcher -g: write the exact-kNN truth for these queries
        # (reference builds truth by brute force, Test/src/AlgoTest.cpp)
        import numpy as np

        from sptag_spark.io.readers import write_truth_txt
        from sptag_spark.operators.knn import knn

        tk = args.truthk or args.k
        exact = (
            knn(idx.vectors.select("id", "vector"), queries, k=tk, metric=metric)
            .orderBy("query_id", "rank")
            .collect()
        )
        by_q: dict[int, list[int]] = {}
        for r in exact:
            by_q.setdefault(int(r["query_id"]), []).append(int(r["id"]))
        write_truth_txt(
            np.array([by_q[q] for q in sorted(by_q)], dtype=np.int64),
            args.gentruth,
        )
        print(json.dumps({"gentruth": args.gentruth, "queries": nq, "k": tk}))
        return 0
    t0 = time.time()
    if algo == "SPANN":
        from sptag_spark.index.ann import ann_search

        idx.heads.persist().count()
        idx.postings.persist().count()
        res = ann_search(
            queries,
            idx.heads,
            idx.postings,
            k=args.k,
            nprobe=max(8, args.maxcheck // 256) if args.maxcheck else 8,
            metric=metric,
        )
    else:
        from sptag_spark.index.graph import graph_search_broadcast

        edges = spark.read.parquet(os.path.join(args.index, "graph_edges"))
        entry = spark.read.parquet(os.path.join(args.index, "graph_entry"))
        res = graph_search_broadcast(
            idx.vectors.select("id", "vector"),
            edges,
            queries,
            k=args.k,
            heads=entry,
            metric=metric,
        )
    rows = res.orderBy("query_id", "rank").collect()
    wall = time.time() - t0
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    if args.result:
        # reference result-file shape (IndexSearcher/main.cpp:280-310,
        # m_outputformat=0): one line per query,
        #   "<qid-or-qmeta>:<dist>@<vid-or-vmeta>|<dist>@<vid-or-vmeta>|...|"
        # — the query prefix is its metadata when the query file carries
        # one (queryMetas != nullptr), the neighbor label is metadata only
        # under --withmeta, every cell ends with '|', and unfilled slots
        # would be "NULL|" (our exact-k results never produce them)
        meta_by_id = None
        if args.withmeta and "meta" in idx.vectors.columns:
            meta_by_id = {
                int(r["id"]): r["meta"]
                for r in idx.vectors.select("id", "meta").collect()
            }
        qmeta_by_id = None
        if "meta" in q_raw.columns:
            qmeta_by_id = {
                int(r["id"]): r["meta"]
                for r in q_raw.select("id", "meta").collect()
            }
        with open(args.result, "w") as f:
            for qid in sorted(by_q):
                prefix = (
                    qmeta_by_id.get(qid, str(qid))
                    if qmeta_by_id is not None
                    else str(qid)
                )
                line = [f"{prefix}:"]
                for r in by_q[qid]:
                    label = (
                        meta_by_id.get(int(r["id"]), "NULL")
                        if meta_by_id is not None
                        else int(r["id"])
                    )
                    line.append(f"{float(r['dist']):.6f}@{label}|")
                f.write("".join(line) + "\n")
    report = {
        "queries": nq,
        "k": args.k,
        "wall_sec": round(wall, 3),
        "qps": round(nq / wall, 1) if wall > 0 else None,
    }
    if args.truth:
        from sptag_spark.operators.recall import recall_per_query, recall_summary

        truth = (
            read_truth_txt(spark, args.truth)
            if args.truth.endswith(".txt")
            else read_truth_default(spark, args.truth)
        )
        tk = args.truthk or args.k
        # file truth carries no distances; recall_per_query's shared plan
        # projects the column regardless (NaN never tie-matches)
        truth = truth.filter(F.col("rank") <= tk).withColumn(
            "dist", F.lit(float("nan"))
        )
        # file truth carries ids only (no distances), so recall is pure
        # id-set membership — the same figure IndexSearcher logs
        summary = recall_summary(
            recall_per_query(
                res, truth, min(args.k, tk), dist_tie_credit=False
            )
        ).first()
        report["recall_at_k"] = round(float(summary["avg_recall"]), 4)
        report["mrr"] = round(float(summary["mrr"]), 4)
    print(json.dumps(report))
    return 0


def cmd_serve(args, spark) -> int:
    """Server/main.cpp parity: load an index folder, warm the store
    replica (the reference's ServiceContext startup load), and answer the
    `$option`/`#base64` wire format over TCP until interrupted. Uses the
    one shared serving tier (AnnTcpServer.from_index → warm_replica +
    committed autotuned operating point)."""
    from sptag_spark.io.index_store import load_index
    from sptag_spark.server import AnnTcpServer, load_server_ini

    if args.index is None:
        specs = []
    elif isinstance(args.index, list):
        specs = args.index
    else:
        specs = [args.index]
    cfg = getattr(args, "config", None)
    if cfg:
        # service config (ServiceContext.cpp's Server boot file) supplies
        # host/port/k and the index map; explicit flags/-x win
        ini = load_server_ini(cfg)
        if not specs:
            specs = [f"{n}={p}" for n, p in ini["indexes"].items()]
        if args.host is None:
            args.host = ini["host"]
        if args.port is None:
            args.port = ini["port"]
        if args.k is None:
            args.k = ini["k"]
    if not specs:
        raise SystemExit("serve: no index (use -x or --config)")
    if args.host is None:
        args.host = "127.0.0.1"
    if args.port is None:
        args.port = 0
    if args.k is None:
        args.k = 10
    if len(specs) == 1:
        # a single index — named or not — takes the single-index path
        # below (autotuned operating point + named replica store): a
        # one-entry map routes exactly like a lone index anyway
        # (SelectIndex's size()==1 arm), and booting the same index via
        # --config must not serve at a different operating point than -x
        name, _, path = specs[0].partition("=")
        specs = [path or name]
    if len(specs) > 1:
        # multi-index node (`ServiceContext` index map): -x name=path per
        # member; queries select with $indexname:a,b. The memory budget is
        # a single-index concern — warn instead of silently ignoring.
        if getattr(args, "memory_budget", None):
            print(
                "serve: --memory-budget applies to single-index nodes "
                "only; ignored for a multi-index map",
                file=sys.stderr,
            )
        indexes = {}
        for spec in specs:
            name, _, path = spec.partition("=")
            if not path:
                name, path = os.path.basename(spec.rstrip("/")), spec
            idx = load_index(spark, path)
            if idx.heads is None or idx.postings is None:
                raise SystemExit(f"serve: {path} is not a SPANN index")
            idx.heads.persist().count()
            idx.postings.persist().count()
            indexes[name] = (idx.heads, idx.postings)
        srv = AnnTcpServer.from_indexes(
            indexes, host=args.host, port=args.port, k=args.k
        ).start()
        print(
            json.dumps(
                {
                    "serving": list(srv.address),
                    "k": args.k,
                    "nprobe": srv.nprobe,
                    "indexes": sorted(indexes),
                }
            ),
            flush=True,
        )
        try:
            import threading

            if args.duration:
                time.sleep(args.duration)
            else:  # pragma: no cover - interactive mode
                threading.Event().wait()
        except KeyboardInterrupt:  # pragma: no cover
            pass
        finally:
            srv.stop()
        return 0
    args.index = specs[0]
    idx = load_index(spark, args.index)
    if idx.heads is None or idx.postings is None:
        raise SystemExit("serve requires a SPANN index (heads + postings)")
    idx.heads.persist().count()
    idx.postings.persist().count()
    # --memory-budget (nonzero): the store replica serves from its store
    # beside the index (<index>/replica_store: exact answers, any metric,
    # heads+ids resident — the reference's SSD node shape; store streamed
    # + fingerprint-gated); the budget's value is not read. Without one
    # the replica packs a private store instead.
    srv = AnnTcpServer.from_index(
        idx.heads,
        idx.postings,
        disk_store_dir=os.path.join(args.index, "replica_store")
        if getattr(args, "memory_budget", None)
        else None,
        # the index's DECLARED width: an int8/uint8/int16 corpus serves
        # from a native-width store (4x/2x less SSD + read I/O, r12);
        # anything else — float32, unknown, legacy configs — stays f32
        value_type=(
            idx.config.get("value_type")
            if idx.config.get("value_type") in ("int8", "uint8", "int16")
            else "float32"
        ),
        host=args.host,
        port=args.port,
        k=args.k,
        metric=idx.config.get("metric", "l2"),
    ).start()
    print(
        json.dumps(
            {
                "serving": list(srv.address),
                "k": args.k,
                "nprobe": srv.nprobe,
                "replica": getattr(srv.replica, "dispatch_label", "replica"),
            }
        ),
        flush=True,
    )
    try:
        import threading

        if args.duration:
            time.sleep(args.duration)
        else:  # pragma: no cover - interactive mode
            threading.Event().wait()
    except KeyboardInterrupt:  # pragma: no cover
        pass
    finally:
        srv.stop()
    return 0


def cmd_aggserve(args, spark) -> int:
    """Aggregator/main.cpp parity (`AggregatorService.cpp`): front N
    running `serve` loops with one scatter-gather node speaking the same
    wire format — the reference's three-tier deployment (client →
    aggregator → serving nodes) over real sockets. `$timeout:<ms>` on a
    query buys deadline partials across the remote shards. Spark is not
    involved: the aggregator is pure network tier."""
    from sptag_spark.server import aggregator_server, load_aggregator_ini

    # Aggregator.ini supplies defaults (the reference boots from exactly
    # this file, AggregatorService.cpp:27); explicit flags override
    ini = load_aggregator_ini(args.config) if args.config else {}
    backends = list(ini.get("backends", []))
    if args.backends:
        backends = []
        for spec in args.backends.split(","):
            h, _, p = spec.strip().rpartition(":")
            backends.append((h or "127.0.0.1", int(p)))
    if not backends:
        print("aggserve: no backends (use -b or --config)", file=sys.stderr)
        return 2
    host = args.host if args.host is not None else ini.get("host", "127.0.0.1")
    port = args.port if args.port is not None else ini.get("port", 0)
    k = args.k if args.k is not None else 10  # wire default result count
    args.k = k  # reported below
    # center-routed scatter ([Service] TopK + Centers,
    # AggregatorService.cpp:215-258): with one center per backend and
    # TopK > 0, each query goes to only the TopK nearest backends
    centers = None
    scatter_topk = ini.get("scatter_topk", -1)
    centers_path = ini.get("centers", "")
    if scatter_topk and scatter_topk > 0 and not os.path.exists(centers_path):
        # the reference treats TopK>0 without a readable Centers file as
        # fatal misconfiguration (AggregatorContext.cpp:66-68 logs and
        # exit(1)) — a silent broadcast fallback would quietly lose the
        # operator's fan-out bound
        print(
            "aggserve: [Service] TopK=%d but Centers file %r is missing "
            "(fatal, matching the reference)" % (scatter_topk, centers_path),
            file=sys.stderr,
        )
        return 1
    if scatter_topk and scatter_topk > 0 and os.path.exists(centers_path):
        from sptag_spark.io.readers import read_binary_vectors

        rows = (
            read_binary_vectors(spark, centers_path, "default")
            .orderBy("id")
            .collect()
        )
        centers = [list(r["vector"]) for r in rows]
    srv = aggregator_server(
        backends, host=host, port=port, k=k,
        centers=centers,
        scatter_topk=scatter_topk if scatter_topk > 0 else None,
    ).start()
    print(
        json.dumps(
            {
                "aggregating": list(srv.address),
                "backends": [list(b) for b in backends],
                "k": args.k,
                "scatter_topk": scatter_topk if centers is not None else None,
            }
        ),
        flush=True,
    )
    try:
        import threading

        if args.duration:
            time.sleep(args.duration)
        else:  # pragma: no cover - interactive mode
            threading.Event().wait()
    except KeyboardInterrupt:  # pragma: no cover
        pass
    finally:
        srv.stop()
        srv.replica.close()
    return 0


def cmd_client(args, spark) -> int:
    """Client/main.cpp parity: read a query vector file, send each query
    to a running `serve` loop in the wire format, print/write one JSON
    result line per query. Pure socket client — Spark only reads the
    query file."""
    import socket

    from sptag_spark.server import encode_query

    queries = _read_vectors(
        spark, args.input, args.filetype, args.valuetype, args.delimiter
    )
    rows = queries.select("id", "vector").orderBy("id").collect()
    options = {"resultnum": args.k} if args.k else {}
    out_f = open(args.result, "w") if args.result else None
    t0 = time.time()
    with socket.create_connection((args.host, args.port), timeout=60) as s:
        f = s.makefile("rw", encoding="utf-8")
        for r in rows:
            f.write(
                encode_query([float(x) for x in r["vector"]], **options)
                + "\n"
            )
            f.flush()
            line = f.readline().strip()
            (out_f or sys.stdout).write(line + "\n")
    wall = time.time() - t0
    if out_f:
        out_f.close()
    print(
        json.dumps(
            {
                "queries": len(rows),
                "wall_sec": round(wall, 3),
                "qps": round(len(rows) / wall, 1) if wall > 0 else None,
            }
        ),
        file=sys.stderr,
    )
    return 0


def cmd_quantize(args, spark) -> int:
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.io.index_store import save_quantizer

    vectors = _read_vectors(
        spark, args.input, args.filetype, args.valuetype, args.delimiter
    ).persist()
    n = vectors.count()
    t0 = time.time()
    books = train_pq(
        vectors,
        m=args.qd,
        opq_rotation=(args.qt.lower() == "opqquantizer"),
    )
    os.makedirs(args.output, exist_ok=True)
    save_quantizer(books, os.path.join(args.output, "quantizer"))
    codes = pq_encode(vectors, books)
    codes.write.mode("overwrite").parquet(os.path.join(args.output, "codes"))
    print(
        json.dumps(
            {
                "quantized": n,
                "type": args.qt,
                "m": args.qd,
                "output": args.output,
                "sec": round(time.time() - t0, 2),
            }
        )
    )
    return 0


def cmd_partition(args, spark) -> int:
    """BalancedDataPartition parity (`src/BalancedDataPartition/main.cpp:
    151-241`): balance-penalized k-means over the WHOLE corpus (the
    reference's lambda·count penalty — `balanced_kmeans` mirrors it),
    then write the tool's output shape:

      <out>/shards/cluster=<i>/  — per-partition vector files (parquet;
                                   the reference writes one binary file
                                   per partition)
      <out>/centers.bin          — DEFAULT-binary centers (+ the
                                   reference's trailing lambda/diff/
                                   mindist/noimprovement record,
                                   main.cpp:140-144)
      <out>/Aggregator.ini       — [Service] TopK/Centers + [Server_<i>]
                                   sections that `cli aggserve --config`
                                   boots UNMODIFIED (center-routed
                                   scatter against these shards)

    --build additionally builds one SPANN index per shard
    (<out>/index_<i>) so `cli serve -x` can host each shard directly:
    corpus → sharded deployment is one command.

    Scale shape: the clustering is the distributed penalized Lloyd
    (hierarchical above 2048 shards), the shard write is ONE
    partitionBy(cluster) job, and only the k centers ever reach the
    driver."""
    import numpy as np

    from pyspark.sql import functions as F

    from sptag_spark.index.balanced import balanced_kmeans
    from sptag_spark.io.readers import write_default_bin

    vectors = _read_vectors(
        spark, args.input, args.filetype, args.valuetype, args.delimiter
    ).persist()
    n = vectors.count()
    if n == 0:
        # fail fast: balanced_kmeans cannot seed from zero samples and
        # `1 + max(...)` over no center rows would raise bare ValueError
        # (ADVICE r11)
        print(json.dumps({"error": "empty corpus: nothing to partition"}))
        vectors.unpersist()
        return 2
    k = args.nparts
    t0 = time.time()
    assign = balanced_kmeans(
        vectors.select("id", "vector"), k, lam=args.penalty,
        _emit_vector=True,
    ).persist()
    shards_dir = os.path.join(args.output, "shards")
    assign.write.mode("overwrite").partitionBy("cluster").option(
        "compression", "zstd"
    ).parquet(shards_dir)
    sizes = {
        int(r["cluster"]): int(r["count"])
        for r in assign.groupBy("cluster").count().collect()
    }
    # EMPTY clusters (k exceeds what the penalized Lloyd could fill) are
    # dropped from every serving artifact (ADVICE r11): an all-zeros
    # center row would route near-origin queries to a backend that has no
    # index or server process. Centers/ini/index dirs are numbered DENSELY
    # over the live clusters; `clusters` in the report maps dense slot →
    # original cluster id (the shards/cluster=<orig> parquet names).
    live = sorted(sizes)
    # centers = per-cluster means, computed distributed (posexplode →
    # per-dimension avg); only k×dim doubles reach the driver
    crows = (
        assign.select("cluster", F.posexplode("vector").alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    dim = 1 + max(r["pos"] for r in crows)
    slot = {c: j for j, c in enumerate(live)}
    C = np.zeros((len(live), dim), dtype=np.float32)
    for r in crows:
        C[slot[int(r["cluster"])], int(r["pos"])] = float(r["m"])
    centers_path = os.path.join(args.output, "centers.bin")
    write_default_bin(C, centers_path)
    with open(centers_path, "ab") as f:
        # reference trailer (main.cpp:140-144): lambda, currDiff,
        # minClusterDist, noImprovement — readers that only honor the
        # DEFAULT header (count·dim) skip it
        import struct as _struct

        f.write(_struct.pack("<fffi", float(args.penalty or 0.0), 0.0, 0.0, 0))
    ini_path = os.path.join(args.output, "Aggregator.ini")
    lines = [
        "[Service]",
        f"ListenAddr={args.host}",
        f"ListenPort={args.port}",
        f"TopK={args.topk}",
        f"Centers={os.path.abspath(centers_path)}",
        "[Servers]",
        f"Number={len(live)}",
    ]
    for j in range(len(live)):
        lines += [
            f"[Server_{j}]",
            "Address=127.0.0.1",
            f"Port={args.base_port + j}",
        ]
    with open(ini_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    built = []
    if args.build:
        from sptag_spark.index.heads import DEFAULT_HEAD_RATIO, select_heads
        from sptag_spark.index.postings import build_postings
        from sptag_spark.io.index_store import SptagIndex, save_index

        for j, i in enumerate(live):
            sh = spark.read.parquet(
                os.path.join(shards_dir, f"cluster={i}")
            ).select("id", "vector")
            heads = select_heads(sh, ratio=DEFAULT_HEAD_RATIO).persist()
            postings = build_postings(sh, heads)
            # dense numbering to stay aligned with centers.bin row j and
            # the ini's [Server_j] (identical to cluster ids when no
            # cluster came up empty)
            idx_dir = os.path.join(args.output, f"index_{j}")
            save_index(
                SptagIndex(
                    vectors=sh,
                    heads=heads,
                    postings=postings,
                    config={
                        "algo": "SPANN",
                        "metric": "l2",
                        "value_type": args.valuetype,
                        "n_vectors": sizes[i],
                        "shard": i,
                    },
                ),
                idx_dir,
            )
            heads.unpersist()
            built.append(idx_dir)
    assign.unpersist()
    vectors.unpersist()
    print(
        json.dumps(
            {
                "partitioned": n,
                "nparts": k,
                "sizes": [sizes.get(i, 0) for i in range(k)],
                "clusters": live,  # dense server slot j → cluster id
                "centers": centers_path,
                "ini": ini_path,
                "indexes": built,
                "sec": round(time.time() - t0, 2),
            }
        )
    )
    return 0


def _common_reader_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument("-v", "--valuetype", default="float32",
                   help="vector value type (float32|int8|int16)")
    p.add_argument("-f", "--filetype", default="TXT",
                   help="vector file type (TXT|DEFAULT|XVEC)")
    p.add_argument("-t", "--delimiter", default="|",
                   help="TXT vector delimiter")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sptag_spark.cli", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="IndexBuilder parity")
    b.add_argument("-i", "--input", required=True)
    b.add_argument("-o", "--output", required=True)
    b.add_argument("-a", "--algo", required=True, help="SPANN|BKT|KDT")
    b.add_argument("-pq", "--quantizer", default=None,
                   help="pre-trained quantizer folder (cli quantize output)")
    _common_reader_flags(b)
    b.add_argument("overrides", nargs="*",
                   help="Section.Key=Value builder-config overrides")

    s = sub.add_parser("search", help="IndexSearcher parity")
    s.add_argument("-i", "--input", required=True, help="query vector file")
    s.add_argument("-x", "--index", required=True, help="index folder")
    s.add_argument("-r", "--truth", default=None)
    s.add_argument("-o", "--result", default=None)
    s.add_argument("-k", type=int, default=32)
    s.add_argument("-tk", "--truthk", type=int, default=None)
    s.add_argument("-m", "--maxcheck", type=int, default=None)
    s.add_argument("-a", "--withmeta", action="store_true")
    s.add_argument("-g", "--gentruth", default=None,
                   help="write exact-kNN TXT truth for the queries and exit")
    _common_reader_flags(s)

    v = sub.add_parser("serve", help="Server parity: TCP serve loop")
    v.add_argument("-x", "--index", default=None, action="append",
                   help="index folder; repeat with name=path to host a "
                        "multi-index node ($indexname selects)")
    v.add_argument("--config", default=None,
                   help="Server service config INI ([Service] + [Index] "
                        "List + [Index_<name>] IndexFolder sections, "
                        "ServiceContext.cpp format); explicit flags win")
    v.add_argument("--host", default=None)
    v.add_argument("-p", "--port", type=int, default=None)
    v.add_argument("-k", type=int, default=None)
    v.add_argument("--duration", type=float, default=None,
                   help="serve for N seconds then exit (default: forever)")
    v.add_argument("--memory-budget", type=int, default=None, dest="memory_budget",
                   help="bytes; any nonzero value serves from a packed "
                        "store beside the index (<index>/replica_store, "
                        "reused while its fingerprint matches) instead of "
                        "a private one; the value itself is not compared")

    g = sub.add_parser(
        "aggserve", help="Aggregator parity: scatter-gather over serve loops"
    )
    g.add_argument("-b", "--backends", default=None,
                   help="comma-separated host:port of running serve loops")
    g.add_argument("--config", default=None,
                   help="Aggregator.ini ([Service] + [Server_<i>] sections,"
                        " AggregatorContext.cpp format); explicit flags win")
    g.add_argument("--host", default=None)
    g.add_argument("-p", "--port", type=int, default=None)
    g.add_argument("-k", type=int, default=None)
    g.add_argument("--duration", type=float, default=None,
                   help="serve for N seconds then exit (default: forever)")

    c = sub.add_parser("client", help="Client parity: query a serve loop")
    c.add_argument("-i", "--input", required=True, help="query vector file")
    c.add_argument("--host", default="127.0.0.1")
    c.add_argument("-p", "--port", type=int, required=True)
    c.add_argument("-k", type=int, default=None)
    c.add_argument("-o", "--result", default=None)
    _common_reader_flags(c)

    q = sub.add_parser("quantize", help="Quantizer parity")
    q.add_argument("-i", "--input", required=True)
    q.add_argument("-o", "--output", required=True)
    q.add_argument("-qt", default="PQQuantizer",
                   help="PQQuantizer|OPQQuantizer")
    q.add_argument("-qd", type=int, default=8,
                   help="quantized dimension (PQ subspaces M)")
    _common_reader_flags(q)

    pt = sub.add_parser(
        "partition",
        help="BalancedDataPartition parity: corpus → per-shard files + "
             "Centers + a bootable Aggregator.ini",
    )
    pt.add_argument("-i", "--input", required=True)
    pt.add_argument("-o", "--output", required=True)
    pt.add_argument("-c", "--nparts", type=int, required=True,
                    help="number of partitions (reference -c/numclusters)")
    pt.add_argument("-l", "--penalty", type=float, default=None,
                    help="balance lambda (reference -l; default auto)")
    pt.add_argument("--topk", type=int, default=1,
                    help="[Service] TopK scatter fan-out in the generated "
                         "Aggregator.ini")
    pt.add_argument("--host", default="127.0.0.1")
    pt.add_argument("-p", "--port", type=int, default=0)
    pt.add_argument("--base-port", type=int, default=9000, dest="base_port",
                    help="Server_<i> ports start here")
    pt.add_argument("--build", action="store_true",
                    help="also build one SPANN index per shard "
                         "(<out>/index_<i>)")
    _common_reader_flags(pt)

    args = ap.parse_args(argv)
    # normalize valuetype aliases the reference accepts
    args.valuetype = {"float": "float32", "int8": "int8", "int16": "int16"}.get(
        args.valuetype, args.valuetype
    )
    from sptag_spark.session import get_spark

    spark = get_spark("sptag-cli")
    try:
        return {
            "build": cmd_build,
            "search": cmd_search,
            "quantize": cmd_quantize,
            "serve": cmd_serve,
            "aggserve": cmd_aggserve,
            "client": cmd_client,
            "partition": cmd_partition,
        }[args.cmd](args, spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
