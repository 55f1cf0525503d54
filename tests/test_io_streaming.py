"""Readers, index persistence, streaming ingest, multimodal, iterator tests."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sptag_spark.index.heads import select_heads
from sptag_spark.index.postings import build_postings
from sptag_spark.io.index_store import SptagIndex, load_index, save_index
from sptag_spark.io.readers import (
    read_binary_vectors,
    read_tsv_vectors,
    write_default_bin,
    write_tsv_vectors,
    write_xvec,
)
from sptag_spark.multimodal import attach_fake_media, decode_media, frame_sample_plan
from sptag_spark.operators.iterator import ResultIterator
from sptag_spark.operators.knn import knn
from sptag_spark.streaming.ingest import (
    live_view,
    needs_rebuild,
    stream_append_vectors,
    streaming_event_window_counts,
)

DIM = 6


@pytest.fixture(scope="module")
def small_vectors(spark):
    return spark.createDataFrame(
        [(i, [float(i)] * DIM, str(i)) for i in range(20)],
        "id long, vector array<float>, meta string",
    )


def test_tsv_roundtrip(spark, small_vectors, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tsv"))
    write_tsv_vectors(small_vectors, d)
    back = read_tsv_vectors(spark, d)
    got = {r["meta"]: r["vector"] for r in back.collect()}
    assert len(got) == 20
    assert got["7"] == [7.0] * DIM
    # positional ids are 0..n-1
    assert sorted(r["id"] for r in back.collect()) == list(range(20))


def test_positional_ids_multi_file_permutation(spark, tmp_path_factory):
    """Multi-file input: ids must be a gap-free permutation of 0..n-1 (the
    two-pass split-plan agreement with_positional_ids relies on), even when
    Spark packs splits largest-first."""
    from sptag_spark.io.readers import with_positional_ids

    d = tmp_path_factory.mktemp("multifile")
    sizes = [50, 7, 23]
    for fi, n in enumerate(sizes):
        with open(d / f"part{fi}.csv", "w") as f:
            for i in range(n):
                f.write(f"f{fi}_row{i}\n")
    df = spark.read.csv(str(d), schema="line string")
    ids = [r["id"] for r in with_positional_ids(df).collect()]
    assert sorted(ids) == list(range(sum(sizes)))


@pytest.mark.parametrize("fmt,writer", [("default", write_default_bin), ("xvec", write_xvec)])
def test_binary_formats(spark, tmp_path_factory, fmt, writer):
    d = str(tmp_path_factory.mktemp(fmt))
    rng = np.random.default_rng(3)
    mat = rng.normal(size=(50, DIM)).astype(np.float32)
    writer(mat, os.path.join(d, "part0.bin"))
    got = read_binary_vectors(spark, d, fmt=fmt, value_type="float32")
    rows = {r["id"]: r["vector"] for r in got.collect()}
    assert len(rows) == 50
    assert np.allclose(rows[13], mat[13])


def test_binary_int8_upcast(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("i8"))
    mat = np.arange(-10, 10, dtype=np.int8).reshape(4, 5)
    write_default_bin(mat, os.path.join(d, "v.bin"))
    got = read_binary_vectors(spark, d, fmt="default", value_type="int8")
    row0 = got.filter(F.col("id") == 0).first()["vector"]
    assert row0 == [-10.0, -9.0, -8.0, -7.0, -6.0]


def test_index_save_load_roundtrip(spark, small_vectors, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    tomb = spark.createDataFrame([(3,)], "id long")
    heads = select_heads(small_vectors, ratio=0.2)
    postings = build_postings(small_vectors, heads)
    idx = SptagIndex(
        vectors=small_vectors,
        tombstones=tomb,
        heads=heads,
        postings=postings,
        config={"metric": "l2", "dim": DIM, "replica_count": 8},
    )
    save_index(idx, d)
    back = load_index(spark, d)
    assert back.config["metric"] == "l2"
    assert back.vectors.count() == 20
    assert back.tombstones.count() == 1
    assert back.postings.count() == postings.count()
    # partition layout on disk: head_id=... directories (pruning-ready)
    assert any(p.startswith("head_id=") for p in os.listdir(os.path.join(d, "postings")))


def test_live_view_replay(spark, small_vectors):
    """F8: base + appends interleaved with deletes == oracle over live set."""
    adds = spark.createDataFrame(
        [(100 + i, [50.0 + i] * DIM, f"new{i}") for i in range(3)],
        "id long, vector array<float>, meta string",
    )
    tomb = spark.createDataFrame([(5,), (101,)], "id long")
    live = live_view(small_vectors, [adds], tomb)
    assert live.count() == 20 + 3 - 2
    q = spark.createDataFrame([(0, [51.0] * DIM)], "query_id long, vector array<float>")
    res = knn(live, q, k=2).collect()
    got = sorted(r["id"] for r in res)
    assert got == [100, 102]  # 101 tombstoned; nearest live are 100 and 102
    assert needs_rebuild(1000) and not needs_rebuild(999)


def test_stream_append(spark, small_vectors, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("src"))
    tgt = str(tmp_path_factory.mktemp("tgt"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    small_vectors.write.mode("append").parquet(src)
    q = stream_append_vectors(spark, src, tgt, ckpt)
    q.awaitTermination(60)
    assert spark.read.parquet(tgt).count() == 20
    # second batch lands exactly once
    small_vectors.filter(F.col("id") < 5).write.mode("append").parquet(src)
    q2 = stream_append_vectors(spark, src, tgt, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(tgt).count() == 25


def test_streaming_window_agg(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("ev"))
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", "click", 1.0) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double")
    df.withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(src)
    agg = streaming_event_window_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("select * from winagg order by window_start").collect()
    assert len(got) == 4  # 20 minutes / 5-minute windows
    assert all(r["n"] == 5 for r in got)


def test_multimodal_decode_and_frames(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different content")],
        "doc_id long, text string",
    )
    media = attach_fake_media(docs)
    out = decode_media(media, mode="fake").collect()
    by_id = {r["id"]: r for r in out}
    # deterministic: identical payloads decode identically
    assert by_id[1]["width"] == by_id[2]["width"]
    assert by_id[1]["feat"] == by_id[2]["feat"]
    assert by_id[1]["feat"] != by_id[3]["feat"]
    assert all(1 <= r["width"] <= 64 and r["n_pixels"] == r["width"] * r["height"] for r in out)
    assert len(by_id[1]["feat"]) == 8
    with pytest.raises(ValueError):
        decode_media(media, mode="webp-magic")
    frames = frame_sample_plan(media, every_n=10)
    assert frames.count() >= 3  # ≥1 frame per doc
    assert frames.filter(F.col("frame_no") % 10 != 0).count() == 0


def _png_bytes(w: int, h: int) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )


def _jpeg_bytes(w: int, h: int) -> bytes:
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif_bytes(w: int, h: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"


def test_multimodal_real_header_decode(spark):
    """mode='real': true dimensions parsed from PNG IHDR / JPEG SOF / GIF
    headers with pure Python; unknown payloads degrade to 0x0."""
    rows = [
        (1, _png_bytes(640, 480), "image/png"),
        (2, _jpeg_bytes(1024, 768), "image/jpeg"),
        (3, _gif_bytes(320, 200), "image/gif"),
        (4, b"not an image at all", "application/octet-stream"),
    ]
    media = spark.createDataFrame(rows, "id long, media binary, media_type string")
    by_id = {r["id"]: r for r in decode_media(media, mode="real").collect()}
    assert (by_id[1]["width"], by_id[1]["height"]) == (640, 480)
    assert (by_id[2]["width"], by_id[2]["height"]) == (1024, 768)
    assert (by_id[3]["width"], by_id[3]["height"]) == (320, 200)
    assert (by_id[4]["width"], by_id[4]["height"]) == (0, 0)
    assert by_id[1]["n_pixels"] == 640 * 480
    # byte-histogram feature: 8 bins, sums to ~1
    for r in by_id.values():
        assert len(r["feat"]) == 8
        assert abs(sum(r["feat"]) - 1.0) < 1e-5


def test_result_iterator_pages(spark, small_vectors):
    q = spark.createDataFrame([(0, [10.0] * DIM)], "query_id long, vector array<float>")
    it = ResultIterator(small_vectors, q, max_results=15)
    p1 = it.next_batch(5).orderBy("rank").collect()
    p2 = it.next_batch(5).orderBy("rank").collect()
    assert [r["rank"] for r in p1] == [1, 2, 3, 4, 5]
    assert [r["rank"] for r in p2] == [6, 7, 8, 9, 10]
    assert p1[0]["id"] == 10 and p1[0]["dist"] == 0.0
    # monotone across pages — RelaxedMono is structurally False
    assert p2[0]["dist"] >= p1[-1]["dist"]
    assert it.relaxed_mono is False
    assert all(r["relaxed_mono"] is False for r in p1 + p2)
    it.close()


def test_truth_file_roundtrip(spark, tmp_path_factory):
    """DEFAULT + TXT truth formats (Common/TruthSet.h:24-160) round-trip and
    feed the recall join."""
    import numpy as np

    from sptag_spark.io.readers import (
        read_truth_default,
        read_truth_txt,
        write_truth_default,
        write_truth_txt,
    )

    truth = np.array([[3, 1, 4], [1, 5, 9], [2, 6, 5]], dtype=np.int32)
    d = tmp_path_factory.mktemp("truth")
    write_truth_default(truth, str(d / "truth.bin"))
    write_truth_txt(truth, str(d / "truth.txt"))
    for reader, path in [
        (read_truth_default, str(d / "truth.bin")),
        (read_truth_txt, str(d / "truth.txt")),
    ]:
        rows = reader(spark, path).collect()
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
        assert len(rows) == 9
        assert [i for _, i in sorted(got[0])] == [3, 1, 4]
        assert [i for _, i in sorted(got[2])] == [2, 6, 5]


def test_stateful_streaming_dedup(spark, tmp_path_factory):
    """applyInPandasWithState first-wins dedup holds state ACROSS
    micro-batches: a key admitted in batch 1 is dropped in batch 2."""
    import os

    from sptag_spark.streaming.stateful import streaming_first_wins_dedup

    d = tmp_path_factory.mktemp("stateful")
    src, ckpt, out = str(d / "src"), str(d / "ckpt"), str(d / "out")
    os.makedirs(src)
    schema = "doc_id long, text string, seq long"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        dedup = streaming_first_wins_dedup(stream, "doc_id", "seq")
        q = (
            dedup.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
        }

    b1 = spark.createDataFrame(
        [(1, "a", 10), (1, "a-dup-same-batch", 11), (2, "b", 12)], schema
    )
    b1.write.mode("append").parquet(src)
    assert run_once() == {1: "a", 2: "b"}

    # batch 2: key 1 again (must be dropped — held state), key 3 new
    b2 = spark.createDataFrame(
        [(1, "a-dup-later-batch", 20), (3, "c", 21)], schema
    )
    b2.write.mode("append").parquet(src)
    assert run_once() == {1: "a", 2: "b", 3: "c"}


def test_spann_result_iterator_pages(spark, small_vectors):
    """SPANN iterator pages match the one-shot ANN ranking, in order,
    without overlap (SPANNResultIterator.h Next(batch) contract)."""
    from sptag_spark.index.ann import ann_search
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from pyspark.sql import functions as F

    from sptag_spark.operators.iterator import SpannResultIterator

    queries = small_vectors.filter(F.col("id") % 5 == 0).select(
        F.col("id").alias("query_id"), "vector"
    )
    heads = select_heads(small_vectors, ratio=0.3).cache()
    postings = build_postings(small_vectors, heads).cache()
    full = {
        (r["query_id"], r["rank"]): r["id"]
        for r in ann_search(queries, heads, postings, k=8, nprobe=4).collect()
    }
    it = SpannResultIterator(
        queries, heads, postings, max_results=8, nprobe=4
    )
    p1 = it.next_batch(4).collect()
    p2 = it.next_batch(4).collect()
    assert it.relaxed_mono is False
    assert all(r["rank"] <= 4 for r in p1) and all(5 <= r["rank"] <= 8 for r in p2)
    for r in p1 + p2:
        assert full[(r["query_id"], r["rank"])] == r["id"]
    it.close()


def test_spann_iterator_head_batched_lazy_probe(spark, small_vectors):
    """head_batch mode starts with few probed heads and widens only when a
    page outruns the probed candidate pool (Options.h m_headBatch)."""
    from pyspark.sql import functions as F

    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.operators.iterator import SpannResultIterator

    queries = small_vectors.filter(F.col("id") % 5 == 0).select(
        F.col("id").alias("query_id"), "vector"
    )
    heads = select_heads(small_vectors, ratio=0.5).cache()
    postings = build_postings(
        small_vectors, heads, replica_count=1
    ).cache()
    it = SpannResultIterator(
        queries, heads, postings, max_results=12, head_batch=1,
        max_dist_ratio=float("inf"),  # no ratio cut: pool growth is pure nprobe
    )
    assert it._nprobe == 1
    p1 = it.next_batch(3).collect()
    probe_after_p1 = it._nprobe
    p2 = it.next_batch(6).collect()
    assert it._nprobe >= probe_after_p1  # widened (or already sufficient)
    ranks1 = {r["rank"] for r in p1}
    ranks2 = {r["rank"] for r in p2}
    assert ranks1 <= {1, 2, 3} and ranks2 <= {4, 5, 6, 7, 8, 9}
    assert not (ranks1 & ranks2)
    # every query got its page filled once probing widened
    per_q = {}
    for r in p2:
        per_q.setdefault(r["query_id"], 0)
        per_q[r["query_id"]] += 1
    assert all(v == 6 for v in per_q.values()), per_q


def test_events_ts_normalization(spark, tmp_path_factory):
    """Driver testdata has shipped events.ts as TIMESTAMP(NANOS)-read-as-long
    AND as timestamp[us] (TIMESTAMP_NTZ); normalize_event_ts must yield the
    same session-tz TIMESTAMP instants for both (CORRECTNESS_r03 regression:
    the fixed nanos assumption turned every events query red on a regen)."""
    from sptag_spark.tables import events_table, normalize_event_ts

    # real testdata path: whatever encoding ships, the column must come out
    # as a plain TIMESTAMP
    ev = events_table(spark, "/root/testdata/sf0.001")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0

    # synthetic: same instant through the long-nanos and ntz branches
    micros = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    as_long = spark.createDataFrame([(micros * 1000,)], "ts long")
    as_ntz = spark.createDataFrame([(1,)], "x int").select(
        F.timestamp_micros(F.lit(micros)).cast("timestamp_ntz").alias("ts")
    )
    got_long = normalize_event_ts(as_long).select(
        F.unix_timestamp("ts").alias("e")
    ).first()["e"]
    got_ntz = normalize_event_ts(as_ntz).select(
        F.unix_timestamp("ts").alias("e")
    ).first()["e"]
    assert got_long == got_ntz == micros // 1_000_000


def test_streaming_query_serving(spark, tmp_path_factory):
    """The socket serve loop as Structured Streaming: queries arrive as
    files, each micro-batch is answered with the batch ann_search plan via
    foreachBatch, results append to parquet. Two files + maxFilesPerTrigger=1
    forces TWO separate serve batches; every query must self-hit at rank 1
    and batch ids must show both epochs."""
    from sptag_spark.streaming.serving import serve_query_stream

    tmp = tmp_path_factory.mktemp("serve")
    land = str(tmp / "landing")
    vecs = spark.createDataFrame(
        [(i, [float(i)] * DIM) for i in range(40)],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.2)
    postings = build_postings(vecs, heads)
    # two query files → two micro-batches
    q1 = vecs.filter(F.col("id") < 5)
    q2 = vecs.filter((F.col("id") >= 20) & (F.col("id") < 25))
    for i, q in enumerate((q1, q2)):
        q.select(F.col("id").alias("query_id"), "vector").coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(land)

    stream = spark.readStream.schema(
        "query_id long, vector array<float>"
    ).option("maxFilesPerTrigger", "1").parquet(land)
    sink = str(tmp / "results")
    timings: list = []
    q = serve_query_stream(
        stream, heads, postings, sink, str(tmp / "ckpt"), k=3, nprobe=4,
        timings=timings,
    )
    q.awaitTermination(120)

    res = spark.read.parquet(sink)
    assert res.select("batch_id").distinct().count() == 2
    got = res.filter(F.col("rank") == 1).select("query_id", "id").collect()
    assert len(got) == 10
    assert all(r["query_id"] == r["id"] for r in got)
    # per-micro-batch latency surface: one entry per epoch, disjoint epoch
    # ids, query counts matching the two 5-query files
    assert len(timings) == 2
    assert len({t["epoch_id"] for t in timings}) == 2
    assert [t["n_queries"] for t in timings] == [5, 5]
    assert all(t["sec"] > 0 for t in timings)


def test_quantizer_save_load_roundtrip(spark, small_vectors, tmp_path_factory):
    """SaveQuantizer/LoadQuantizer parity (PQQuantizer.h, SSDServing
    QuantizerFilePath): codebooks + OPQ rotation survive the round trip
    bit-for-bit and the reloaded quantizer produces identical ADC results."""
    from sptag_spark.index.pq import adc_search, pq_encode, train_pq
    from sptag_spark.io.index_store import load_quantizer, save_quantizer

    d = str(tmp_path_factory.mktemp("quant"))
    books = train_pq(small_vectors, m=2, nbits=4, opq_rotation=True)
    save_quantizer(books, d)
    back = load_quantizer(d)
    assert np.array_equal(back.codebooks, books.codebooks)
    assert np.array_equal(back.rotation, books.rotation)
    q = small_vectors.limit(2).select(
        F.col("id").alias("query_id"), "vector"
    )
    codes = pq_encode(small_vectors, books).cache()
    a = adc_search(codes, q, books, k=5).collect()
    b = adc_search(codes, q, back, k=5).collect()
    assert [(r["query_id"], r["id"], r["adc_dist"]) for r in a] == [
        (r["query_id"], r["id"], r["adc_dist"]) for r in b
    ]
    # full-index layout: a quantized index carries the blobs alongside
    idx_dir = str(tmp_path_factory.mktemp("idxq"))
    idx = SptagIndex(
        vectors=small_vectors, quantizer=books, codes=codes,
        config={"metric": "l2", "dim": DIM, "pq_m": 2},
    )
    save_index(idx, idx_dir)
    back_idx = load_index(spark, idx_dir)
    assert back_idx.quantizer is not None
    assert np.array_equal(back_idx.quantizer.codebooks, books.codebooks)
    assert back_idx.codes.count() == codes.count()


def test_streaming_near_dup_cross_batch(spark, tmp_path_factory):
    """Stateful MinHash-LSH near-dup: a doc arriving in batch 2 that is a
    near-copy of a batch-1 doc yields a candidate pair against the EARLIER
    doc — state (bucket signatures) survives the micro-batch boundary."""
    import os

    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    d = tmp_path_factory.mktemp("near_dup_stream")
    src, ckpt, out = str(d / "src"), str(d / "ckpt"), str(d / "out")
    os.makedirs(src)
    schema = "doc_id long, text string"
    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions beneath the ancient stone bridge at midnight"
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        cand = streaming_near_dup_candidates(stream, threshold=0.5)
        q = (
            cand.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(out).collect()
        }

    b1 = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about database join "
                        "strategies and columnar storage formats in engines")],
        schema,
    )
    b1.write.mode("append").parquet(src)
    assert run_once() == set()  # nothing similar within batch 1

    # batch 2: near-copy of doc 1 (one word changed), plus a fresh doc
    b2 = spark.createDataFrame(
        [(3, base.replace("midnight", "noon")),
         (4, "yet another disjoint document mentioning vector indexes "
             "postings replicas and balanced clustering procedures only")],
        schema,
    )
    b2.write.mode("append").parquet(src)
    pairs = run_once()
    assert (1, 3) in pairs
    assert all(a == 1 and b == 3 for a, b in pairs)  # no false positives


def test_streaming_near_dup_exact_copy_same_batch(spark, tmp_path_factory):
    import os

    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    d = tmp_path_factory.mktemp("near_dup_stream2")
    src, ckpt, out = str(d / "src"), str(d / "ckpt"), str(d / "out")
    os.makedirs(src)
    schema = "doc_id long, text string"
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    spark.createDataFrame([(7, text), (9, text)], schema).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    cand = streaming_near_dup_candidates(stream, threshold=0.9)
    q = (
        cand.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    # exact copy: every band bucket emits the pair with est_jaccard 1.0
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(7, 9)}
    assert all(r["est_jaccard"] == 1.0 for r in rows)


def _wav_bytes(sr=16000, ch=2, bits=16, n_samples=1234) -> bytes:
    """Minimal valid RIFF/WAVE: fmt chunk + silent data chunk."""
    data_size = n_samples * ch * bits // 8
    fmt = (
        (1).to_bytes(2, "little")          # PCM
        + ch.to_bytes(2, "little")
        + sr.to_bytes(4, "little")
        + (sr * ch * bits // 8).to_bytes(4, "little")
        + (ch * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + data_size.to_bytes(4, "little") + b"\x00" * data_size
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_decode_audio_real_wav(spark):
    from sptag_spark.multimodal import decode_audio

    rows = [
        (1, bytearray(_wav_bytes(sr=16000, ch=2, bits=16, n_samples=1234)), "audio/wav"),
        (2, bytearray(_wav_bytes(sr=8000, ch=1, bits=8, n_samples=4000)), "audio/wav"),
        (3, bytearray(b"not audio at all"), "application/octet-stream"),
    ]
    media = spark.createDataFrame(rows, "id long, media binary, media_type string")
    got = {
        r["id"]: (r["sample_rate"], r["channels"], r["n_samples"], r["duration_sec"])
        for r in decode_audio(media, mode="real").collect()
    }
    assert got[1] == (16000, 2, 1234, 1234 / 16000)
    assert got[2] == (8000, 1, 4000, 0.5)
    assert got[3] == (0, 0, 0, 0.0)


def test_parse_wav_chunk_walk_past_extra_chunks(spark):
    """fmt located after a LIST chunk; odd-sized chunk is word-aligned."""
    from sptag_spark.multimodal import _parse_wav

    wav = _wav_bytes(sr=44100, ch=1, bits=16, n_samples=100)
    # splice a 3-byte junk chunk (padded to 4) right after "WAVE"
    junk = b"JUNK" + (3).to_bytes(4, "little") + b"abc\x00"
    spliced = wav[:12] + junk + wav[12:]
    spliced = b"RIFF" + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    assert _parse_wav(spliced) == (44100, 1, 100)


def test_stateful_dedup_bloom_mode(spark, tmp_path_factory):
    """state_mode='bloom' (VERDICT r6 ask #3): fixed-size per-shard state,
    NO false negatives (every true cross-batch duplicate is dropped), and
    the unique-key false-positive rate stays within the analytic Bloom
    bound (1-e^(-kn/m))^k."""
    import math
    import os

    from sptag_spark.streaming.stateful import streaming_first_wins_dedup

    d = tmp_path_factory.mktemp("bloomdedup")
    src, ckpt, out = str(d / "src"), str(d / "ckpt"), str(d / "out")
    os.makedirs(src)
    schema = "doc_id long, text string, seq long"
    M_BITS, K, SHARDS = 2048, 7, 4

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        dedup = streaming_first_wins_dedup(
            stream, "doc_id", "seq",
            n_state_shards=SHARDS, state_mode="bloom",
            bloom_bits_per_shard=M_BITS, bloom_hashes=K,
        )
        q = (
            dedup.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [r["doc_id"] for r in spark.read.parquet(out).collect()]

    n1 = 1000
    b1 = spark.createDataFrame(
        [(i, f"doc{i}", i) for i in range(n1)], schema
    )
    b1.write.mode("append").parquet(src)
    got1 = set(run_once())
    # batch 1 may already lose a few uniques to in-filter collisions as it
    # fills; the analytic bound applies to the final fill level
    fp_bound = (1 - math.exp(-K * (n1 / SHARDS) / M_BITS)) ** K
    assert len(got1) >= n1 * (1 - 4 * fp_bound) - 5

    # batch 2: every batch-1 key again (MUST all be dropped — Bloom has no
    # false negatives) plus n1 new keys (emitted at >= 1 - bound rate)
    b2 = spark.createDataFrame(
        [(i, f"dup{i}", n1 + i) for i in range(n1)]
        + [(n1 + i, f"new{i}", 2 * n1 + i) for i in range(n1)],
        schema,
    )
    b2.write.mode("append").parquet(src)
    all_ids = run_once()
    assert len(all_ids) == len(set(all_ids))  # nothing emitted twice, ever
    new_emitted = [i for i in set(all_ids) - got1]
    assert all(i >= n1 for i in new_emitted)  # no batch-1 repeat re-emitted
    # fill after batch 2 approaches 2*n1 keys; apply the bound at that fill
    fp2 = (1 - math.exp(-K * (2 * n1 / SHARDS) / M_BITS)) ** K
    assert len(new_emitted) >= n1 * (1 - 4 * fp2) - 5, (
        len(new_emitted), fp2
    )


class _FakeGroupState:
    def __init__(self, blob=None):
        self._blob = blob
        self.updated = None

    @property
    def exists(self):
        return self._blob is not None

    @property
    def get(self):
        return (self._blob,)

    def update(self, t):
        self.updated = t


def test_stateful_dedup_rejects_incompatible_state_blob():
    """ADVICE r7: a restored state blob whose size contradicts the
    configured mode must raise a descriptive error, not silently
    misinterpret membership (bloom) or crash mid-batch (exact)."""
    import pandas as pd
    import pytest

    from sptag_spark.streaming.stateful import (
        _first_wins_bloom_shard,
        _first_wins_shard,
    )

    batch = pd.DataFrame(
        {"doc_id": [1], "seq": [0], "_order": [0], "_h1": [11], "_h2": [7]}
    )
    cols = ["doc_id", "seq"]

    # bloom fn configured for 2048 bits (256-byte blob) fed a 17-byte blob
    bad_bloom = _FakeGroupState(b"\x00" * 17)
    with pytest.raises(ValueError, match="bloom_bits_per_shard"):
        list(_first_wins_bloom_shard("doc_id", cols, 2048, 7)((0,), iter([batch]), bad_bloom))

    # exact fn fed a blob that is not a whole number of 16-byte pairs
    bad_exact = _FakeGroupState(b"\x00" * 17)
    with pytest.raises(ValueError, match="exact-mode"):
        list(_first_wins_shard("doc_id", cols)((0,), iter([batch]), bad_exact))

    # matching sizes still work end-to-end through the same entry points
    ok_bloom = _FakeGroupState(b"\x00" * 256)
    out = list(_first_wins_bloom_shard("doc_id", cols, 2048, 7)((0,), iter([batch]), ok_bloom))
    assert len(out) == 1 and ok_bloom.updated is not None
    ok_exact = _FakeGroupState(b"\x00" * 32)
    out = list(_first_wins_shard("doc_id", cols)((0,), iter([batch]), ok_exact))
    assert len(out) == 1 and ok_exact.updated is not None


def _nd_batch(rows):
    """rows: [(bucket, doc_id, sig_list)] → kernel input frame."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "bucket": [b for b, _, _ in rows],
            "doc_id": [d for _, d, _ in rows],
            "sig": [np.array(s, dtype=np.int64) for _, _, s in rows],
        }
    )


def test_near_dup_window_mode_evicts_old_generations():
    """state_mode='window' (VERDICT r7 ask #3): residents older than
    window_batches shard-generations are evicted before comparing — a dup
    of a doc outside the horizon is NOT flagged (and is re-admitted),
    while in-window dups emit exactly the cumulative-mode pair."""
    from sptag_spark.streaming.stateful import _near_dup_shard

    SIG_A = [10] * 16
    SIG_B = [99] * 16

    class _TupleState(_FakeGroupState):
        @property
        def get(self):
            return self._blob

        def update(self, t):
            self._blob = t
            self.updated = t

    # in-window dup: batch1 doc1(A), batch2 doc2(A) → pair (1, 2)
    fn = _near_dup_shard(0.6, 256, window_batches=2)
    st = _TupleState()
    got = []
    for batch in [
        _nd_batch([(7, 1, SIG_A)]),
        _nd_batch([(7, 2, SIG_A)]),
    ]:
        for df in fn((0, 0), iter([batch]), st):
            got.extend((int(a), int(b)) for a, b in zip(df["doc_a"], df["doc_b"]))
    assert got == [(1, 2)]

    # out-of-window dup: doc1(A) @gen1, unrelated doc2(B) @gen2 advances
    # the shard generation, doc3(A) @gen3 → doc1 evicted, NO pair; then
    # doc4(A) @gen4 pairs with the RE-ADMITTED doc3
    st = _TupleState()
    got = []
    for batch in [
        _nd_batch([(7, 1, SIG_A)]),
        _nd_batch([(8, 2, SIG_B)]),
        _nd_batch([(7, 3, SIG_A)]),
        _nd_batch([(7, 4, SIG_A)]),
    ]:
        for df in fn((0, 0), iter([batch]), st):
            got.extend((int(a), int(b)) for a, b in zip(df["doc_a"], df["doc_b"]))
    assert got == [(3, 4)]

    # cumulative mode on the same sequence flags both ancestors
    fn_c = _near_dup_shard(0.6, 256)
    st = _TupleState()
    got = []
    for batch in [
        _nd_batch([(7, 1, SIG_A)]),
        _nd_batch([(8, 2, SIG_B)]),
        _nd_batch([(7, 3, SIG_A)]),
    ]:
        for df in fn_c((0, 0), iter([batch]), st):
            got.extend((int(a), int(b)) for a, b in zip(df["doc_a"], df["doc_b"]))
    assert got == [(1, 3)]


def test_near_dup_window_mode_state_bytes_flat():
    """Constant arrival rate → window-mode state bytes plateau at
    window_batches × per-batch admissions × entry size, while cumulative
    mode grows linearly forever."""
    from sptag_spark.streaming.stateful import _near_dup_shard

    class _TupleState(_FakeGroupState):
        @property
        def get(self):
            return self._blob

        def update(self, t):
            self._blob = t
            self.updated = t

    W, PER_BATCH, NH = 3, 5, 16
    fn = _near_dup_shard(0.6, 256, window_batches=W)
    st = _TupleState()
    sizes = []
    for g in range(10):
        rows = [
            (1000 * g + i, 1000 * g + i, [g * 100 + i] * NH)
            for i in range(PER_BATCH)
        ]
        list(fn((0, 0), iter([_nd_batch(rows)]), st))
        sizes.append(len(st._blob[2]))
    entry = 20 + NH
    assert sizes[W - 1 :] == [W * PER_BATCH * entry] * (10 - W + 1), sizes


def test_streaming_near_dup_window_mode_end_to_end(spark, tmp_path_factory):
    """window mode plumbs through applyInPandasWithState: an in-window
    cross-batch near-dup is emitted, an out-of-window one is not."""
    import os

    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    d = tmp_path_factory.mktemp("winnd")
    src, ckpt, out = str(d / "src"), str(d / "ckpt"), str(d / "out")
    os.makedirs(src)
    schema = "doc_id long, text string"
    text = "the quick brown fox jumps over the lazy dog again and again"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        cands = streaming_near_dup_candidates(
            stream, threshold=0.9, state_mode="window", window_batches=2,
            n_state_shards=2,
        )
        q = (
            cands.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(out).collect()
        }

    spark.createDataFrame([(1, text)], schema).write.mode("append").parquet(src)
    assert run_once() == set()
    # within window (gen 2, resident gen 1 kept): pair emitted
    spark.createDataFrame([(2, text)], schema).write.mode("append").parquet(src)
    assert run_once() == {(1, 2)}
    # two unrelated generations push doc 1 and doc 2 out of the horizon.
    # Generations are PER SHARD (they advance only when the shard sees
    # rows), so each filler batch carries enough distinct docs to touch
    # every (band, shard) state group.
    for g in range(2):
        filler = [
            (100 + 20 * g + i, f"filler generation {g} doc {i} " + " ".join(f"w{g}_{i}_{j}" for j in range(12)))
            for i in range(12)
        ]
        spark.createDataFrame(filler, schema).write.mode("append").parquet(src)
        run_once()
    # out of window: duplicate of docs 1/2 raises no pair with them
    spark.createDataFrame([(5, text)], schema).write.mode("append").parquet(src)
    got = run_once()
    assert not any(5 in p and (1 in p or 2 in p) for p in got), got


def test_near_dup_idle_timeout_ticks_evict(spark):
    """VERDICT r9 #7 (kernel): a hasTimedOut invoke advances the shard
    generation with NO data — residents age out of the window and the
    state is removed entirely once empty, so an idle shard's bytes drop
    to zero instead of holding its last window forever."""
    from sptag_spark.streaming.stateful import _near_dup_shard

    SIG_A = [10] * 16

    class _TimeoutState:
        def __init__(self):
            self._t = None
            self.removed = False
            self.timed_out = False
            self.timeout_set = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def hasTimedOut(self):
            return self.timed_out

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

        def remove(self):
            self._t = None
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = _near_dup_shard(0.6, 256, window_batches=2, idle_timeout_ms=500)
    st = _TimeoutState()
    # data invoke: doc admitted at gen 1, timeout armed
    assert list(fn((0, 0), iter([_nd_batch([(7, 1, SIG_A)])]), st)) == []
    assert st.exists and st.timeout_set == 500
    bytes_after_data = len(st.get[2])
    assert bytes_after_data > 0

    # idle tick 1 (gen 2): resident gen 1 still inside window_batches=2 —
    # state kept, timeout re-armed
    st.timed_out = True
    st.timeout_set = None
    assert list(fn((0, 0), iter([]), st)) == []
    assert st.exists and not st.removed and st.timeout_set == 500
    assert st.get[0] == 2  # generation advanced with no data

    # idle tick 2 (gen 3): resident aged out -> state REMOVED
    assert list(fn((0, 0), iter([]), st)) == []
    assert st.removed and not st.exists

    # a later dup arrives fresh: no pair with the evicted resident
    st.timed_out = False
    out = list(fn((0, 0), iter([_nd_batch([(7, 9, SIG_A)])]), st))
    assert out == [] and st.exists


def test_streaming_near_dup_idle_timeout_end_to_end(spark, tmp_path_factory):
    """VERDICT r9 #7 (wire): with idle_timeout_ms, shards that stop seeing
    rows age out via processing-time timeouts — total state rows drop to 0
    while the query idles, and a later duplicate of the evicted doc raises
    no pair."""
    import os
    import time as _t

    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    d = tmp_path_factory.mktemp("idlend")
    src, ckpt, out = str(d / "src"), str(d / "ckpt"), str(d / "out")
    os.makedirs(src)
    schema = "doc_id long, text string"
    text = "the quick brown fox jumps over the lazy dog again and again"

    stream = spark.readStream.schema(schema).parquet(src)
    cands = streaming_near_dup_candidates(
        stream, threshold=0.9, state_mode="window", window_batches=1,
        n_state_shards=2, idle_timeout_ms=300,
    )
    q = (
        cands.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        spark.createDataFrame([(1, text)], schema).write.mode("append").parquet(src)

        def state_rows():
            p = q.lastProgress
            if not p or not p.get("stateOperators"):
                return None
            return p["stateOperators"][0]["numRowsTotal"]

        deadline = _t.time() + 90
        while _t.time() < deadline and (state_rows() or 0) == 0:
            _t.sleep(0.25)
        assert (state_rows() or 0) > 0, "doc 1 never landed in state"
        # now feed NOTHING: empty micro-batches fire the timeouts and the
        # idle shards age out to zero state rows
        deadline = _t.time() + 90
        while _t.time() < deadline and (state_rows() or 0) > 0:
            _t.sleep(0.25)
        assert (state_rows() or 0) == 0, "idle shard state never aged out"
        # duplicate of the evicted doc: admitted fresh, no pair
        spark.createDataFrame([(2, text)], schema).write.mode("append").parquet(src)
        deadline = _t.time() + 90
        while _t.time() < deadline and (state_rows() or 0) == 0:
            _t.sleep(0.25)
        assert (state_rows() or 0) > 0
    finally:
        q.stop()
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()
    } if os.path.exists(out) and os.listdir(out) else set()
    assert (1, 2) not in pairs, pairs


def test_near_dup_idle_timeout_requires_window_mode(spark):
    import pytest

    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as doc_id", "cast(value as string) as text")
    )
    with pytest.raises(ValueError, match="idle_timeout_ms"):
        streaming_near_dup_candidates(
            stream, state_mode="cumulative", idle_timeout_ms=100
        )


def test_write_default_bin_streamed_bit_identical(spark, tmp_path):
    """ADVICE r12: the DEFAULT fixture writer streams through
    toLocalIterator instead of collecting the corpus — the file must be
    byte-identical to the in-RAM writer's, in id order."""
    import numpy as np

    from sptag_spark.io.readers import write_default_bin_streamed

    rng = np.random.default_rng(13)
    mat = rng.normal(size=(1000, 12)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in mat[i]]) for i in range(len(mat))],
        "id long, vector array<float>",
    ).repartition(8)  # out-of-order partitions: the orderBy is the contract
    p_stream = str(tmp_path / "s.bin")
    p_ram = str(tmp_path / "r.bin")
    n = write_default_bin_streamed(df, p_stream, chunk_rows=64)
    assert n == 1000
    write_default_bin(mat, p_ram)
    with open(p_stream, "rb") as a, open(p_ram, "rb") as b:
        assert a.read() == b.read()


def test_streaming_query_dirs_go_with_context(monkeypatch):
    """The streaming serve sink and the near-dup landing live in one
    private dir per (SparkContext, sf_dir, kind): filled once, reused by
    later runs on the same context, and removed when the context is
    collected, so a process leaves none behind. Shown on a stand-in
    context: the session's own dirs must outlive this test."""
    import gc
    import types

    from sptag_spark.queries import ann_queries
    from sptag_spark.queries import streaming_queries as SQ

    monkeypatch.setattr(ann_queries, "_INDEX_CACHE", {})

    class _Context:
        pass

    ctx = _Context()
    owner = types.SimpleNamespace(sparkContext=ctx)
    fills = []
    d = SQ._context_dir(owner, "sf", "stream_neardup", fills.append)
    assert os.path.isdir(d) and fills == [d]
    # a later run on the same context reuses the dir without refilling
    assert SQ._context_dir(owner, "sf", "stream_neardup", fills.append) == d
    assert fills == [d]
    serve = SQ._context_dir(owner, "sf", "stream_serve")
    assert serve != d and os.path.isdir(serve)
    del ctx, owner
    gc.collect()
    assert not os.path.exists(d) and not os.path.exists(serve)
