"""Driver query: Structured Streaming windowed aggregation, oracle-checked.

The reference's only "streaming" is online index mutation (§2.9) — covered
by stream_append_vectors/live_view and their tests. This query exercises the
Spark-native streaming operator a 100 TB ingestion pipeline needs: an
event-time tumbling window with a watermark, executed as a REAL streaming
query (readStream → writeStream, availableNow trigger, memory sink).

Determinism: the events table is one file → one micro-batch → the watermark
never drops rows, so the complete-mode result equals the batch aggregation
and the DuckDB oracle can check it exactly. On a live unbounded stream the
same plan bounds its state by dropping events later than the watermark.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sptag_spark.registry import register
from sptag_spark.streaming.ingest import streaming_event_window_counts

_SINK = "stream_window_counts_sink"
STATE_PARTITIONS = 4  # state-store partitions per stateful query, see below


@contextmanager
def _state_partitions(spark: SparkSession, n: int | None = None):
    """Size the STATE-STORE partition count for a stateful streaming query.

    State partitioning is frozen from ``spark.sql.shuffle.partitions`` when
    the checkpoint is created, and every micro-batch commits one delta file
    per state partition — fixed overhead that scales with the partition
    count, not the data (NOTES backlog: the remaining streaming-block knob).
    These bench-scale demos (fresh checkpoint per run, ≤ tens of thousands
    of state rows) size it down; a production deployment keeps the session
    default so state spreads across the cluster. Scope covers start() AND
    awaitTermination() — availableNow plans every micro-batch inside it —
    then restores, so the batch-side verify joins that execute later keep
    the session's parallelism.

    Default STATE_PARTITIONS = 4 (was 8): r13 measured 8→4 saving
    ~0.5-0.7 s per stateful query (fewer per-batch delta commits). On the
    4-vCPU host, streaming_stateful_dedup at 4 → 2 → 1 state partitions
    cost 1.09 → 0.76 → 0.61 CPU s, so fewer was cheaper there — but most
    of that was the ~55 ms per-task floor of workers importing pyspark
    from pyspark.zip, which the worker daemon entry
    (sptag_spark.pyspark_daemon) has since removed; the count is to be
    measured again without it. Results are partition-count invariant
    (state layout only), pinned by the oracle rows.
    """
    if n is None:
        n = STATE_PARTITIONS
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stream_source_dir(sf_dir: str, table: str = "events") -> str:
    """FileStreamSource needs a DIRECTORY of arriving files; the testdata dir
    is read-only and holds unrelated tables, so expose <table>.parquet
    through a symlink in a per-(sf, table) temp dir (what a real
    deployment's landing directory is). One directory per table: a landing
    dir holding mixed-schema files would feed every stream reading it."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"sptag_stream_{table}_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, f"{table}.parquet"), link)
    return d


def _streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.tables import normalize_event_ts

    # FileStreamSource needs an explicit schema; take it from the actual file
    # so a testdata regen with a different ts encoding (nanos-as-long vs
    # timestamp[us]) can't silently misread the column as the wrong type.
    # raw_table: the session-cached reader (schema inference once, not per run)
    from sptag_spark.tables import raw_table

    src_dir = _stream_source_dir(sf_dir)
    schema = raw_table(spark, sf_dir, "events").schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    )
    agg = streaming_event_window_counts(stream, window="5 minutes", watermark="10 minutes")
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(_SINK)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    snap = spark.table(_SINK)
    return snap.select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "event_type",
        "n",
        F.round(F.col("sum_value"), 2).alias("sum_value"),
    )


register(
    "streaming_window_counts",
    _streaming_window_counts,
    """
SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_epoch,
       event_type,
       COUNT(*) AS n,
       round(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)


# -- SPFresh incremental maintenance (self-verifying) -----------------------
#
# Build SPANN on the even-id half, stream the odd-id half in as an add
# micro-batch (assigned to the EXISTING heads, no rebuild), then search all
# query vectors. Every query — including ones whose vector arrived by
# stream — must self-hit at rank 1 with distance 0, which is only possible
# if streamed vectors are searchable mid-stream.


_last_spfresh_idx = None


def _spfresh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.index.heads import DEFAULT_HEAD_RATIO, select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.queries.ann_queries import _memo
    from sptag_spark.streaming.spfresh import SpannLiveIndex
    from sptag_spark.tables import queries_table, vectors_table

    v = vectors_table(spark, sf_dir).select("id", "vector")
    even = v.filter(F.col("id") % 2 == 0)

    def build():
        from sptag_spark.partitioning import persist_sized

        heads = select_heads(even, ratio=DEFAULT_HEAD_RATIO).persist()
        # same right-sized cache layout as spann_index (head_id-clustered
        # only when the width changes)
        # (r14): every post-add search scans the base through this cache
        postings, _ = persist_sized(
            build_postings(even, heads), key_col="head_id"
        )
        return heads, postings

    # the base half-index is an OFFLINE artifact (memoized like every other
    # index build); the timed path is add_batch + search — serve/maintain
    prebuilt = _memo(spark, sf_dir, "spfresh_base", build)
    # each run builds a fresh live index that pins its base frame;
    # close the PREVIOUS run's (its result has been materialized by then)
    # so repeated bench runs don't accumulate pinned copies
    global _last_spfresh_idx
    if _last_spfresh_idx is not None:
        _last_spfresh_idx.close()
    idx = SpannLiveIndex(even, rebuild_threshold=1 << 62, prebuilt=prebuilt)
    _last_spfresh_idx = idx
    idx.add_batch(v.filter(F.col("id") % 2 == 1))
    from sptag_spark.queries.ann_queries import query_batch

    res = idx.search(
        queries_table(spark, sf_dir), k=10, nprobe=10,
        q_rows=query_batch(spark, sf_dir),
    )
    # |Q|-sized verify aggregation (the ⌈|Q|/128⌉ discipline, r14): res is
    # ≤ |Q|·k scalar rows — the groupBy reuses this clustering instead of
    # fanning to session-wide near-empty reduce tasks
    res = res.repartition(
        max(1, -(-len(query_batch(spark, sf_dir)) // 128)), "query_id"
    )
    return res.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.max(
            (F.col("rank") == 1)
            & (F.col("id") == F.col("query_id"))
            & (F.col("dist") == 0.0)
        ).alias("self_hit"),
        # genuine state readback: proves visibility came from the
        # micro-batch append, not from a rebuild that happened to fire
        F.lit(idx.builds).cast("long").alias("rebuilds"),
    )


def _spfresh_oracle() -> str:
    from sptag_spark.tables import QUERY_MODULUS

    return f"""
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
       TRUE AS self_hit, CAST(0 AS BIGINT) AS rebuilds
FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0
"""


register("spfresh_incremental_search", _spfresh_incremental, _spfresh_oracle())


# -- stateful cross-batch dedup (driver-checked) ----------------------------
#
# streaming/stateful.py's applyInPandasWithState dedup, run as a REAL
# streaming query over the documents landing directory. Determinism: one
# file → one micro-batch, so first-wins-by-doc_id per text key reduces to
# "min doc_id per md5(text)" — exactly SQL-expressible, which is what lets
# a custom stateful operator get a hash-checked row instead of rows-only.
# Cross-batch state transitions are pinned by test_stateful_streaming_dedup.

_DEDUP_SINK = "stream_stateful_dedup_sink"


def _streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.streaming.stateful import streaming_first_wins_dedup

    from sptag_spark.tables import raw_table

    src_dir = _stream_source_dir(sf_dir, table="documents")
    schema = raw_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("doc_id", F.md5("text").alias("text_hash"))
    )
    deduped = streaming_first_wins_dedup(stream, "text_hash", "doc_id")
    with _state_partitions(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(_DEDUP_SINK)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(_DEDUP_SINK).select("doc_id", "text_hash")


register(
    "streaming_stateful_dedup",
    _streaming_stateful_dedup,
    """
SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
FROM documents
GROUP BY md5(text)
""",
)


# -- streaming ANN serving (the socket serve loop, §2.11) --------------------
#
# Queries ARRIVE as a stream (landing directory); every micro-batch is
# answered by the memoized SPANN index through the same ann_search plan the
# batch path uses (streaming/serving.py foreachBatch bridge), appending to a
# parquet sink. Determinism: one file → one micro-batch → the sink holds
# exactly the batch-path answer, so the query self-verifies like ann_spann
# (per-query n_results/self_hit + corpus recall vs exact truth).


def _streaming_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from sptag_spark.index.ann import cached_count
    from sptag_spark.queries.ann_queries import (
        self_verified_search,
        spann_index,
        truth_topk,
    )
    from sptag_spark.streaming.serving import serve_query_stream
    from sptag_spark.tables import DEFAULT_K, QUERY_MODULUS

    heads, postings = spann_index(spark, sf_dir)
    from sptag_spark.tables import raw_table

    src_dir = _stream_source_dir(sf_dir, table="embeddings")
    schema = raw_table(spark, sf_dir, "embeddings").schema
    qstream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .filter(F.col("vec_id") % QUERY_MODULUS == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("vector"),
        )
    )
    # fresh sink/checkpoint per run: the serve work is re-executed and
    # re-timed every run instead of being absorbed by a stale checkpoint.
    # Dirs from PRIOR runs of THIS process are reclaimed here (deleting
    # the current run's sink after return would break the lazily-returned
    # plan) — without this a bench loop leaks one |Q|·k parquet +
    # checkpoint per execution. The PID is part of the prefix so a
    # concurrent bench/test process never has its live sink/checkpoint
    # ripped out from under a running stream; each process reclaims only
    # its own dirs, and a dead process's leftovers fall to the OS tempdir
    # policy like any other tempfile.
    import glob
    import shutil

    prefix = f"sptag_stream_serve_{os.getpid()}_"
    for old in glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}*")):
        shutil.rmtree(old, ignore_errors=True)
    work = tempfile.mkdtemp(prefix=prefix)
    nprobe = max(10, -(-cached_count(heads) * 85 // 1000))
    q = serve_query_stream(
        qstream, heads, postings,
        sink_path=f"{work}/sink", checkpoint_path=f"{work}/ckpt",
        k=DEFAULT_K, nprobe=nprobe,
    )
    q.awaitTermination()
    res = spark.read.parquet(f"{work}/sink").select(
        "query_id", "rank", "id", "dist"
    )
    from sptag_spark.queries.ann_queries import query_batch, truth_hit_arrays

    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.9,
        n_queries=len(query_batch(spark, sf_dir)),
    )


def _streaming_serving_oracle() -> str:
    from sptag_spark.tables import DEFAULT_K, QUERY_MODULUS

    return f"""
SELECT vec_id AS query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS self_hit, TRUE AS recall_ok
FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0
"""


register(
    "streaming_ann_serving", _streaming_ann_serving, _streaming_serving_oracle()
)


# -- streaming near-dup dedup (stateful MinHash-LSH over the ingest feed) ----
#
# The streaming twin of minhash_near_dup, run as a REAL two-micro-batch
# stateful query: the dedup corpus lands as two files, maxFilesPerTrigger=1,
# so pairs whose members arrive in DIFFERENT batches are only findable
# through the cross-batch LSH-bucket state (applyInPandasWithState). The
# emitted candidates are exact-Jaccard-verified batch-side against the
# corpus shingle sets, so the final pair set equals the batch operator's —
# and the DuckDB oracle is the same brute-force all-pairs Jaccard. Emitted
# pairs are batch-order-independent (a pair surfaces when its SECOND member
# arrives, whichever order the two batches run).
#
# LSH recall budget: 32 hashes in 16 two-row bands. True pairs here have
# J ≥ ~0.9 (exact copies and drop-first-token copies), so a pair misses a
# band with prob 1−J² ≈ 0.19 and ALL 16 bands with ≈ 3e-12 — the same
# determinism-by-overwhelming-probability argument minhash_near_dup's
# oracle documents. The est-jaccard gate is set low (0.3) because the exact
# verify decides membership.


def _streaming_near_dup(
    spark: SparkSession,
    sf_dir: str,
    state_mode: str = "cumulative",
    sink: str = "stream_near_dup_sink",
) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sptag_spark.operators.dedup import shingle_hashes
    from sptag_spark.queries.dedup_queries import JACCARD_T, corpus_table
    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    import hashlib

    # the landing layout is deterministic per sf_dir — write it once per
    # (sf, process) and reuse across runs (the timed serve work is the
    # streaming query itself, not re-landing the corpus; same convention
    # as _stream_source_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    work = os.path.join(
        tempfile.gettempdir(), f"sptag_stream_neardup_{os.getpid()}_{tag}"
    )
    corpus = corpus_table(spark, sf_dir)
    if not os.path.exists(f"{work}/docs/_landed"):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(f"{work}/docs", exist_ok=True)
        # two files split by doc parity → two micro-batches; near/exact
        # copies land in the opposite batch from many of their originals,
        # exercising the cross-batch state path. The halves are written
        # EXPLICITLY (one file each): repartition(2, doc_id % 2) hash-
        # partitions the parity VALUE, and murmur3(0) and murmur3(1) are
        # both odd — every row lands in one partition and the second
        # micro-batch would be empty (verified).
        for parity in (0, 1):
            corpus.filter(F.col("doc_id") % 2 == parity).coalesce(
                1
            ).write.mode("append").parquet(f"{work}/docs")
        open(f"{work}/docs/_landed", "w").close()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/docs")
    )
    # window_batches=2 covers both micro-batches of this landing layout,
    # so window mode is exact here (the horizon spans the stream) while
    # still exercising the generation-stamped state layout end-to-end;
    # eviction semantics are pinned by tests/test_io_streaming.py
    # spread each micro-batch's signature pipeline at the corpus-derived
    # width (r14, guide §2.2): a landing file is half the measured batch
    # corpus, so spread_width(corpus) bounds the per-trigger volume — the
    # streaming source itself has no size estimate to derive this from
    from sptag_spark.partitioning import spread_width

    cand = streaming_near_dup_candidates(
        stream, threshold=0.3, bands=16, n_hashes=32,
        state_mode=state_mode, window_batches=2,
        spread_partitions=spread_width(corpus),
    )
    with _state_partitions(spark):
        q = (
            cand.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # the emitted pair set is bounded by the stream's near-dup density
    # (dozens here), so every verify-side frame is pair-bounded: dedup the
    # pairs in ONE task (repartition on the dedup keys at 1 — the
    # dropDuplicates reuses the clustering, so no second exchange and no
    # 32-near-empty-task stage; the batch-4 |Q|-sizing discipline applied
    # to the pair set)
    pairs = (
        spark.table(sink)
        .select("doc_a", "doc_b")
        .repartition(1, "doc_a", "doc_b")
        .dropDuplicates()
    )
    # exact verify, batch-side, against the corpus shingle sets — identical
    # discipline to minhash_near_dup_pairs' verify join. Shingle ONLY the
    # docs that appear in a candidate pair: the verify is an inner join on
    # pair members, so pre-filtering the corpus with the (tiny, in-memory-
    # sink-backed) pair id set is result-identical while cutting the two
    # full-corpus tokenize+shingle passes the sa/sb subtrees paid per run
    # (r13, guide §2.3 "project early" / §3.2 semi-join pre-filter).
    # One map-side explode replaces the former union+distinct (two more
    # 32-partition stages): a left-semi probe side needs no dedup.
    member_ids = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    # spread=False: the semi-joined corpus is pair-member-bounded (~dozens
    # of docs) — the shingle spread repartition exists for full-corpus
    # scans, here it would add an exchange + a 32-task stage for rows that
    # fit one task. The lazy localCheckpoint materializes the tiny shingle
    # table ONCE so the sa/sb branches below read the cached rows instead
    # of re-running the corpus-union scan + semi-join + shingle twice
    # (guide §3.3 materialize shared subtrees / §2.4 remove shuffles).
    sets = shingle_hashes(
        corpus.join(F.broadcast(member_ids), "doc_id", "left_semi"),
        spread=False,
    ).localCheckpoint(eager=False)
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hh").alias("hh_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hh").alias("hh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect(F.col("hh_a"), F.col("hh_b")))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard", inter / (F.col("sz_a") + F.col("sz_b") - inter)
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _streaming_near_dup_oracle() -> str:
    from sptag_spark.queries.dedup_queries import (
        _SH,
        JACCARD_T,
        ORACLE_CORPUS,
    )

    return f"""
WITH corpus AS ({ORACLE_CORPUS}),
{_SH},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {JACCARD_T}
"""


register("streaming_near_dup", _streaming_near_dup, _streaming_near_dup_oracle())


def _streaming_near_dup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state mode (VERDICT r7 #3) through the driver contract:
    same stream, state_mode='window' with the horizon covering both
    micro-batches — output must equal the batch all-pairs oracle exactly,
    pinning the generation-stamped state layout end-to-end."""
    return _streaming_near_dup(
        spark, sf_dir, state_mode="window", sink="stream_near_dup_win_sink"
    )


register(
    "streaming_near_dup_window",
    _streaming_near_dup_window,
    _streaming_near_dup_oracle(),
)


# -- streaming epoch -> ANN-serving composite (r12 VERDICT #5) ---------------
#
# Folds the REAL windowed-count stream into a serving check: each 5-minute
# event window is a serving epoch; its busiest event_type (count desc,
# name asc) is the epoch's traffic summary, and the epoch deterministically
# selects one standing query (epoch index mod |Q|, by query rank) whose
# nearest NON-SELF neighbor is served with exact k-NN and joined onto the
# window row. The streaming side runs as a real readStream -> writeStream
# (availableNow, memory sink); the serve side is the §2.3 batch kernel —
# one composite with a full SQL twin, covering never-driver-sampled
# semantics (windowed stream agg + rank-2 serve) in one hash-checked row.

_EPOCH_SINK = "stream_epoch_serve_sink"


def _stream_epoch_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from sptag_spark.operators.knn import knn
    from sptag_spark.queries.knn_queries import ROUND
    from sptag_spark.streaming.ingest import streaming_event_window_counts
    from sptag_spark.tables import (
        normalize_event_ts,
        queries_table,
        vectors_table,
    )

    from sptag_spark.tables import raw_table

    src_dir = _stream_source_dir(sf_dir)
    schema = raw_table(spark, sf_dir, "events").schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    )
    agg = streaming_event_window_counts(
        stream, window="5 minutes", watermark="10 minutes"
    )
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(_EPOCH_SINK)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    snap = spark.table(_EPOCH_SINK).select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "event_type",
        "n",
    )
    w = Window.partitionBy("window_epoch").orderBy(
        F.col("n").desc(), "event_type"
    )
    wins = (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumnRenamed("event_type", "top_event_type")
    )
    from sptag_spark.queries.ann_queries import query_batch

    qdf = queries_table(spark, sf_dir)
    # the standing query batch is a memoized input artifact: its length and
    # rows replace the per-run count() and collect() jobs (q_rows
    # discipline)
    q_rows = query_batch(spark, sf_dir)
    n_q = len(q_rows)
    qranked = qdf.select("query_id").withColumn(
        "qrn", F.row_number().over(Window.orderBy("query_id"))
    )
    # rank 2 = nearest non-self neighbor (every query vector is in the
    # corpus, so rank 1 is the trivial self-hit)
    nn = (
        knn(vectors_table(spark, sf_dir), qdf, 2, "l2", q_rows=q_rows)
        .filter(F.col("rank") == 2)
        .select(
            "query_id",
            F.col("id").alias("nn_id"),
            F.round("dist", ROUND).alias("nn_dist"),
        )
    )
    sel = wins.withColumn(
        "qrn",
        (F.floor(F.col("window_epoch") / 300) % n_q + 1).cast("int"),
    )
    return (
        sel.join(F.broadcast(qranked), "qrn")
        .join(F.broadcast(nn), "query_id")
        .select(
            "window_epoch", "top_event_type", "n",
            "query_id", "nn_id", "nn_dist",
        )
    )


def _stream_epoch_serve_oracle() -> str:
    from sptag_spark.queries.knn_queries import ROUND, _DIST_SQL
    from sptag_spark.tables import ORACLE_QUERIES, ORACLE_VECTORS

    return f"""
WITH counts AS (
  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_epoch,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
wins AS (
  SELECT window_epoch, event_type AS top_event_type, n FROM (
    SELECT *, row_number() OVER (
      PARTITION BY window_epoch ORDER BY n DESC, event_type
    ) AS rn FROM counts
  ) WHERE rn = 1
),
q AS ({ORACLE_QUERIES}),
v AS ({ORACLE_VECTORS}),
nq AS (SELECT COUNT(*) AS c FROM q),
qr AS (
  SELECT query_id, row_number() OVER (ORDER BY query_id) AS qrn FROM q
),
pairs AS (
  SELECT q.query_id, v.id, {_DIST_SQL["l2"]} AS d FROM q CROSS JOIN v
),
nn AS (
  SELECT query_id, id AS nn_id, round(d, {ROUND}) AS nn_dist FROM (
    SELECT query_id, id, d, row_number() OVER (
      PARTITION BY query_id ORDER BY d, id
    ) AS rank FROM pairs
  ) WHERE rank = 2
)
SELECT w.window_epoch, w.top_event_type, w.n,
       qr.query_id, nn.nn_id, nn.nn_dist
FROM wins w, nq
JOIN qr ON qr.qrn = CAST(floor(w.window_epoch / 300) AS BIGINT) % nq.c + 1
JOIN nn ON nn.query_id = qr.query_id
"""


register(
    "pipeline_stream_epoch_serve",
    _stream_epoch_serve,
    _stream_epoch_serve_oracle(),
)
