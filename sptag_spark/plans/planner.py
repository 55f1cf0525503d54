"""Cost-based planner: declarative "top-k by distance" → physical strategy.

The reference hard-wires strategy to index type: the caller builds a BKT /
KDT / SPANN index and `SearchIndex` dispatches on it
(`AnnService/inc/Core/VectorIndex.h:67-116`, algo selection
`IndexFactory`/`VectorIndex::CreateInstance`). Spark's idiom is the
opposite: the user states the LOGICAL query — "the k nearest vectors to
each query under metric m" (i.e. `ORDER BY dist(vector, q) LIMIT k`) — and
the planner picks the physical operator, the same way Catalyst picks
SortMergeJoin vs BroadcastHashJoin from statistics.

This module is that strategy layer (SURVEY §4 "custom strategy" candidate).
It is deliberately a PYTHON-level planner: injecting a real Catalyst
`SparkStrategy` needs JVM extension jars, while the decision itself only
needs driver-side statistics — which we take from Catalyst's own
`optimizedPlan.stats.sizeInBytes` so filter/projection estimates flow
through for free.

Physical strategies (all return the same (query_id, rank, id, dist)
contract, so the choice is a pure performance/recall trade):

- BRUTE_KERNEL  — exact map-side Arrow top-k + merge rank
  (`operators/knn.py knn`). Exact; cost ~ |V|·|Q|·D per pass; the right
  plan when exactness is required or V is small enough that an index
  build wouldn't amortize.
- SPANN         — head routing + partition-pruned posting scan
  (`index/ann.py ann_search`). Approximate (recall set by nprobe); cost ~
  |Q|·nprobe·|posting|·D; the right plan when a prebuilt index exists or
  V is big and the build amortizes over the batch.
- IVF           — same shape with 1-replica lists (`index/ivf.py`);
  chosen over SPANN only when the caller supplies an IVF index (lists are
  ~8× smaller than SPANN postings, recall correspondingly lower).
- GRAPH         — best-first RNG traversal (`index/graph.py`), the
  in-memory BKT/KDT serving shape; chosen only when the caller supplies a
  prebuilt (edges, entry-heads) graph index and no SPANN index (the
  reference's own preference order: SPANN is the scale path, the graph is
  the in-memory path).

The planner never silently degrades exactness: `exact=True` (or
`recall_target >= 0.999`) always yields BRUTE_KERNEL, matching the
reference's own discipline of answering truth queries with a linear scan
(`Test/src/AlgoTest.cpp` builds truth by brute force).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame

# An index build touches every vector ~replica_count times plus a k-means
# pass; it amortizes only when the brute-force pass the batch would
# otherwise do is bigger. Below this many estimated candidate rows the
# brute kernel wins outright (measured: at 6k×240 queries sf0.01 the
# kernel runs in ~0.4 s while a SPANN build alone costs ~3 s).
BRUTE_ROW_THRESHOLD = 2_000_000

# nprobe needed for a recall target, from the measured sf0.01 operating
# points (tests/test_ann.py: recall 0.93 @ nprobe=10; ~0.85 @ 6;
# ~0.7 @ 3). Conservative step table, first match wins.
_NPROBE_LADDER = [(0.95, 16), (0.9, 10), (0.8, 6), (0.0, 3)]

# Single-query / small-batch SPANN plans dispatch to a warmed
# process-local replica instead of a Spark job when one is memoized on the
# index (warm_replica) — the reference server answers from its loaded
# index (`SPANNIndex.cpp:192-216`, ServiceContext loads artifacts at
# startup). Larger batches go to the distributed plan. SCALING.md "Replica
# dispatch gate" swept 1-512 queries at local[2], warm: the replica
# answered every size 14-380× faster than the plan (0.8 ms vs 0.30 s for
# one query, 51 ms vs 0.73 s for 512), so no crossover lies at or below
# 512, the largest size swept and batch_search's chunk; above it the gate
# is unmeasured.
REPLICA_DISPATCH_MAX_QUERIES = 512


_UNCHECKED = object()  # sentinel: caller wants the raw point, no identity gate


def index_fingerprint(heads, postings=None) -> dict:
    """Cheap structural identity of a SPANN index, for tune-point matching
    (ADVICE r8: a tuned operating point measured on one index must not be
    adopted for an unrelated one). Heads are the small side — one agg of
    (count, dim, sum of head ids) is O(heads); postings contribute their
    row count (which encodes replica_count × posting_limit — the build
    knobs the tune swept). Memoized on the postings DataFrame (the more
    build-specific object) when one is given, else on heads."""
    memo_obj = postings if postings is not None else heads
    fp = getattr(memo_obj, "_sptag_fingerprint", None)
    if fp is None:
        from pyspark.sql import functions as F

        row = heads.select(
            F.count("*").alias("n"),
            F.sum("head_id").alias("s"),
            F.max(F.size("vector")).alias("d"),
        ).first()
        # zero heads → sum/max are null; a sentinel beats a TypeError and
        # (being all-zeros) never matches a real tune's fingerprint
        fp = {
            "heads": int(row["n"]),
            "dim": int(row["d"]) if row["n"] else 0,
            "head_ids_sum": int(row["s"]) if row["n"] else 0,
        }
        if postings is not None:
            fp["posting_rows"] = int(postings.count())
        memo_obj._sptag_fingerprint = fp
    return fp


def tuned_operating_point(
    path: str | None = None, *, fingerprint=_UNCHECKED, k: int | None = None
) -> dict | None:
    """The committed autotuned SPANN operating point — AUTOTUNE.json's
    "chosen" entry (tools/autotune.py sweep: max single-thread QPS at
    recall ≥ target), or None when no tune has been committed. This is the
    DEPLOY half of the reference's auto-tune loop
    (`Tools/nni-auto-tune/main.py` finds the point; operators then run it):
    the TCP server (server.py AnnTcpServer.from_index) and the planner
    consume it as their default serve configuration. Override the file
    location with $SPTAG_AUTOTUNE.

    Identity gate (ADVICE r8): pass ``fingerprint=index_fingerprint(...)``
    to adopt the point ONLY when the tune file records the same
    index_fingerprint — a recall measured on one corpus/build does not
    transfer to another. A file without a recorded fingerprint never
    matches a real one (legacy tunes are reporting-only). Pass ``k`` to
    additionally require the tune's k to match (recall@k does not
    transfer across k). Omitting ``fingerprint`` returns the raw point
    unchecked — for reporting, never for adoption."""
    import json
    import os

    p = (
        path
        or os.environ.get("SPTAG_AUTOTUNE")
        or os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
            "AUTOTUNE.json",
        )
    )
    try:
        with open(p) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return None
    chosen = data.get("chosen")
    if not chosen:
        return None
    if fingerprint is not _UNCHECKED:
        if data.get("index_fingerprint") != fingerprint:
            return None
    if k is not None and data.get("k") is not None and int(data["k"]) != k:
        return None
    return chosen


def replica_footprint_bytes(heads, postings) -> int:
    """Estimated footprint of a store replica over this index: one
    float32 store row plus one int64 id per posting row (4·dim + 8 bytes).
    The shard-sizing rule of ShardedSpannAggregator.for_budget."""
    fp = index_fingerprint(heads, postings)
    return fp["posting_rows"] * (4 * fp["dim"] + 8)


def warm_replica(heads, postings, disk_store_dir=None, value_type="float32"):
    """Load SPANN artifacts into a process-local replica and memoize it
    on the heads DataFrame — the planner's serving tier. Idempotent;
    returns the replica. Call once at serving startup (the reference's
    LoadIndex moment); until called, the planner never pays the
    replica's store build implicitly.

    The replica is serving_local.DiskSpannReplica, SPANN's serving-node
    shape (heads and posting ids in RAM, posting vectors mapped from a
    packed store, `ExtraFullGraphSearcher.h`): exact answers for any
    metric. Its store lives at ``disk_store_dir`` (built or reused
    behind the staleness fingerprint gate) or, without one, in a private
    directory removed with the replica; ``value_type`` is the index's
    declared width (an int8 corpus serves from a 4x-smaller native
    store). The PQ+refine replica is a separate tier that a caller
    chooses explicitly (warm_pq_replica): its resident set is this
    replica's plus the codes, so no memory budget selects it."""
    rep = getattr(heads, "_sptag_replica", None)
    if rep is None:
        from sptag_spark.serving_local import DiskSpannReplica

        rep = DiskSpannReplica(
            heads, postings, disk_store_dir, value_type=value_type
        )
        heads._sptag_replica = rep
    return rep


def warm_pq_replica(heads, postings, codes, books, refine_store=None):
    """Warm (and memoize) the PQ-compressed serving replica — SPANN
    routing over full-precision heads, ADC scoring over M-byte codes
    (serving_local.LocalPqSpannReplica, ivf_pq_search's serve twin).

    ``refine_store`` (serving_local.open_refine_store): exact-rerank the
    ADC candidates from the on-disk float32 matrix — measured at sf0.1
    nprobe 24: recall@10 0.934 vs 0.656 raw ADC at ~same latency, RAM
    still codes-only (SCALING.md r9). The memo is first-warm-wins: warm
    WITH the refine store before serving if refined answers are wanted."""
    rep = getattr(heads, "_sptag_pq_replica", None)
    if rep is None:
        from sptag_spark.serving_local import LocalPqSpannReplica

        rep = LocalPqSpannReplica(
            heads, postings, codes, books, refine_store=refine_store
        )
        heads._sptag_pq_replica = rep
    return rep


def _nprobe_for(recall_target: float) -> int:
    for floor, nprobe in _NPROBE_LADDER:
        if recall_target >= floor:
            return nprobe
    return 3


def _catalyst_size_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for the OPTIMIZED plan — reflects
    parquet footer stats and survives filters/projections (a filtered scan
    estimates smaller than the full table), which a driver-side count()
    would have to pay a job to learn."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


# Catalyst returns spark.sql.defaultSizeInBytes (Long.Max) when it has no
# real estimate — notably for cached/local relations. Anything above this
# is "unknown", not "huge".
_UNKNOWN_SIZE = 1 << 50


def _estimate_rows(df: DataFrame) -> int:
    size = _catalyst_size_bytes(df)
    if size < _UNKNOWN_SIZE:
        return max(1, size // _EST_ROW_BYTES)
    # no usable estimate (cached / parallelized relation) → pay one cheap
    # count job; these inputs are by construction already in memory
    return max(1, df.count())


# average serialized row width of (id BIGINT, vector ARRAY<FLOAT> dim~64,
# meta) used to turn sizeInBytes into a row estimate; only order-of-
# magnitude matters for the threshold test.
_EST_ROW_BYTES = 300


def _query_batch_rows(df: DataFrame) -> int:
    """Exact row count for the QUERY side of the cost comparison.

    Catalyst's sizeInBytes cannot see the selectivity of a non-pushable
    predicate (e.g. `id % 25 = 0` derives the query batch from the base
    table): without CBO column stats the Filter inherits its child's
    estimate, so an 80-row batch reads as the full table. Feeding that into
    brute_cost() inflates |V|·|Q| ~28× and flips the decision to
    build-an-index-per-batch — the most expensive possible mistake.

    Query batches are small by contract (every serve path collects them to
    a broadcast), so one count() job — a parquet-footer/metadata-only scan
    — is strictly cheaper than a single misplanned strategy choice. The
    big VECTORS side keeps the free Catalyst estimate."""
    return max(1, df.count())


@dataclass
class CostModel:
    """Observed-cost model: per-strategy throughputs measured from real
    runs, refined online — the feedback loop a static row-count ladder
    lacks (Catalyst's analog: CBO statistics refreshed by ANALYZE).

    Units are work-items per second of the dominant kernel:
      brute_pairs_per_sec  — (vector, query) pairs the exact kernel scores
      scan_rows_per_sec    — posting candidate rows the ANN serve scores
      build_rows_per_sec   — vectors the SPANN build assigns (kmeans +
                             replica RNG prune, the expensive pass)
    fixed_overhead_sec is the per-job floor (scheduling + Arrow spin-up)
    every strategy pays regardless of size; it is what makes tiny inputs
    brute-always even when throughput would say otherwise.

    Seeds come from sf0.1 local[32] bench medians; `observe()` folds each
    measured (units, seconds) into an EWMA so a deployment's own hardware
    re-calibrates the model after a few queries."""

    brute_pairs_per_sec: float = 2.0e6
    scan_rows_per_sec: float = 1.0e6
    build_rows_per_sec: float = 2.0e5
    fixed_overhead_sec: float = 0.3
    alpha: float = 0.5  # EWMA weight of the newest observation

    _FIELD = {
        "brute": "brute_pairs_per_sec",
        "scan": "scan_rows_per_sec",
        "build": "build_rows_per_sec",
    }

    def observe(self, kind: str, units: float, seconds: float) -> None:
        """Fold one measured run (work-items, wall seconds) into the model.
        Seconds below the fixed overhead are clamped — they would imply
        infinite throughput."""
        field_name = self._FIELD[kind]
        eff = max(seconds - self.fixed_overhead_sec, 1e-3)
        rate = units / eff
        old = getattr(self, field_name)
        setattr(self, field_name, (1 - self.alpha) * old + self.alpha * rate)

    def brute_cost(self, n_vectors: int, n_queries: int) -> float:
        return (
            self.fixed_overhead_sec
            + n_vectors * n_queries / self.brute_pairs_per_sec
        )

    def spann_serve_cost(
        self, n_vectors: int, n_queries: int, nprobe: int
    ) -> float:
        # posting size ≈ replica_count / head_ratio, independent of N (both
        # scale linearly) — bounded by the posting cut
        from sptag_spark.index.heads import DEFAULT_HEAD_RATIO
        from sptag_spark.index.postings import POSTING_LIMIT, REPLICA_COUNT

        posting = min(REPLICA_COUNT / DEFAULT_HEAD_RATIO, float(POSTING_LIMIT))
        cand = n_queries * nprobe * posting
        return self.fixed_overhead_sec + cand / self.scan_rows_per_sec

    def spann_build_cost(self, n_vectors: int) -> float:
        return self.fixed_overhead_sec + n_vectors / self.build_rows_per_sec


# module-level default: shared across plan_topk calls in a session so
# observations accumulate
DEFAULT_COST_MODEL = CostModel()


@dataclass
class TopKByDistance:
    """Logical node: for each query vector, the k nearest rows of
    ``vectors`` under ``metric`` — what `ORDER BY dist(vector, q) LIMIT k`
    means per query.

    ``filter`` is a metadata predicate on the vectors table, applied BELOW
    the ranking (true top-k among survivors — the exact-engine semantic,
    SURVEY §4; the reference may return <k under MaxCheck budget)."""

    vectors: DataFrame
    queries: DataFrame
    k: int = 10
    metric: str = "l2"
    exact: bool | None = None  # None → decide from recall_target
    recall_target: float = 0.9
    filter: Column | None = None


@dataclass
class PlannedSearch:
    strategy: str  # BRUTE_KERNEL | SPANN | IVF
    spec: TopKByDistance
    reasons: list[str] = field(default_factory=list)
    est_vector_rows: int = 0
    nprobe: int | None = None
    _index: tuple[DataFrame, DataFrame] | None = None
    # how the last execute()/execute_local() actually answered:
    # "spark" | "replica" (observability for tests/ops)
    last_dispatch: str | None = None

    def _replica(self):
        """The warmed replica for this plan's index, if any; only
        SPANN plans without a metadata filter are replica-servable (the
        replica mirrors ann_search exactly — tests/test_serving_local.py —
        but knows nothing of filter predicates). Falls back to a warmed PQ
        replica (warm_pq_replica — codes + ADC, VERDICT r8 #6) when no
        full-vector replica exists; its LUT is L2-only, so the fallback is
        gated on the plan's metric. Dispatch label: "replica" vs
        "pq_replica" in last_dispatch."""
        if self.strategy != "SPANN" or self.spec.filter is not None:
            return None
        if self._index is None:
            return None
        rep = getattr(self._index[0], "_sptag_replica", None)
        if rep is not None:
            return rep
        if self.spec.metric == "l2":
            return getattr(self._index[0], "_sptag_pq_replica", None)
        return None

    def explain(self) -> str:
        lines = [
            f"TopKByDistance(k={self.spec.k}, metric={self.spec.metric}, "
            f"recall_target={self.spec.recall_target})",
            f"  strategy: {self.strategy}"
            + (f" (nprobe={self.nprobe})" if self.nprobe else ""),
            f"  est vector rows: ~{self.est_vector_rows:,}",
        ]
        lines += [f"  - {r}" for r in self.reasons]
        return "\n".join(lines)

    def _serve_replica(self, rep, q_rows=None):
        """Answer through the warmed replica; → pandas DataFrame in the
        (query_id, rank, id, dist) contract."""
        import numpy as np
        import pandas as pd

        s = self.spec
        if q_rows is None:
            q_rows = [
                (int(r["query_id"]), r["vector"])
                for r in s.queries.select("query_id", "vector").collect()
            ]
        from sptag_spark.index.ann import SEARCH_INTERNAL_RESULT_NUM

        rows = rep.batch_search(
            [(qid, np.asarray(v, dtype=np.float64)) for qid, v in q_rows],
            k=s.k,
            nprobe=self.nprobe or SEARCH_INTERNAL_RESULT_NUM,
            metric=s.metric,
        )
        return pd.DataFrame(
            rows, columns=["query_id", "rank", "id", "dist"]
        ).astype({"query_id": "int64", "rank": "int64", "id": "int64"})

    def execute_local(self, q_rows=None):
        """ms-scale serving entry: → pandas DataFrame, answering WITHOUT
        any Spark job when a warmed replica exists (warm_replica) and the
        batch is serve-sized. Pass ``q_rows`` ([(query_id, vector), ...])
        to skip even the query-batch collect — the path a request handler
        takes with vectors already in hand (the reference server parses
        the wire query straight to a RAM search, `SPANNIndex.cpp:192`).
        Falls back to the distributed plan (one Spark job) otherwise —
        including when ``q_rows`` itself exceeds
        REPLICA_DISPATCH_MAX_QUERIES (ADVICE r7: a large explicit batch
        must not be served single-threaded on the replica; it becomes a
        createDataFrame + distributed execute)."""
        rep = self._replica()
        n_q = (
            len(q_rows)
            if q_rows is not None
            else _query_batch_rows(self.spec.queries)
        )
        if rep is not None and n_q <= REPLICA_DISPATCH_MAX_QUERIES:
            self.last_dispatch = getattr(rep, "dispatch_label", "replica")
            return self._serve_replica(rep, q_rows)
        self.last_dispatch = "spark"
        if q_rows is not None:
            # rebuild the same physical plan over the explicit batch as a
            # DataFrame, then run it distributed
            from dataclasses import replace

            spark = self.spec.queries.sparkSession
            from pyspark.sql.types import StructType

            qdf = spark.createDataFrame(
                [(int(qid), [float(x) for x in v]) for qid, v in q_rows],
                schema=StructType(
                    [
                        self.spec.queries.schema["query_id"],
                        self.spec.queries.schema["vector"],
                    ]
                ),
            )
            plan = replace(
                self, spec=replace(self.spec, queries=qdf), last_dispatch=None
            )
            out = plan.execute().toPandas()
            self.last_dispatch = plan.last_dispatch
            return out
        return self.execute().toPandas()

    def execute(self) -> DataFrame:
        s = self.spec
        # serving fast path: a warmed replica + a small batch answers
        # without a distributed stage (the rows come back through ONE
        # Arrow createDataFrame so the return contract stays a DataFrame;
        # use execute_local() to skip Spark entirely). Row-identical to
        # the ann_search plan — the replica mirrors its routing/scoring
        # (pinned by tests).
        rep = self._replica()
        if rep is not None:
            n_q = _query_batch_rows(s.queries)
            if n_q <= REPLICA_DISPATCH_MAX_QUERIES:
                pdf = self._serve_replica(rep)
                self.last_dispatch = getattr(rep, "dispatch_label", "replica")
                return s.queries.sparkSession.createDataFrame(
                    pdf, schema="query_id long, rank long, id long, dist double"
                )
        self.last_dispatch = "spark"
        src = s.vectors
        if s.filter is not None:
            src = src.filter(s.filter)
        if self.strategy == "BRUTE_KERNEL":
            from sptag_spark.operators.knn import knn

            return knn(src, s.queries, k=s.k, metric=s.metric)
        if self.strategy == "GRAPH":
            from sptag_spark.index.graph import graph_search_broadcast

            edges, entry_heads = self._index
            # the walk MUST see the full vector table — edges reference
            # every id; a filtered matrix would misalign the CSR index.
            # The predicate applies to the walked results (post-filter —
            # like the reference's in-traversal checkFilter, this can
            # return <k; the exact path is the true-top-k-of-survivors
            # semantic)
            res = graph_search_broadcast(
                s.vectors.select("id", "vector"), edges, s.queries,
                k=s.k, heads=entry_heads, metric=s.metric,
            )
            if s.filter is not None:
                from pyspark.sql import Window
                from pyspark.sql import functions as F

                w = Window.partitionBy("query_id").orderBy("dist", "id")
                res = (
                    res.join(src.select("id"), "id")
                    .withColumn("rank", F.row_number().over(w).cast("long"))
                    .filter(F.col("rank") <= s.k)
                    .select("query_id", "rank", "id", "dist")
                )
            return res
        heads, postings = self._index
        if s.filter is not None:
            # the predicate prunes posting rows before scoring; same
            # filter-below-rank semantics as the exact path (survivor
            # top-k), at the cost of scanning the same routed postings
            postings = postings.join(src.select("id"), "id")
        if self.strategy == "IVF":
            from sptag_spark.index.ivf import ivf_search

            return ivf_search(
                s.queries, heads, postings, k=s.k,
                nprobe=self.nprobe, metric=s.metric,
            )
        from sptag_spark.index.ann import ann_search

        return ann_search(
            s.queries, heads, postings, k=s.k,
            nprobe=self.nprobe, metric=s.metric,
        )


def plan_topk(
    spec: TopKByDistance,
    spann_index: tuple[DataFrame, DataFrame] | None = None,
    ivf_index: tuple[DataFrame, DataFrame] | None = None,
    graph_index: tuple[DataFrame, DataFrame] | None = None,
    brute_row_threshold: int = BRUTE_ROW_THRESHOLD,
    cost_model: CostModel | None = None,
) -> PlannedSearch:
    """Choose the physical strategy for a TopKByDistance node.

    Decision procedure (first match wins), mirroring how Catalyst picks
    joins from size stats + hints:

    1. exactness required  → BRUTE_KERNEL (never approximate silently)
    2. prebuilt index supplied → use it, in the reference's own preference
       order: SPANN (scale path, most replicas) > IVF > GRAPH (in-memory
       path; graph_index = (edges, entry_heads))
    3. no cost_model: small V (Catalyst size estimate under threshold) →
       BRUTE_KERNEL (an index build would cost more than the scan it saves)
       — the static ladder.
       With a cost_model: estimated seconds decide — brute_cost(|V|,|Q|)
       vs spann_build_cost(|V|) + spann_serve_cost(...), from OBSERVED
       throughputs (the ladder's thresholds, learned instead of guessed).
    4. otherwise → build SPANN once for the batch and search it
    """
    must_exact = bool(spec.exact) or (
        spec.exact is None and spec.recall_target >= 0.999
    )
    est_rows = _estimate_rows(spec.vectors)
    reasons: list[str] = []

    if must_exact:
        reasons.append(
            "exact result required"
            + ("" if spec.exact else f" (recall_target={spec.recall_target})")
        )
        return PlannedSearch("BRUTE_KERNEL", spec, reasons, est_rows)

    nprobe = _nprobe_for(spec.recall_target)
    if spann_index is not None:
        # adopt the committed autotuned point when (a) the tune file's
        # index_fingerprint proves it was measured on THIS index at THIS k
        # (ADVICE r8 — a recall measured elsewhere does not transfer), and
        # (b) its MEASURED recall clears this plan's target with a cheaper
        # probe than the static ladder's conservative step (never raise
        # nprobe from here — the ladder stays the recall floor;
        # AUTOTUNE.json is the measured knee). Fresh-build paths below
        # never adopt: their heads/postings don't exist yet, so no
        # fingerprint can match.
        point = tuned_operating_point(
            fingerprint=index_fingerprint(*spann_index), k=spec.k
        )
        if (
            point
            and point.get("recall_at_k", 0.0) >= spec.recall_target
            and point.get("nprobe") is not None
            and int(point["nprobe"]) < nprobe
        ):
            nprobe = int(point["nprobe"])
            reasons.append(
                f"autotuned operating point adopted (nprobe={nprobe}, "
                f"measured recall {point['recall_at_k']}, "
                f"fingerprint-matched)"
            )
        reasons.append("prebuilt SPANN index supplied — zero build cost")
        return PlannedSearch(
            "SPANN", spec, reasons, est_rows, nprobe, _index=spann_index
        )
    if ivf_index is not None:
        reasons.append("prebuilt IVF index supplied — zero build cost")
        return PlannedSearch(
            "IVF", spec, reasons, est_rows, nprobe, _index=ivf_index
        )
    if graph_index is not None:
        reasons.append(
            "prebuilt RNG graph supplied — in-memory traversal serving"
        )
        return PlannedSearch(
            "GRAPH", spec, reasons, est_rows, nprobe, _index=graph_index
        )
    if cost_model is not None:
        est_q = _query_batch_rows(spec.queries)
        c_brute = cost_model.brute_cost(est_rows, est_q)
        c_spann = cost_model.spann_build_cost(est_rows) + cost_model.spann_serve_cost(
            est_rows, est_q, nprobe
        )
        if c_brute <= c_spann:
            reasons.append(
                f"observed-cost: brute ~{c_brute:.2f}s ≤ "
                f"build+serve ~{c_spann:.2f}s"
            )
            return PlannedSearch("BRUTE_KERNEL", spec, reasons, est_rows)
        reasons.append(
            f"observed-cost: build+serve ~{c_spann:.2f}s < "
            f"brute ~{c_brute:.2f}s — building SPANN"
        )
    elif est_rows <= brute_row_threshold:
        reasons.append(
            f"~{est_rows:,} rows ≤ threshold {brute_row_threshold:,}: "
            "exact scan is cheaper than an index build"
        )
        return PlannedSearch("BRUTE_KERNEL", spec, reasons, est_rows)
    else:
        reasons.append(
            f"~{est_rows:,} rows > threshold {brute_row_threshold:,}: "
            "building SPANN (head routing + partition-pruned posting scan)"
        )
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings

    src = spec.vectors.select("id", "vector")
    heads = select_heads(src, metric=spec.metric)
    postings = build_postings(src, heads, metric=spec.metric)
    return PlannedSearch(
        "SPANN", spec, reasons, est_rows, nprobe, _index=(heads, postings)
    )
