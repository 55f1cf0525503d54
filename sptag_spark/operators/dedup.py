"""Deduplication operators for large-scale training-data pipelines.

Four families, each with a clear 100 TB story:

- exact:     md5(text) hash → groupBy → keep min id. One shuffle on a short
             hash key; the classic first pass.
- MinHash+LSH: shingle → seeded minhash signature → band buckets → candidate
             pairs → exact-Jaccard verify. The candidate join is on short hash
             keys, never on raw text; verification touches only candidates.
- SimHash:   per-token hash bits → weighted bit vote → compact integer
             fingerprint; near-dup = small Hamming distance. One groupBy.
- embedding: cosine-similarity pairs via epsilon-margin cluster blocking —
             exact (provably complete via triangle inequality) yet fully
             distributed; per-block BLAS matmul, never an O(N²) driver
             collect.

Hashing: md5-hex where a value must match the DuckDB oracle byte-for-byte
(exact dedup, simhash nibbles); engine-internal hashing (shingle hashes,
minhash, LSH buckets) is xxhash64 — int64 keys through every shuffle, and
the oracle only ever checks the exact-verified outputs. Python appears only
in Arrow-batched kernels (the embedding block matmul); everything else is
JVM columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sptag_spark.functions.text import (
    md5_hex,
    seeded_min_hash,
    token_shingles,
    tokens,
)

N_MINHASH = 16
SHINGLE_N = 3


def dedup_exact_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: all members of text-hash groups with >1 member.

    Returns (doc_id, group_min BIGINT, group_size BIGINT); `group_min` is the
    canonical survivor (smallest id), so `doc_id != group_min` rows are the
    drop set.
    """
    hashed = docs.select(
        F.col(id_col).alias("doc_id"), md5_hex(F.col(text_col)).alias("h")
    )
    w = Window.partitionBy("h")
    return (
        hashed.withColumn("group_min", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .filter(F.col("group_size") > 1)
        .select("doc_id", "group_min", "group_size")
    )


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — distinct n-token shingles, exploded."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_shingles(F.col(text_col), n)).alias("shingle"),
    )


def shingle_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread: bool = True,
) -> DataFrame:
    """(doc_id, hh, sz): per-doc array of distinct xxhash64 shingle hashes.

    This is the narrow side table the whole MinHash family derives from —
    raw text is tokenized and shingled exactly once, and everything
    downstream (signatures, LSH buckets, exact-Jaccard verify) works on
    int64 arrays. Docs with < n tokens (empty shingle set) drop out.

    Small inputs are re-spread before the map pass: a corpus that arrives
    as one file is one scan split, and the per-row shingle+hash work would
    otherwise run on a single core. The width is scale-adaptive
    (partitioning.spread_width, r14): sized from the input's estimated
    bytes and capped at the session parallelism, so a real deployment
    still spreads to every core (and a ≥ cores-splits input skips the
    exchange entirely) while a bench-scale corpus gets a handful of tasks
    instead of ``cores`` near-empty ones. Callers whose input is PROVABLY
    tiny by construction (e.g. a verify pass restricted to candidate-pair
    members) pass ``spread=False`` to skip the exchange + near-empty-task
    stage the spread would cost them; the output rows are identical either
    way."""
    from sptag_spark.partitioning import spread_width

    if spread:
        target = spread_width(docs)
        if docs.rdd.getNumPartitions() < target:
            docs = docs.repartition(target)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            token_shingles(F.col(text_col), SHINGLE_N),
            lambda s: F.xxhash64(s),
        ).alias("hh"),
    ).filter(F.size("hh") > 0).withColumn("sz", F.size("hh"))


def minhash_signature(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, seed, minhash) — one row per hash function, from a SINGLE
    text scan. The seed fan-out happens via explode BELOW the minhash
    projection: the Generate is a barrier Catalyst cannot collapse
    projections through, so tokenize/shingle/hash run once per doc, not once
    per seed (the collapsed form re-inlines the shingle expression 16× and
    runs ~3× slower end-to-end). Per (doc, seed) row the minhash is then an
    array_min over cheap int-int xxhash64 re-hashes."""
    base = shingle_hashes(docs, id_col, text_col)
    exploded = base.select(
        "doc_id", "hh",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed"),
    )
    return exploded.select(
        "doc_id",
        "seed",
        F.array_min(
            F.transform("hh", lambda h: F.xxhash64(F.col("seed"), h))
        ).alias("minhash"),
    )


def minhash_sig_array(
    sets: DataFrame, n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, sig ARRAY<LONG>): the full MinHash signature as ONE array
    column, map-only from the (doc_id, hh) side table. One output row per
    doc — the hh array is traversed n_hashes times WITHIN one projection
    row (cache-hot), never exploded into n_hashes copies of itself. The
    long-format twin (minhash_signature) explodes seeds below the shingle
    barrier, which is right when the consumer wants long rows; for banding
    it shipped the ~1.6 KB hh array 16× per doc and fed a 10M-group
    collect_list+string agg at the ×256 probe — the measured GC wall this
    shape removed (SCALING.md r7)."""
    # NB: the per-seed lambda must be unary — F.transform inspects lambda
    # arity and passes the ELEMENT INDEX as a second argument, which would
    # silently shadow a `s=s` default binding
    def seed_hash(s: int):
        return lambda h: F.xxhash64(F.lit(s), h)

    return sets.select(
        "doc_id",
        F.array(
            *[
                F.array_min(F.transform("hh", seed_hash(s)))
                for s in range(n_hashes)
            ]
        ).alias("sig"),
    )


def banded_buckets(
    sig_df: DataFrame, rows_per_band: int = 1, n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, seed, minhash) LSH bucket keys from array signatures,
    map-only: r=1 buckets are the signature values themselves (identical
    to the long-format path — the oracle-equality configuration); r>1
    band keys hash the band's r consecutive slots directly
    (xxhash64(band, sig[i..]) — value-equivalent partitioning to the
    string-join form it replaces, no collect_list, no strings)."""
    if rows_per_band <= 1:
        entries = [
            F.struct(
                F.lit(s).cast("int").alias("seed"),
                F.col("sig")[s].alias("minhash"),
            )
            for s in range(n_hashes)
        ]
    else:
        entries = [
            F.struct(
                F.lit(b).cast("int").alias("seed"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col("sig")[i]
                        for i in range(
                            b * rows_per_band, (b + 1) * rows_per_band
                        )
                    ],
                ).alias("minhash"),
            )
            for b in range(n_hashes // rows_per_band)
        ]
    return sig_df.select(
        "doc_id", F.explode(F.array(*entries)).alias("bk")
    ).select("doc_id", F.col("bk.seed").alias("seed"), F.col("bk.minhash").alias("minhash"))


def _bucket_candidates(
    banded: DataFrame, min_band_matches: int = 1
) -> DataFrame:
    """Bucket self-join + ≥m-band filter over (doc_id, seed, minhash)
    bucket keys — the shared tail of both banding front-ends."""
    a = banded.alias("a")
    b = banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.seed") == F.col("b.seed"))
        & (F.col("a.minhash") == F.col("b.minhash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    if min_band_matches > 1:
        return (
            joined.groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("_m"))
            .filter(F.col("_m") >= min_band_matches)
            .select("doc_a", "doc_b")
        )
    return joined.distinct()


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = 1, min_band_matches: int = 1
) -> DataFrame:
    """Candidate pairs: docs sharing an LSH band bucket.

    rows_per_band=1 (default): a bucket is a single (seed, minhash) value —
    maximum recall (miss probability (1-J)^n_hashes, ≤ 4e-7 at J=0.6 with 16
    hashes), which is what lets the exact-verify output hash-match a
    brute-force oracle. Precision comes entirely from the verify step.

    rows_per_band=r>1: classic banding — a bucket is the hash of r
    consecutive seeds' minhashes, so low-similarity pairs stop becoming
    candidates (P(candidate) = 1-(1-J^r)^(n/r)). This is the 100 TB knob:
    at web scale the 1-row-band candidate set grows quadratically in bucket
    occupancy and the verify join becomes the bottleneck; r=2..4 trades a
    bounded recall loss near the threshold for orders less verify work.

    min_band_matches=m>1 keeps only pairs colliding in ≥m bands (the count
    is a map-side-combinable groupBy over the same join output `distinct`
    would shuffle anyway). Random non-dup pairs almost always collide on
    exactly one band, so m=2 cuts the verify set ~100× while a true pair at
    J≥0.6 with 16 one-row bands misses with P(X≤1|Binom(16,0.6)) ≈ 1.1e-5.

    Either way the self-join is on short int keys and `distinct` bounds the
    output; the band aggregation is a map-side-combinable groupBy."""
    if rows_per_band > 1:
        banded = (
            signatures.withColumn(
                "band", (F.col("seed") / rows_per_band).cast("int")
            )
            .groupBy("doc_id", "band")
            .agg(
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("seed", "minhash")
                                )
                            ),
                            lambda s: s["minhash"].cast("string"),
                        ),
                        ",",
                    )
                ).alias("minhash")
            )
            .withColumnRenamed("band", "seed")
        )
        signatures = banded
    return _bucket_candidates(signatures, min_band_matches)


def exact_jaccard(
    shingles: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Exact n-gram Jaccard per pair: |A∩B| via shingle equi-join, |A∪B| =
    |A|+|B|-|A∩B|. If `pairs` given, restrict to those (the LSH-verified
    path); else all pairs sharing ≥1 shingle (exact path, test scale)."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if pairs is not None:
        # Restrict BEFORE the shingle join: candidates are few (LSH output),
        # so broadcast them and only intersect candidate pairs' shingle sets —
        # the unrestricted shingle self-join blows up on frequent shingles.
        sa = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
        sb = shingles.select(
            F.col("doc_id").alias("_b_id"), F.col("shingle").alias("shingle_b")
        )
        inter = (
            F.broadcast(pairs)
            .join(sa, "doc_a")
            .join(
                sb,
                (F.col("doc_b") == F.col("_b_id"))
                & (F.col("shingle") == F.col("shingle_b")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        a = shingles.alias("sa")
        b = shingles.alias("sb")
        inter = (
            a.join(
                b,
                (F.col("sa.shingle") == F.col("sb.shingle"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")),
            )
            .groupBy(
                F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("n_inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# Observed-occupancy dispatch budget for rows_per_band="auto": the r=1
# bucket grouping emits sum_b C(c_b, 2) candidate pairs; that sum is
# measured from the SAME grouped-bucket table the candidate generation
# consumes (folded — no standalone probe job; VERDICT r7 measured the
# separate probe at +72% wall at sf0.1). Measured regimes (SCALING.md):
# 174k rows at sf0.1 and 816k at the ×64 probe — negligible either way —
# vs 40.1M at ×256 (1.28M docs), where pair volume dominated wall and grew
# quadratically in bucket occupancy. Above the budget, banding coarsens to
# rows_per_band=2 (min_band_matches=1): measured −25% end-to-end at ×256
# with zero pair loss there; worst-case recall exactly at J=threshold is
# 1-(1-J²)^8 ≈ 0.97 — the documented web-scale trade. Below it, 1-row
# bands keep maximum recall for free.
AUTO_PAIR_BUDGET = 2_000_000


def _pairs_within_buckets(buckets: DataFrame) -> DataFrame:
    """(doc_a, doc_b) per bucket from a grouped (seed, minhash, ids) table
    whose ids arrays are sorted — one ordered pair per band collision,
    row-identical to the (seed, minhash) self-join it replaces but with
    zero additional shuffle: pairs explode map-side from the already
    grouped buckets."""
    return buckets.select(
        F.posexplode("ids").alias("_i", "doc_a"), "ids"
    ).select(
        "doc_a",
        F.explode(
            F.slice("ids", F.col("_i") + F.lit(2), F.size("ids"))
        ).alias("doc_b"),
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    rows_per_band: int | str = "auto",
    min_band_matches: int | str = "auto",
    auto_pair_budget: int = AUTO_PAIR_BUDGET,
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates → exact-Jaccard verify → pairs ≥ threshold.
    (doc_a, doc_b, jaccard).

    The 100 TB shape: raw text is shingled ONCE into the narrow
    (doc_id, hash-array) side table from shingle_hashes(), persisted for the
    query's lifetime (at warehouse scale this is a written table, not a
    cache); signatures, LSH buckets, and the verify step all derive from it.
    Verification is pair-level — candidate pairs join the side table twice
    and compute size(array_intersect)/size(union) over the int64 hash
    arrays, so the cost is O(candidates · shingles-per-doc), never a
    corpus-wide shingle self-join. Jaccard over 64-bit shingle hashes equals
    Jaccard over the shingles themselves up to a ~1e-15 collision
    probability per pair. Both verify joins are plain equi-joins on doc_id:
    Catalyst broadcasts the small side at test scale and falls back to
    sort-merge when the corpus doesn't fit an executor.

    ``rows_per_band`` / ``min_band_matches`` pass through to
    lsh_candidate_pairs. The default ``"auto"`` is an observed-occupancy
    dispatch (the components.py size-dispatch discipline), FOLDED into the
    banding pass itself: the r=1 buckets are grouped once
    (groupBy(seed, minhash) → sorted id arrays, persisted), the exact
    candidate-pair count sum_b C(c_b, 2) is a trivial agg over that small
    grouped table, and when it clears ``auto_pair_budget`` the candidates
    explode map-side from the SAME table — the occupancy measurement costs
    no standalone probe job (VERDICT r7 measured the unfolded probe at
    +72% wall at sf0.1). Two further short-circuits skip even the
    occupancy sync: a caller-supplied or memoized doc count n with
    16·C(n,2) ≤ budget proves the worst case fits (no job at all), and an
    explicit integer ``rows_per_band`` bypasses the dispatch entirely. An
    explicit integer ``min_band_matches`` is honored under every dispatch
    outcome (only ``"auto"`` is reassigned). Under the budget the
    max-recall configuration (1-row bands, ≥2 matching seeds — what lets
    the verify output hash-match a brute-force oracle) is chosen; above it
    banding coarsens to ``rows_per_band=2, min_band_matches=1`` — measured
    −25% end-to-end at the ×256 probe with zero pair loss there,
    worst-case recall at exactly J=threshold 1-(1-J²)^8 ≈ 0.97
    (SCALING.md). The chosen configuration is attached to the result as
    ``_sptag_lsh_config`` for tests/observability.

    ``sets``: a caller-built (doc_id, hh, sz) side table replacing the
    internal shingle_hashes scan — for consumers that derive OTHER per-doc
    columns from the same text pass (dedup_clusters carries md5 alongside
    the shingles so its exact-dup edges don't re-scan the corpus; r13).
    Must be row-identical to shingle_hashes(docs): same distinct-shingle
    xxhash64 arrays, empty-shingle docs dropped."""
    if sets is None:
        sets = shingle_hashes(docs, id_col, text_col)
    sets = sets.persist()
    # ONE array-signature row per doc, map-only from the pinned hh table
    # (the long-format explode shipped hh 16× per doc and the r>1 banding
    # paid a 10M-group collect_list+string agg at ×256 — SCALING.md r7);
    # persisted because occupancy measurement and banding both consume it.
    sig_df = minhash_sig_array(sets).persist()
    pinned = [sets, sig_df]
    cands = None
    if rows_per_band == "auto":
        n_docs = getattr(docs, "_sptag_cached_count", None)
        if (
            n_docs is not None
            and N_MINHASH * n_docs * (n_docs - 1) // 2 <= auto_pair_budget
        ):
            # worst case (every doc in one bucket, all 16 seeds) already
            # clears the budget — no occupancy job, no driver sync
            rows_per_band = 1
            if min_band_matches == "auto":
                min_band_matches = 2
        else:
            # measure, don't guess — but fold: group the r=1 buckets ONCE
            # (the same shuffle the candidate generation needs), read the
            # exact pair count sum_b C(c_b, 2) off the small persisted
            # grouped table, and when under budget explode candidates from
            # it map-side. Single-occupant buckets carry no pairs and are
            # dropped before persist. (Same observed-size dispatch as
            # connected_components, minus the standalone probe job.)
            # Right-size the bucket-grouping exchange (r14, guide §2.2):
            # collect_list has no map-side combine, so the shuffle moves
            # every (doc_id, seed, minhash) row regardless — an explicit
            # key-repartition at the input-derived width replaces the
            # session-default-width exchange the groupBy would plan, and
            # the aggregation reuses the partitioning (still ONE exchange,
            # just not `shuffle.partitions` near-empty reduce tasks at
            # bench scale; at cluster scale the width caps at the session
            # parallelism and nothing changes).
            from sptag_spark.partitioning import spread_width

            _w = spread_width(sig_df)
            buckets = (
                banded_buckets(sig_df, rows_per_band=1)
                .repartition(_w, "seed", "minhash")
                .groupBy("seed", "minhash")
                .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
                .filter(F.size("ids") >= 2)
                .persist()
            )
            occ = buckets.agg(
                F.sum(
                    F.size("ids") * (F.size("ids") - 1) / 2
                ).alias("pairs")
            ).first()
            est_join_rows = float(occ["pairs"] or 0.0)
            if est_join_rows > auto_pair_budget:
                buckets.unpersist()
                rows_per_band = 2
                if min_band_matches == "auto":
                    min_band_matches = 1
            else:
                rows_per_band = 1
                if min_band_matches == "auto":
                    min_band_matches = 2
                pinned.append(buckets)
                raw = _pairs_within_buckets(buckets)
                if min_band_matches > 1:
                    # same right-sizing as the bucket grouping: a pair
                    # appears ≤ N_MINHASH times, so partial aggregation
                    # barely shrinks the exchange — key-repartition at the
                    # derived width instead of `shuffle.partitions`
                    cands = (
                        raw.repartition(_w, "doc_a", "doc_b")
                        .groupBy("doc_a", "doc_b")
                        .agg(F.count("*").alias("_m"))
                        .filter(F.col("_m") >= min_band_matches)
                        .select("doc_a", "doc_b")
                    )
                else:
                    cands = raw.distinct()
    if min_band_matches == "auto":
        # explicit band width, auto match count: pair them the way the
        # probes measured them (r=1 needs m=2 to cut random single-band
        # collisions; r≥2 bands are already selective)
        min_band_matches = 2 if rows_per_band == 1 else 1
    # ≥2 matching seeds (r=1 config): random collisions (almost always
    # exactly one band) never reach the verify join; true J≥0.6 pairs keep
    # a ~1e-5 miss bound
    if cands is None:
        cands = _bucket_candidates(
            banded_buckets(sig_df, rows_per_band=rows_per_band),
            min_band_matches=min_band_matches,
        )
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
    from sptag_spark.resources import attach_artifacts

    out = attach_artifacts(
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter / (F.col("sz_a") + F.col("sz_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        pinned,
    )
    out._sptag_lsh_config = (rows_per_band, min_band_matches)
    return out


SIMHASH_BITS = 16


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash fingerprint from token-frequency-weighted bit votes.

    Bit b of md5(token) is nibble (b/4) of the hex digest, bit (b%4). A bit of
    the fingerprint is set when the weighted vote (each token occurrence votes
    ±1) is positive. Returns (doc_id, simhash BIGINT).

    One shuffle of one row per TOKEN: the `bits` per-bit votes are computed
    as separate aggregate columns of a single groupBy (all map-side
    combinable), not by exploding a (token × bit) row set — the exploded
    formulation shuffles `bits`× the rows to compute the same sums.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", md5_hex(F.col("tok")))

    def vote(b: int):
        # nibble value of hex char (b//4), bit (b%4) of it, as a ±1 vote
        nib = f"(instr('0123456789abcdef', substring(h, {b // 4 + 1}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {2 ** (b % 4)}) AS INT) % 2)"
        return F.expr(f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END")

    agg = [F.sum(vote(b)).alias(f"_v{b}") for b in range(bits)]
    votes = tok.groupBy("doc_id").agg(*agg)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def eps_margin_blocks(
    V: np.ndarray, centers: np.ndarray, margin: float
) -> list[list[int]]:
    """Per-row center indices within (distance-to-nearest + margin), on
    NORMALIZED rows. The completeness guarantee (see
    embedding_near_dup_pairs): with margin = 2·eps, any pair of points
    within eps of each other shares at least one block — property-tested in
    tests/test_properties.py."""
    import numpy as np

    vn = np.linalg.norm(V, axis=1)
    Vn = V / np.where(vn == 0, 1.0, vn)[:, None]
    d2 = (
        -2.0 * (Vn @ centers.T)
        + (centers**2).sum(1)[None, :]
        + (Vn**2).sum(1)[:, None]
    )
    d = np.sqrt(np.maximum(d2, 0.0))
    cut = d.min(1)[:, None] + margin
    return [np.nonzero(d[r] <= cut[r])[0].tolist() for r in range(len(V))]


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    sample_cap: int = 4096,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold: (id_a, id_b, cos_sim).
    EXACT (finds every qualifying pair) and fully distributed — the embedding
    table is never collected to the driver.

    100 TB shape — epsilon-margin cluster blocking:

    1. On the unit sphere, cos(a,b) ≥ t  ⟺  ||â-b̂|| ≤ eps = sqrt(2-2t)
       (â = a/||a||). At near-dup thresholds eps is tiny (t=0.99 → 0.14).
    2. A small deterministic sample (≤ sample_cap rows, the same bounded
       sample regime as index/balanced.py's center seeding) trains k-means
       centers on the driver; the (k × d) center matrix rides in the kernel
       closure — the only thing broadcast.
    3. ONE map-only pass assigns each normalized vector to EVERY center
       within d_min + 2·eps of it (d_min = distance to its nearest center).
       Triangle inequality makes this provably complete: for any pair with
       ||â-b̂|| ≤ eps, let c* be b̂'s nearest center; then d(â,c*) ≤
       d(b̂,c*)+eps ≤ d(â, nearest(â)) + 2·eps, so BOTH land in block c*.
       This is the same boundary-replication idea as SPANN's multi-replica
       postings (index/postings.py:57) but with a margin chosen so recall is
       exactly 1 rather than probabilistic.
    4. applyInPandas per block: all-pairs BLAS matmul within the block only
       (O(Σ m_block²), not O(N²)), candidate detect on the normalized
       product, exact per-pair recompute dot/(na·nb) — the oracle's formula —
       and the final ≥ t filter on that exact value.
    5. dropDuplicates on the pair key (a pair can share several blocks; the
       recomputed value is bitwise identical in each, so dedup is safe).

    Replication factor = E[#centers within d_min+2eps] ≈ 1 for small eps, so
    shuffle volume ≈ the table itself, once; block sizes are bounded by the
    k-means balance, so per-task memory is O((N/k)·d) regardless of N.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    src = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
    )
    eps = float(np.sqrt(max(2.0 - 2.0 * threshold, 0.0)))
    margin = 2.0 * eps

    # deterministic pseudo-random sample → driver-side Lloyd on ≤ cap rows
    # (orderBy+limit compiles to TakeOrdered — per-partition top-k, no global
    # sort). If the sample came back short, it IS the whole table, which also
    # sizes n_blocks without a separate count job.
    sample_rows = (
        src.orderBy(F.xxhash64(F.col("id"))).limit(sample_cap).collect()
    )
    if n_blocks is None:
        if len(sample_rows) < sample_cap:
            n_blocks = int(max(1, min(1024, len(sample_rows) // 256)))
        else:
            n_blocks = 1024

    if n_blocks > 1:
        S = np.array([list(r["vector"]) for r in sample_rows], dtype=np.float64)
        sn = np.linalg.norm(S, axis=1)
        Sn = S / np.where(sn == 0, 1.0, sn)[:, None]
        rng = np.random.default_rng(42)
        k = min(n_blocks, len(Sn))
        centers = Sn[rng.choice(len(Sn), size=k, replace=False)]
        for _ in range(8):
            d2 = (
                -2.0 * (Sn @ centers.T)
                + (centers**2).sum(1)[None, :]
                + (Sn**2).sum(1)[:, None]
            )
            a = d2.argmin(1)
            for c in range(k):
                m = a == c
                if m.any():
                    centers[c] = Sn[m].mean(0)
    else:
        centers = np.zeros((1, 1))  # single block: everything → block 0

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vector"].tolist(), dtype=np.float64)
            if len(centers) == 1:
                blocks = [[0]] * len(V)
            else:
                blocks = eps_margin_blocks(V, centers, margin)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "vector": pdf["vector"],
                    "block": blocks,
                }
            )

    assigned = src.mapInPandas(
        assign, schema="id long, vector array<float>, block array<int>"
    ).select("id", "vector", F.explode("block").alias("block"))

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.array(pdf["vector"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        vn = np.linalg.norm(V, axis=1)
        Vn = V / np.where(vn == 0, 1.0, vn)[:, None]
        Sim = Vn @ Vn.T
        # candidate detect with a float-noise slack; the decisive filter below
        # uses the exact oracle formula
        r_idx, c_idx = np.nonzero(
            (Sim >= threshold - 1e-9) & (ids[:, None] < ids[None, :])
        )
        if len(r_idx) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cos_sim": np.float64}
            )
        sims = np.einsum("ij,ij->i", V[r_idx], V[c_idx]) / (
            vn[r_idx] * vn[c_idx]
        )
        keep = sims >= threshold
        return pd.DataFrame(
            {"id_a": ids[r_idx][keep], "id_b": ids[c_idx][keep], "cos_sim": sims[keep]}
        )

    # block-keyed width (r14, guide §2.2): there are exactly n_blocks
    # groups, so the kernel exchange can never usefully exceed that —
    # min(n_blocks, parallelism) replaces `shuffle.partitions` near-empty
    # tasks at bench scale and is the same cap at cluster scale. The pair
    # dedup reuses the same derived width on its own keys (duplicate pair
    # rows carry identical cos_sim — same arithmetic on the same inputs —
    # so which copy survives is immaterial, as before).
    _bw = min(
        max(1, n_blocks), src.sparkSession.sparkContext.defaultParallelism
    )
    pairs = (
        assigned.repartition(_bw, "block")
        .groupBy("block")
        .applyInPandas(
            block_pairs, schema="id_a long, id_b long, cos_sim double"
        )
    )
    return pairs.repartition(_bw, "id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )


def _span_stream(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, h1, h2): one row per overlapping n-token span occurrence —
    a map-only extract (no shuffle; split out so the plan stays testable
    past the localCheckpoint duplicate_spans puts above it).

    Span identity is a PAIR of independent xxhash64 values (~128 bits:
    false-dup probability ≈ pairs²/2¹²⁹, negligible at 10¹¹ spans), and the
    span STRING is never materialized: tokens are hashed once per doc into
    two long arrays (independent seeds), then each window position hashes a
    10-long slice. The explode(sequence) Generate is the barrier that stops
    Catalyst's projection collapse from re-inlining the token-hash
    transform into every position's lambda (measured 105 s vs 7 s at ×16 —
    without the barrier each position re-hashes the whole token array).
    Two longs also shuffle/compare at a third of the bytes of the md5 hex
    string this used to key on, and skip the digest + span-string build.

    Small inputs are re-spread first (same scale-adaptive width as
    shingle_hashes — spread_width, r14): a corpus that arrives as one file
    is one scan split and the extract would run on one core; at ≥ cores
    splits this adds nothing."""
    from sptag_spark.functions.text import tokens
    from sptag_spark.partitioning import spread_width

    _target = spread_width(docs)
    if docs.rdd.getNumPartitions() < _target:
        docs = docs.repartition(_target)
    toks = tokens(F.col(text_col))
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("th1"),
        F.transform(toks, lambda t: F.xxhash64(F.lit(17), t)).alias("th2"),
    ).filter(F.size("th1") >= n)
    gen = hashed.select(
        "doc_id",
        "th1",
        "th2",
        F.explode(F.sequence(F.lit(1), F.size("th1") - (n - 1))).alias("i"),
    )
    return gen.select(
        "doc_id",
        F.xxhash64(F.slice("th1", F.col("i"), n)).alias("h1"),
        F.xxhash64(F.lit(17), F.slice("th2", F.col("i"), n)).alias("h2"),
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide exact duplicate-SPAN statistics (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": repeated
    n-token substrings across a corpus are memorization fuel; pipelines
    measure and strip them).

    A span = one of the overlapping n-token windows of a doc; a span is
    duplicated if its text occurs ≥ 2 times anywhere in the corpus (other
    docs OR elsewhere in the same doc). Returns per doc with ≥ 1 span:
        (doc_id, n_spans, n_dup_spans, dup_frac)

    Plan shape (100 TB): the span stream is extracted map-only
    (_span_stream — no span strings, no pre-aggregation) and consumed by
    exactly TWO full-stream shuffles: the per-hash totals aggregation
    (map-side partial count absorbs hot boilerplate spans — each map task
    emits one row per distinct hash) and the dup-flag join probe. The flag
    join is INNER against only the DUPLICATED hashes (totals filtered to
    cnt > 1 before joining — typically 1-10 % of the distinct-span table,
    since most spans are corpus-unique; a span whose repeats are all
    within one doc still has cnt > 1, so no flag is lost) and AQE
    skew-join splits any residual hot hash on the probe side. n_spans
    needs no aggregation at all: a doc with t ≥ n tokens has exactly
    t − n + 1 spans, a second map-only pass over the text column (cheaper
    than a third full-stream rollup — measured). Earlier shapes, ×16
    corpus: agg-then-join-raw 26.4 s → one-explode + (h, doc) pre-agg
    13.8 s → this shape 7.3 s (SCALING.md).
    """
    spans = _span_stream(docs, n, id_col, text_col)
    # Scale the dup-hash shuffle width with corpus span volume (VERDICT r7
    # #6: at a fixed 32 partitions the ×256 span shuffle packed ~1.8M rows
    # per partition and the stage went superlinear). The estimate is free
    # (Catalyst's size for the docs scan; ~6 text bytes ≈ 1 token ≈ 1
    # span); when it exceeds the session default × rows-per-partition
    # budget, the span stream is hash-repartitioned on (h1, h2) BEFORE the
    # persist — then BOTH consumers (totals groupBy, dup-flag join probe)
    # reuse that partitioning with no further exchange, so the plan has
    # ONE wide full-stream shuffle instead of two narrow ones. At test SFs
    # the estimate stays under budget and the plan is byte-identical to
    # before.
    from sptag_spark.plans.planner import _UNKNOWN_SIZE, _catalyst_size_bytes

    # scan stats report COMPRESSED bytes for file sources; natural text at
    # ~6 B/token compresses ~3× → ~2 compressed bytes per span. A frame
    # with no statistics (createDataFrame, RDD-backed) reads Long.Max,
    # which means unknown, not huge: taken as a size, it was repartitioned
    # 4,096 ways.
    size = _catalyst_size_bytes(docs.select(text_col))
    est_spans = size // 2 if size < _UNKNOWN_SIZE else 0
    spark = docs.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = min(4096, est_spans // 500_000)
    # engage once the stream is big enough that one wide shuffle beats two
    # default-width ones (measured parity at ~25M spans, 2× at 100M+ —
    # SCALING.md r8); never narrower than the session default
    if target > max(8, default_parts // 2):
        spans = spans.repartition(max(target, default_parts), "h1", "h2")
    # both downstream branches (dup totals, join probe) consume the
    # stream; without materialization Catalyst re-executes the
    # scan→tokenize→hash→explode lineage per branch. The pin is a
    # DataFrame persist — compressed COLUMNAR batches — not a
    # localCheckpoint: the checkpoint caches tens of millions of span
    # rows as deserialized row objects, and the resulting GC wall was
    # measured 2× the whole downstream cost at ×256 (1.28M docs / 57.8M
    # spans; paired fresh-process A/B in SCALING.md). The cache is
    # attached to the result for release() (resources.py pattern).
    spans = spans.persist()
    dup_totals = (
        spans.groupBy("h1", "h2")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h1", "h2")
    )
    dup_per_doc = (
        spans.join(dup_totals, ["h1", "h2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    from sptag_spark.functions.text import token_count
    from sptag_spark.resources import attach_artifacts

    # token_count is the SAME tokenization as _span_stream's tokens() —
    # the two passes must agree or dup_frac denominators drift
    doc_totals = docs.select(
        F.col(id_col).alias("doc_id"),
        (token_count(F.col(text_col)) - (n - 1)).alias("n_spans"),
    ).filter(F.col("n_spans") >= 1)
    out = doc_totals.join(dup_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.round(
            F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 4
        ).alias("dup_frac"),
    )
    return attach_artifacts(out, [spans])
