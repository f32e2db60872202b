"""LSH-based ANN search — the second index family (SURVEY.md §1.3 names
MLlib ``BucketedRandomProjectionLSH`` as the alternative to IVF for L2).

Where IVF prunes by learned Voronoi cells, BRP-LSH prunes by random
projections: ``h(v) = floor(v·w / bucketLength)`` per hash table; the
bucket join only compares vectors sharing a hash bucket in at least one
table.  No training pass (vs KMeans), at the cost of less adaptive
pruning — the classic trade.

``knn_lsh``: distributed bucket join (queries × vectors restricted to
matching buckets), exact re-score of candidates, window top-k.  Same
output schema as ``knn_exact`` / ``IVFIndex.search``; recall gated in
pytest against the exact result (approximate by nature → rows-only in
the driver's oracle check).

Scale posture: both sides stay DataFrames (the MLlib join is itself an
explode-on-hash + equi-join under the hood); candidates per query are
bounded by bucket occupancy × numHashTables; re-scoring uses the same
squared-L2 convention as everything else (dist is squared, tie-break
``(dist, id)``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_engine_spark.operators.knn import _empty_topk, _finalize_topk


def knn_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bucket_length: float = 1.0,
    num_hash_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via BRP-LSH bucket join + exact re-score.

    ``bucket_length`` tunes recall like ``nprobe`` does for IVF: wider
    buckets → more candidates → higher recall (≈2× the typical NN
    distance is the usual starting point).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("_v")
    )
    qfeat = queries.select(
        F.col("qid"), array_to_vector(F.col("query")).alias("_v")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="_v",
        outputCol="_h",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(feat)
    # threshold inf: candidate generation is purely bucket membership;
    # ranking happens below under the engine's own (dist, id) convention
    joined = model.approxSimilarityJoin(
        feat, qfeat, threshold=float("inf"), distCol="_euclid"
    )
    cand = joined.select(
        F.col(f"datasetB.qid").alias("qid"),
        F.col(f"datasetA.{id_col}").alias("neighbor_id"),
        (F.col("_euclid") * F.col("_euclid")).alias("dist"),
    )
    return _finalize_topk(cand, k, "l2_sq")


# ---------------------------------------------------------------------------
# Portable hyperplane LSH — the cross-engine-replayable (oracle-mode) form
# ---------------------------------------------------------------------------

PORTABLE_LSH_SALT = "lshplane:"  # md5 salt for the plane sign derivation
PORTABLE_LSH_TABLES = 8          # independent sign-sketch tables
PORTABLE_LSH_PLANES = 8          # signature bits per table
PORTABLE_DOT_DECIMALS = 6        # projection rounded before the sign test


def _portable_planes(
    dim: int, n_tables: int, n_planes: int, salt: str
) -> "np.ndarray":
    """±1 hyperplane tensor ``(n_tables, n_planes, dim)`` derived from md5
    parity — a pure cross-engine function of (salt, table, plane, 1-based
    dim index), so DuckDB rebuilds the identical planes in SQL (``md5``
    agrees between hashlib and DuckDB).  Sign = parity of the first hex
    nibble of ``md5(f"{salt}{t}:{p}:{j}")``: +1 on even, −1 on odd."""
    import hashlib

    P = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for j in range(1, dim + 1):
                nib = int(
                    hashlib.md5(f"{salt}{t}:{p}:{j}".encode()).hexdigest()[0],
                    16,
                )
                P[t, p, j - 1] = 1.0 if nib % 2 == 0 else -1.0
    return P


def _sig_udf(P: "np.ndarray", weights: "np.ndarray"):
    """Signature pandas UDF over a plane tensor: one einsum per Arrow
    batch, (B, T, P) rounded sign tensor → (B, T) packed BIGINT sigs."""

    @F.pandas_udf("array<long>")
    def sigs_udf(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vs.tolist(), dtype=np.float64)
        dots = np.round(np.einsum("bd,tpd->btp", V, P), PORTABLE_DOT_DECIMALS)
        sig = ((dots >= 0) * weights).sum(axis=-1).astype(np.int64)
        return pd.Series(list(sig))

    return sigs_udf


def lsh_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    n_tables: int = PORTABLE_LSH_TABLES,
    n_planes: int = PORTABLE_LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate stage of ``knn_lsh_portable``: DISTINCT (qid,
    neighbor_id) stubs from the multi-table Hamming-1 probe union —
    exposed separately so tuning reports and scale rungs can measure
    candidate volume (the quantity that decides LSH-vs-IVF) without
    paying the re-score."""
    dim = len(vectors.select(vec_col).first()[0])
    P = _portable_planes(dim, n_tables, n_planes, PORTABLE_LSH_SALT)
    weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)
    sigs_udf = _sig_udf(P, weights)

    vsig = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(sigs_udf(F.col(vec_col))).alias("tbl", "sig"),
    )
    qsig = queries.select(
        "qid", F.posexplode(sigs_udf(F.col("query"))).alias("tbl", "sig")
    )
    flips = F.array(
        F.col("sig"),
        *[F.col("sig").bitwiseXOR(F.lit(int(1 << b))) for b in range(n_planes)],
    )
    qprobe = qsig.select("qid", "tbl", F.explode(flips).alias("sig"))
    return (
        qprobe.join(vsig, ["tbl", "sig"])
        .select("qid", "neighbor_id")
        .dropDuplicates(["qid", "neighbor_id"])
    )


def knn_lsh_portable(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = PORTABLE_LSH_TABLES,
    n_planes: int = PORTABLE_LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table hyperplane (sign-random-projection) LSH ANN with
    Hamming-1 multi-probe — the PORTABLE twin of ``knn_lsh``: every
    random choice is an md5 parity and every float boundary is rounded,
    so a SQL engine replays plane derivation → signatures → bucketing →
    probe expansion → candidate union → exact re-score EXACTLY (the
    ``minhash_lsh_pairs_portable`` discipline applied to the ANN family,
    which was otherwise rows-only: MLlib BRP seeds are not replayable).

    * per table ``t``, signature bit ``p`` = ``round(Σ_j s(t,p,j)·v_j, 6)
      >= 0`` with ``s ∈ {±1}`` from ``_portable_planes``; bits pack
      big-endian into one BIGINT.  The rounding absorbs engine
      accumulation-order deltas (~1e-13) except on a measure-zero
      boundary band — the same exposure class as every rounded-distance
      oracle in the repo.
    * multi-probe (Lv et al., VLDB 2007): each query probes its own
      bucket plus the ``n_planes`` buckets at Hamming distance 1 in
      EVERY table; candidates are the DISTINCT (query, vector) union
      across tables (a vector can collide in several tables).
    * candidates carry only (qid, neighbor_id) stubs through the
      distinct; vectors and queries re-join once each for the exact
      squared-L2 JVM re-score, then the global (dist, id) window top-k.

    Scale: shuffle volume is N·n_tables signature stubs +
    |Q|·n_tables·(n_planes+1) probe stubs; bucket occupancy
    (≈ N/2^n_planes per table) bounds the join fan-out, and n_planes
    grows with log2(N) exactly like embedding_lsh_pairs' sizing law.
    Approximate by nature at finite probes — but the oracle replays the
    SAME approximation, so the row is hash-gradable; recall vs exact is
    additionally pytest-gated.  Honest regime note (measured, fixture):
    the synthetic corpus is angle-concentrated (near-uniform directions,
    max within-label cosine ~0.47), the adversarial case for sign-LSH —
    defaults reach recall ≈0.61 while touching ≈26% of the corpus, vs
    IVF's learned cells at equal recall for far fewer candidates; that
    trade is WHY IVF is this engine's primary family and LSH the
    no-training-pass alternative."""
    from vector_search_engine_spark.functions.vector import l2_sq

    first = vectors.select(vec_col).first()
    if first is None:
        return _empty_topk(vectors.sparkSession)
    cand = lsh_candidates(
        vectors, queries, n_tables, n_planes, id_col=id_col, vec_col=vec_col
    )
    va = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    rescored = (
        cand.join(va, "neighbor_id")
        .join(queries.select("qid", "query"), "qid")
        .select(
            "qid", "neighbor_id", l2_sq(F.col("query"), F.col("nvec")).alias("dist")
        )
    )
    return _finalize_topk(rescored, k, "l2_sq")


def lsh_pairs_portable(
    vectors: DataFrame,
    threshold: float = 0.35,
    n_tables: int = PORTABLE_LSH_TABLES,
    n_planes: int = PORTABLE_LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via PORTABLE multi-table hyperplane LSH —
    the dedup sibling of ``knn_lsh_portable`` and the third member of
    the salted-portable-hash family (MinHash banding, ANN, and now
    embedding dedup): candidates are id-ordered pairs colliding in ANY
    table's exact bucket (no probe expansion — ``embedding_lsh_pairs``'
    collision semantics), verified by exact cosine ≥ ``threshold``.

    Every random choice is an md5 plane parity and every projection is
    rounded before the sign test, so a SQL engine replays planes →
    signatures → bucket self-join → cosine verify EXACTLY; the
    xxhash64-seeded ``dedup.embedding_lsh_pairs`` stays the CPU-fast
    serving default (its recall curve pytest-gated), this row makes the
    family's end-to-end machinery hash-graded.

    Scale shape: N·n_tables signature stubs shuffle on (table, sig);
    bucket occupancy ≈ N/2^n_planes bounds the self-join fan-out (grow
    n_planes with log2 N — the ``embedding_lsh_pairs`` sizing law);
    verify joins embeddings back twice on the DISTINCT candidate stubs."""
    from vector_search_engine_spark.functions.vector import cosine_sim

    first = vectors.select(vec_col).first()
    if first is None:
        return vectors.sparkSession.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )
    dim = len(first[0])
    P = _portable_planes(dim, n_tables, n_planes, PORTABLE_LSH_SALT)
    weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)
    sigs_udf = _sig_udf(P, weights)
    vsig = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(sigs_udf(F.col(vec_col))).alias("tbl", "sig"),
    )
    a = vsig.select(F.col("vid").alias("id_a"), "tbl", "sig")
    b = vsig.select(F.col("vid").alias("id_b"), "tbl", "sig")
    cand = (
        a.join(b, ["tbl", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vectors.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    sim = cosine_sim(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )
