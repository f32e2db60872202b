"""Deduplication operators over ``documents`` — the core 100 TB
training-data-pipeline surface (BASELINE.json north star):

  * exact:      md5 of normalized text, hash-groupBy        (oracle-backed)
  * n-gram Jaccard: postings intersection, exact            (oracle-backed)
  * n-gram Jaccard, PPJoin tier: df-ordered prefix filter   (same oracle)
  * MinHash+LSH: shingle→minhash→band→bucket-join→verify    (rows-only;
                 recall vs the exact pairs is pytest-gated)
  * SimHash:    64-bit token-hash votes, banded Hamming join (rows-only)
  * embedding near-dup: see operators/simjoin.py (exact) and
                 embedding_lsh_pairs below (random-hyperplane blocking)

Scale posture: everything is blocked/bucketed — no unblocked O(N²) pair
join anywhere.  Exact dedup is one shuffle on the hash; LSH families
shuffle on band keys whose fan-out is controlled by band count; the
length-blocked Jaccard join exists for oracle parity at test scale and as
the verify stage after LSH candidate generation at production scale.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.text import (
    DD_NORMALIZED,
    DD_SHINGLES3,
    DD_TOKENS,
    normalized,
    with_shingles,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Group documents by md5(normalized text); canonical = min doc_id.
    One shuffle on a 128-bit hash — the exact-dedup plan at any scale."""
    h = F.md5(normalized(F.col("text")))
    w = Window.partitionBy("text_md5")
    return (
        documents.select("doc_id", h.alias("text_md5"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w).cast("long"))
        .withColumn(
            "is_duplicate", (F.col("doc_id") != F.col("canonical_id")).cast("boolean")
        )
    )


EXACT_DEDUP_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5({DD_NORMALIZED.format(t="text")}) AS text_md5
  FROM documents
)
SELECT doc_id, text_md5,
       min(doc_id) OVER (PARTITION BY text_md5) AS canonical_id,
       count(*) OVER (PARTITION BY text_md5) AS group_size,
       doc_id != min(doc_id) OVER (PARTITION BY text_md5) AS is_duplicate
FROM h
"""


def incremental_dedup(new_docs: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact dedup of an ARRIVING batch against the already-ingested
    corpus — the shape a continuously-fed training pipeline actually
    runs (full-corpus re-dedup per batch is O(N) per arrival; this is
    O(batch)).  A new doc is kept iff its normalized-text hash appears
    neither in the seen corpus nor earlier in its own batch (earlier =
    lower doc_id, the same canonical rule ``exact_dedup`` uses).

    ``seen`` may be the full seen corpus (its text is hashed here) or an
    already-hashed signature table with a ``text_md5`` column — at
    100 TB the rolling signature table IS the artifact you keep (16-byte
    digest per doc, not text), and this join reads only that column.

    Plan: one hash-distinct on the seen signatures, one hash left-join
    (batch ⋈ signatures), one window over the batch's own hashes — text
    bytes never shuffle; everything keys on the 128-bit digest.

    Returns ``(doc_id, text_md5, seen_before, first_in_batch, keep)``
    for the batch, ``keep = NOT seen_before AND first_in_batch``."""
    h = F.md5(normalized(F.col("text")))
    seen_sig = (
        seen.select(F.col("text_md5"))
        if "text_md5" in seen.columns
        else seen.select(h.alias("text_md5"))
    ).distinct()
    batch = new_docs.select("doc_id", h.alias("text_md5"))
    w = Window.partitionBy("text_md5")
    return (
        batch.join(
            seen_sig.withColumn("_seen", F.lit(True)), "text_md5", "left"
        )
        .withColumn("_first", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "text_md5",
            F.coalesce(F.col("_seen"), F.lit(False)).alias("seen_before"),
            (F.col("doc_id") == F.col("_first")).alias("first_in_batch"),
            (
                F.coalesce(~F.col("_seen"), F.lit(True))
                & (F.col("doc_id") == F.col("_first"))
            ).alias("keep"),
        )
    )


# The registry splits the fixture corpus by doc_id % 3: two thirds play
# the seen corpus, one third the arriving batch — deterministic at any
# SF, no data-dependent constants to mirror.
INCREMENTAL_DEDUP_ORACLE = f"""
WITH seen_sig AS (
  SELECT DISTINCT md5({DD_NORMALIZED.format(t="text")}) AS text_md5
  FROM documents WHERE doc_id % 3 != 0
),
batch AS (
  SELECT doc_id, md5({DD_NORMALIZED.format(t="text")}) AS text_md5
  FROM documents WHERE doc_id % 3 = 0
)
SELECT b.doc_id, b.text_md5,
       (s.text_md5 IS NOT NULL) AS seen_before,
       b.doc_id = min(b.doc_id) OVER (PARTITION BY b.text_md5)
         AS first_in_batch,
       (s.text_md5 IS NULL)
         AND b.doc_id = min(b.doc_id) OVER (PARTITION BY b.text_md5)
         AS keep
FROM batch b LEFT JOIN seen_sig s USING (text_md5)
"""


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, length-blocked)
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.4
LENGTH_BAND = 30  # near-dups have near-equal lengths; the blocking predicate


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    length_band: int = LENGTH_BAND,
    tokens_col: str | None = None,
) -> DataFrame:
    """All pairs with word-3-gram Jaccard >= threshold, blocked on
    |Δn_chars| <= length_band (blocking is part of the operator contract;
    the oracle applies the identical predicate).

    Plan shape — INVERTED-INDEX INTERSECTION (PPJoin-style): explode each
    doc into (shingle-hash, doc) postings, group postings by shingle, and
    emit the in-group pairs — the per-pair match count IS |A ∩ B|, and
    |A ∪ B| = |A| + |B| − |A ∩ B| comes from pre-computed set sizes.

    Two deliberate physical choices (bench: 2.8 s → 1.5 s at sf0.1):
    * postings are computed ONCE and grouped, instead of a postings
      self-join — the join reads+shingles the corpus twice (Catalyst
      can't reuse the exchange across differently-aliased sides) and
      shuffles both sides; the groupBy scans once and shuffles once.
      Pair fan-out per shingle is the same quadratic either way; the
      groupBy additionally needs the posting list of a hot shingle to
      fit one task — when any shingle's postings outgrow a task, use
      ``ngram_jaccard_pairs_ppjoin`` (prefix filtering keeps hot
      shingles out of candidate generation, exactly).
    * shingles cross the shuffle as xxhash64 longs, not strings: ~8 B
      keys, codegen'd long compares.  A 64-bit collision could in
      principle inflate an intersection count (P ≈ n²/2⁶⁴ — below the
      oracle gate's noise floor of literally-never at these corpus
      sizes).
    No shingle array ever crosses a shuffle, and pairs sharing zero
    shingles never materialize at all.  ``tokens_col`` consumes a
    pre-tokenized array column (the pipeline's one-scan handoff)."""
    post = with_shingles(documents, "sh", tokens_col=tokens_col).select(
        "doc_id",
        "n_chars",
        F.size("sh").alias("n_sh"),
        F.explode("sh").alias("s"),
    )
    grouped = (
        post.groupBy(F.xxhash64("s").alias("s"))
        .agg(F.collect_list(F.struct("doc_id", "n_chars", "n_sh")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = (
        grouped.select(F.explode("ds").alias("x"), "ds")
        .select("x", F.explode("ds").alias("y"))
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.abs(F.col("x.n_chars") - F.col("y.n_chars")) <= length_band)
        )
    )
    inter = pairs.groupBy(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.col("x.n_sh").alias("nsh_a"),
        F.col("y.n_sh").alias("nsh_b"),
    ).agg(F.count("*").cast("double").alias("inter"))
    union = F.col("nsh_a") + F.col("nsh_b") - F.col("inter")
    return (
        inter.withColumn(
            "jaccard",
            F.when(union == 0, F.lit(0.0)).otherwise(F.col("inter") / union),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


NGRAM_JACCARD_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, n_chars, {DD_TOKENS.format(t="text")} AS t FROM documents
),
sh AS (
  SELECT doc_id, n_chars, list_distinct({DD_SHINGLES3.format(t="t")}) AS s
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
  FROM sh a JOIN sh b
    ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= {LENGTH_BAND}
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
FROM pairs
WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= {JACCARD_THRESHOLD}
"""


def ngram_jaccard_pairs_ppjoin(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    length_band: int = LENGTH_BAND,
) -> DataFrame:
    """Output-identical to ``ngram_jaccard_pairs`` (same oracle) with
    PPJoin/AllPairs PREFIX FILTERING (Xiao et al., WWW'08) — the web-scale
    exact tier that removes the hot-shingle ceiling:

    under any global token order, two sets with Jaccard ≥ t must share a
    token within each one's first ``|A| − ⌈t·|A|⌉ + 1`` tokens, so only
    those *prefix* postings generate candidates.  Ordering tokens by
    ascending document frequency puts the corpus's hottest shingles
    (boilerplate n-grams shared by millions of docs) at the END of every
    set — they never enter a posting list, so per-shingle pair fan-out
    stays bounded no matter how skewed the corpus.  Exactness is kept by
    verifying candidates against the FULL postings (intersection counts,
    longs only — no arrays cross any shuffle).

    Cost shape: +1 aggregation (df counts) and +1 per-doc ranking shuffle
    versus the single-scan tier, and the candidate verify re-joins full
    postings instead of counting in-group — measured 11× SLOWER than the
    single-scan tier on a dense-near-dup corpus with no hot shingles
    (SCALING.md finding 2).  This tier is skew INSURANCE: reach for it
    when boilerplate shingles (site chrome, license text) would otherwise
    put one posting list inside one task."""
    from pyspark.sql import Window

    post = (
        with_shingles(documents, "sh")
        .select(
            "doc_id",
            "n_chars",
            F.size("sh").alias("n_sh"),
            F.explode("sh").alias("s0"),
        )
        .select("doc_id", "n_chars", "n_sh", F.xxhash64("s0").alias("s"))
    )
    dfreq = post.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        post.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
    )
    grouped = (
        prefix.groupBy("s")
        .agg(F.collect_list(F.struct("doc_id", "n_chars")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    cand = (
        grouped.select(F.explode("ds").alias("x"), "ds")
        .select("x", F.explode("ds").alias("y"))
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.abs(F.col("x.n_chars") - F.col("y.n_chars")) <= length_band)
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    pa = post.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("nsh_a"), "s"
    )
    pb = post.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nsh_b"), "s"
    )
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "nsh_a", "nsh_b")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    union = F.col("nsh_a") + F.col("nsh_b") - F.col("inter")
    return (
        inter.withColumn("jaccard", F.col("inter") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(
    documents: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """All ordered pairs with word-3-gram set CONTAINMENT ≥ threshold in
    either direction:  C(A→B) = |S(A) ∩ S(B)| / |S(A)|.

    Containment is the ASYMMETRIC dedup measure Jaccard misses: a short
    document fully embedded in a much longer one (quoted article inside
    an aggregator page, license boilerplate, chunk-of-a-book) has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 — and the length-band
    blocking of the Jaccard tier would exclude exactly these pairs.  So
    this operator deliberately has NO length blocking; the output
    carries both directions so the caller can distinguish near-subset
    (one high) from near-duplicate (both high).

    Plan shape: the same single-scan PPJoin-style inverted-index
    intersection as ``ngram_jaccard_pairs`` (postings computed once,
    grouped by shingle hash, in-group pair fan-out = per-pair match
    count; shingles cross the shuffle as xxhash64 longs).  Pairs that
    share zero shingles never materialize.  Same hot-shingle caveat:
    when one shingle's postings outgrow a task, route candidate
    generation through the df-ordered prefix-filter tier."""
    post = with_shingles(documents, "sh").select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode("sh").alias("s"),
    )
    grouped = (
        post.groupBy(F.xxhash64("s").alias("s"))
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = (
        grouped.select(F.explode("ds").alias("x"), "ds")
        .select("x", F.explode("ds").alias("y"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
    )
    inter = pairs.groupBy(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.col("x.n_sh").alias("nsh_a"),
        F.col("y.n_sh").alias("nsh_b"),
    ).agg(F.count("*").cast("double").alias("inter"))
    ca = F.col("inter") / F.col("nsh_a")
    cb = F.col("inter") / F.col("nsh_b")
    return (
        inter.filter(F.greatest(ca, cb) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 4).alias("cont_ab"),
            F.round(cb, 4).alias("cont_ba"),
        )
    )


CONTAINMENT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {DD_TOKENS.format(t="text")} AS t FROM documents
),
sh AS (
  SELECT doc_id, list_distinct({DD_SHINGLES3.format(t="t")}) AS s
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) AS nsh_a, len(b.s) AS nsh_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / nsh_a, 4) AS cont_ab,
       round(CAST(inter AS DOUBLE) / nsh_b, 4) AS cont_ba
FROM pairs
WHERE inter > 0
  AND greatest(CAST(inter AS DOUBLE) / nsh_a,
               CAST(inter AS DOUBLE) / nsh_b) >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate candidate generation, exact verification)
# ---------------------------------------------------------------------------

NUM_PERM = 16
BAND_SIZE = 4  # 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4


# A single LSH bucket whose membership list exceeds this is a degenerate
# key (empty-text cluster, boilerplate): its pair fan-out is quadratic and
# lands in ONE task.  Buckets are truncated (deterministically: smallest
# ids survive) and the drop count is observed + warned.  1024² pairs is
# still a bounded ~0.5M-row task; the exact tier (ngram_jaccard_pairs /
# ppjoin) is the recall backstop for keys this hot.
MAX_LSH_BUCKET = 1024


# How long a bucket-truncation watcher waits for the caller to execute the
# plan before giving up.  Bounded so sessions that compose-and-abandon many
# plans don't accumulate forever-blocked daemon threads; after the window
# closes, truncation is still observable via ``lsh_bucket_observation``.
BUCKET_WATCH_TIMEOUT = 600.0


def _watch_truncated_buckets(
    obs, op: str, max_bucket: int, timeout: float = BUCKET_WATCH_TIMEOUT
) -> None:
    """Surface LSH bucket truncation (the 100 TB skew guard) to the caller:
    silent candidate loss is the one thing an approximate operator must
    never do.

    The result DataFrame is returned LAZY (measured: eager finalization
    cost ~13% at 1M pairs for nothing the caller asked for), so the
    truncation count isn't known at return time.  A daemon thread polls
    the observation (non-blocking ``getRowOrEmpty``) until the caller's
    first action resolves it, then emits the ``RuntimeWarning``.  The poll
    is bounded by ``timeout`` seconds: a plan that is built but never
    executed releases its watcher instead of leaking a forever-blocked
    thread.  The observation is also attached to the returned DataFrame
    (``lsh_bucket_observation``) for deterministic programmatic access
    after an action — that path has no deadline."""
    import threading
    import time
    import warnings

    def watch() -> None:
        deadline = time.monotonic() + timeout
        try:
            while True:
                row = obs._jo.getRowOrEmpty()  # waits ≤100 ms JVM-side
                if not row.isEmpty():
                    break
                if time.monotonic() >= deadline:
                    return  # plan abandoned (or slower than the window)
                time.sleep(0.5)
            m = obs.get  # resolved above — returns without blocking
        except Exception:
            return
        if m.get("n_truncated"):
            warnings.warn(
                f"{op}: {m['n_truncated']} of {m['n_buckets']} LSH buckets "
                f"exceeded max_bucket={max_bucket} and were truncated to "
                f"the {max_bucket} smallest ids — candidate recall may "
                "drop on those keys (degenerate/boilerplate content); "
                "verify-tier exact operators are unaffected",
                RuntimeWarning,
                stacklevel=2,
            )

    threading.Thread(
        target=watch, daemon=True, name=f"{op}-bucket-watch"
    ).start()


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    num_perm: int = NUM_PERM,
    band_size: int = BAND_SIZE,
    max_bucket: int = MAX_LSH_BUCKET,
    postings_storage=None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with true Jaccard.

    shingle → hash to long → ONE ``groupBy(doc_id)`` producing both the
    MinHash signature (``num_perm`` codegen'd min-aggregates) and the
    per-doc hashed-shingle array (``collect_list`` of 8-byte longs) →
    explode bands → group by (band, key) and emit in-group pairs →
    distinct candidates → exact verify by joining candidates back to the
    per-doc arrays: |A ∩ B| = ``array_intersect`` size, |A ∪ B| from the
    set sizes.  Precision is exact (verification); recall is the LSH
    probability curve (pytest-gated against ngram_jaccard_pairs).  A
    candidate pair sharing zero shingles scores 0 and is dropped by any
    threshold > 0 — identical output to the postings-join verify.

    Signatures are ``min(xxhash64(s, p))`` over the hashed shingles —
    composing a fixed pre-hash with the seeded family is an equally valid
    MinHash family, and hashing 8-byte longs beats re-hashing strings
    num_perm times.

    Shape history (r6 bench bisect): the r3 "single-scan postings" form
    verified by re-consuming the exploded (doc_id, n_sh, s) postings on
    both sides of the candidate join — re-paying the scan+shingle+explode
    pipeline twice more plus a per-pair groupBy (2.2 s at sf0.1 vs the r2
    self-join's 1.5 s).  Aggregating to the doc level once lets Catalyst
    column-prune the three consumers into THIN scans (the bands branch
    keeps only the min-aggregates — whole-stage codegen, no collect_list
    buffer; each verify side keeps only the array), and the verify joins
    move doc-level rows: the same ~8 bytes/shingle the postings join
    shuffled as 24-byte rows, packed in ~n_sh× fewer rows, with no
    per-pair re-aggregation.  Measured interleaved at sf0.1: 1.1-1.4 s vs
    1.7-2.2 s, identical pair output.  Giant documents make fat rows here
    (a 1M-shingle doc is one 8 MB array cell) — acceptable for the
    approximate tier because the signature aggregation already buffers
    per-doc state; the exact tier (``ngram_jaccard_pairs``) keeps the
    row-per-posting form for unbounded docs.

    The compact table is consumed three times and NOT cached by default:
    measured at sf0.1 (5k docs) AND with the exploded-postings variant at
    100k docs (SCALING.md finding 3), persist + eager finalization costs
    more than the column-pruned re-scans it saves.  ``postings_storage``
    opts into persisting the compact table for deployments where
    re-reading the raw text is genuinely expensive (cold object storage);
    the cache is unpersisted before returning so repeated calls can't
    accumulate executor storage.

    100 TB guard: buckets are capped at ``max_bucket`` members (sorted,
    smallest ids kept) so one degenerate band key can't become a
    single-task quadratic hotspot.  Truncation is never silent — counted
    via ``DataFrame.observe`` (attached to the result as
    ``lsh_bucket_observation``) and warned once the caller's first action
    completes."""
    from pyspark.sql import Observation

    n_bands = num_perm // band_size
    # tokens_col: consume an already-tokenized array column (the
    # pipeline-composition one-tokenization pin) instead of re-splitting
    # text — same hook as ngram_jaccard_pairs
    post = (
        with_shingles(documents, "_sh", tokens_col=tokens_col)
        .select("doc_id", F.explode("_sh").alias("s_str"))
        .select("doc_id", F.xxhash64("s_str").alias("s"))
    )
    aggs = [
        F.min(F.xxhash64("s", F.lit(p))).alias(f"_m{p}") for p in range(num_perm)
    ]
    compact = (
        post.groupBy("doc_id")
        .agg(F.collect_list("s").alias("sh"), *aggs)
        .select(
            "doc_id",
            "sh",
            F.array(*[F.col(f"_m{p}") for p in range(num_perm)]).alias("sig"),
        )
    )
    if postings_storage is not None:
        compact = compact.persist(postings_storage)
    bands = compact.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * band_size + r + 1) for r in range(band_size)]
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    obs = Observation()
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.size("ids") > max_bucket).cast("long")).alias(
                "n_truncated"
            ),
        )
    )
    cand = (
        buckets.withColumn("ids", F.slice("ids", 1, max_bucket))
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    ca = compact.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    cb = compact.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )
    if postings_storage is not None:
        # opted-in cache: finalize eagerly (verified pairs are tiny vs the
        # corpus), sever lineage, free the cache deterministically
        out = out.localCheckpoint(eager=True)
        compact.unpersist()
    _watch_truncated_buckets(obs, "minhash_lsh_pairs", max_bucket)
    out.lsh_bucket_observation = obs
    return out


MINHASH_PORTABLE_SALT = "vse-minhash:"


# canonical home since r15: functions.hashing (one definition for every
# portable-oracle hash draw; this alias keeps the historic private name)
from vector_search_engine_spark.functions.hashing import (  # noqa: E402
    salted_md5_long as _salted_md5_long,
)


def minhash_lsh_pairs_portable(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    num_perm: int = NUM_PERM,
    band_size: int = BAND_SIZE,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """``minhash_lsh_pairs`` with a PORTABLE hash family (r14): every
    hash — the ``num_perm`` MinHash permutations, the band bucket keys,
    the verify-stage shingle digests — is a salted md5, a pure function
    of the content string, identically computable by any engine.  The
    DuckDB oracle (``MINHASH_LSH_PORTABLE_ORACLE``) therefore replays
    the WHOLE pipeline exactly — signatures, banding, bucket
    truncation, candidate pairs, exact-Jaccard verification — so the
    approximate operator's end-to-end output is hash-graded, not just
    pytest-recall-gated.

    Same plan shape as the production row (one explode → one
    ``groupBy(doc_id)`` building signature mins + the digest array →
    band explode → bucket pairs → verify joins; bucket truncation keeps
    the ``max_bucket`` smallest ids, replayed in SQL as ``row_number <=
    max_bucket``).  The xxhash64 row stays the serving default — 16
    seeded long-hashes beat 16 salted string-md5s on CPU — this variant
    is the cross-engine-reproducibility tier (dedup manifests that must
    replay bit-identically outside Spark) and the oracle gate for the
    family's banding/verify machinery."""
    n_bands = num_perm // band_size
    post = with_shingles(documents, "_sh").select(
        "doc_id", F.explode("_sh").alias("s")
    )
    aggs = [
        F.min(
            _salted_md5_long(F.col("s"), f"{MINHASH_PORTABLE_SALT}{p}:")
        ).alias(f"_m{p}")
        for p in range(num_perm)
    ]
    compact = post.groupBy("doc_id").agg(
        F.collect_list(F.md5("s")).alias("sh"), *aggs
    )
    bands = compact.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"_m{b * band_size + r}")
                                    for r in range(band_size)
                                ],
                            )
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand = (
        buckets.withColumn("ids", F.slice("ids", 1, max_bucket))
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    ca = compact.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    cb = compact.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _minhash_portable_oracle(
    num_perm: int = NUM_PERM,
    band_size: int = BAND_SIZE,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_LSH_BUCKET,
) -> str:
    """DuckDB replay of minhash_lsh_pairs_portable end to end."""
    n_bands = num_perm // band_size
    mins = ",\n         ".join(
        f"min(CAST(('0x' || substr(md5('{MINHASH_PORTABLE_SALT}{p}:' || s), "
        f"1, 15)) AS BIGINT)) AS m{p}"
        for p in range(num_perm)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({key}) AS key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"CAST(m{b * band_size + r} AS VARCHAR)"
                for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {DD_TOKENS.format(t="text")} AS t FROM documents
),
shl AS (
  SELECT doc_id, list_distinct({DD_SHINGLES3.format(t="t")}) AS s FROM tok
),
ex AS (SELECT doc_id, unnest(s) AS s FROM shl),
sigs AS (
  SELECT doc_id,
         {mins}
  FROM ex GROUP BY doc_id
),
bands AS (
{band_selects}
),
bucket AS (
  SELECT band, key, doc_id,
         row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS r,
         count(*) OVER (PARTITION BY band, key) AS n
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bucket a JOIN bucket b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE a.n > 1 AND a.r <= {max_bucket} AND b.r <= {max_bucket}
),
hsh AS (
  SELECT doc_id, list_transform(s, x -> md5(x)) AS h FROM shl
  WHERE len(s) > 0
),
v AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(a.h, b.h))::DOUBLE AS inter,
         len(a.h) + len(b.h) AS tot
  FROM cand c JOIN hsh a ON a.doc_id = c.doc_a
              JOIN hsh b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(inter / (tot - inter), 4) AS jaccard
FROM v WHERE inter / (tot - inter) >= {threshold}
"""


MINHASH_LSH_PORTABLE_ORACLE = _minhash_portable_oracle()


# ---------------------------------------------------------------------------
# SimHash (64-bit) with banded Hamming join
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 8


_BIT_WEIGHTS = np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64)


def _simhash64(toks: list[str]) -> np.int64:
    """Scalar reference implementation (pytest pins the vectorized batch
    path against it — keep them in lockstep)."""
    votes = np.zeros(SIMHASH_BITS, dtype=np.int64)
    for tok in toks:
        h = int.from_bytes(
            hashlib.md5(tok.encode("utf-8")).digest()[:8], "big", signed=False
        )
        for bit in range(SIMHASH_BITS):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(SIMHASH_BITS):
        if votes[bit] > 0:
            out |= 1 << bit
    return np.int64(np.uint64(out).astype(np.int64))


def _simhash64_batch(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash: per row, one (n_tokens, 64) bit matrix and one
    vote sum — no per-bit Python loop.  Token md5s are memoized across the
    Arrow batch (natural-language batches repeat most tokens)."""
    cache: dict[str, int] = {}
    out = np.zeros(len(texts), dtype=np.uint64)
    for i, txt in enumerate(texts):
        toks = [t for t in (txt or "").strip().split(" ") if t]
        if not toks:
            continue
        hs = np.empty(len(toks), dtype=np.uint64)
        for j, tok in enumerate(toks):
            h = cache.get(tok)
            if h is None:
                h = int.from_bytes(
                    hashlib.md5(tok.encode("utf-8")).digest()[:8],
                    "big",
                    signed=False,
                )
                cache[tok] = h
            hs[j] = h
        bits = (hs[:, None] & _BIT_WEIGHTS[None, :]) != 0
        votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
        out[i] = ((votes > 0) * _BIT_WEIGHTS).sum(dtype=np.uint64)
    return pd.Series(out.view(np.int64))


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per document (deterministic md5 token hashes), via an
    Arrow-batched pandas UDF with a NumPy-vectorized vote kernel.

    Deliberately the MAP-ONLY path: a scalar pandas UDF straight over the
    text column — no token explode, no shuffle, nothing crosses the wire
    but (doc_id, 8-byte signature).  The Python-level md5 is memoized per
    Arrow batch (natural-language batches repeat most tokens), bounding it
    to ~1 µs per batch-unique token.  Measured at sf0.1 (5k docs, 271k
    tokens, local[32]) against two JVM-hashing formulations of the same
    function (``simhash_signatures_jvm``): pandas map-only 0.2 s,
    JVM-hash + vectorized vote UDF 0.85 s, pure-JVM 64-bit-vote
    aggregation 2.2 s — the explode + shuffle of per-token rows costs
    more than the memoized Python hashing at every tested shape, and the
    gap widens with corpus size because this path has no shuffle to grow."""

    simhash_udf = F.pandas_udf(_simhash64_batch, "long")
    return documents.select("doc_id", simhash_udf(F.col("text")).alias("simhash"))


def simhash_signatures_jvm(documents: DataFrame) -> DataFrame:
    """Zero-Python alternative to ``simhash_signatures`` — identical
    signatures (lockstep-tested), all hashing JVM-side.

    Explode tokens → ``F.md5`` → hex→long via two 32-bit ``conv`` halves
    → 64 codegen'd bit-vote sums per doc (``sum((h >>> b) & 1)``) →
    recombine majority bits.  Map-side combine collapses the exploded
    tokens to 65 counters per doc before the shuffle.  Kept for
    deployments that must not run Python workers; the pandas map-only
    path above measures 10× faster at sf0.1 (0.2 s vs 2.2 s) and is the
    default everywhere."""
    trimmed = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"^\s+|\s+$", ""
    )
    # split on runs of spaces == Python `.strip().split(" ")` + drop-empties
    # (the one residual empty token, from text == "", is nulled below so it
    # never votes and count("h") sees zero tokens)
    toks = documents.select(
        "doc_id", F.explode_outer(F.split(trimmed, " +")).alias("tok")
    )
    hi = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
    h = F.shiftleft(hi, 32).bitwiseOR(lo)
    hashed = toks.select(
        "doc_id", F.when(F.col("tok") != "", h).alias("h")
    )
    bit_counts = [
        F.coalesce(
            F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1))), F.lit(0)
        ).alias(f"c{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(F.count("h").alias("n"), *bit_counts)
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        # bit b set iff votes 2*c_b − n > 0 (majority of token hashes set it)
        sim = sim.bitwiseOR(
            F.shiftleft((F.col(f"c{b}") * 2 > F.col("n")).cast("long"), b)
        )
    return agg.select("doc_id", sim.alias("simhash"))


def containment_pairs_prefix(
    documents: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """Output-identical to ``containment_pairs`` (same oracle) with the
    ONE-SIDED prefix filter — the containment analog of PPJoin's bound:
    C(A→B) = |A∩B|/|A| ≥ t forces A to share ≥ ⌈t·|A|⌉ shingles with
    B, so under any global shingle order A must hit B within its FIRST
    ``|A| − ⌈t·|A|⌉ + 1`` shingles.  Containment is one-sided (the
    bound constrains only the numerator side's prefix against the
    OTHER side's full set), and the emitted predicate is
    ``max(C(A→B), C(B→A)) ≥ t`` — so candidates join PREFIX postings
    against FULL postings symmetrically: a qualifying pair is found
    when either side's prefix hits the other's full set.

    Ordering shingles by ascending document frequency puts boilerplate
    shingles (the hot keys that give the single-scan tier a quadratic
    in-group ceiling) at the END of every set: a hot shingle's PREFIX
    postings are near-empty, so its join fan-out collapses to
    (few prefix stubs) × (full postings) instead of |postings|².
    Exactness is kept by verifying candidates against full postings
    (intersection counts, longs only).  Same cost shape as the Jaccard
    PPJoin tier: +1 df aggregate, +1 per-doc ranking window, candidate
    verify re-joins full postings — skew INSURANCE, measurably slower
    on corpora with no hot shingles (SCALING finding 2's law)."""
    from pyspark.sql import Window

    post = (
        with_shingles(documents, "sh")
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s0"))
        .select("doc_id", "n_sh", F.xxhash64("s0").alias("s"))
    )
    dfreq = post.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        post.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "s")
    )
    full = post.select(F.col("doc_id").alias("doc_f"), "s")
    cand = (
        prefix.join(full, "s")
        .filter(F.col("doc_id") != F.col("doc_f"))
        .select(
            F.least("doc_id", "doc_f").alias("doc_a"),
            F.greatest("doc_id", "doc_f").alias("doc_b"),
        )
        .distinct()
    )
    pa = post.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("nsh_a"), "s"
    )
    pb = post.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nsh_b"), "s"
    )
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "nsh_a", "nsh_b")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    ca = F.col("inter") / F.col("nsh_a")
    cb = F.col("inter") / F.col("nsh_b")
    return (
        inter.filter(F.greatest(ca, cb) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 4).alias("cont_ab"),
            F.round(cb, 4).alias("cont_ba"),
        )
    )


def _simhash_signatures_oracle() -> str:
    """DuckDB replay of the 64-bit SimHash signature table — the md5
    token hashes make the signature a pure deterministic function of
    the text, so the whole map-only pandas kernel is SQL-replayable:
    two 32-bit md5 halves per token, 64 per-bit vote sums per doc,
    HUGEINT bit assembly with an explicit two's-complement wrap for bit
    63 (BIGINT cast of ≥ 2⁶³ would error).  Token-less docs signature
    to 0 on both sides (the left join)."""
    votes = ", ".join(
        f"sum(CASE WHEN ((CASE WHEN {b} < 32 THEN lo ELSE hi END) "
        f"// {1 << (b % 32)}) % 2 = 1 THEN 1 ELSE 0 END) AS c{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN 2*c{b} > n THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({DD_TOKENS.format(t="text")}) AS tok
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
         CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
  FROM tok
),
v AS (SELECT doc_id, count(*) AS n, {votes} FROM h GROUP BY doc_id),
s AS (
  SELECT doc_id, {bits} AS u FROM v
)
SELECT d.doc_id,
       coalesce(CAST(CASE WHEN s.u >= 9223372036854775808::HUGEINT
                          THEN s.u - 18446744073709551616::HUGEINT
                          ELSE s.u END AS BIGINT), 0) AS simhash
FROM documents d LEFT JOIN s USING (doc_id)
"""


SIMHASH_SIGNATURES_ORACLE = _simhash_signatures_oracle()


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming, blocked on 16-bit
    chunks (a pair within distance d<4 must agree on >=1 of 4 chunks —
    pigeonhole guarantees full recall for d <= 3; wider d trades recall).

    Same 100 TB guard as ``minhash_lsh_pairs``: chunk buckets capped at
    ``max_bucket`` members (sorted by doc_id, truncation observed via the
    attached ``lsh_bucket_observation`` + warned after the first action,
    never silent) so a degenerate 16-bit key — all-identical boilerplate
    hashes to identical chunks — can't quadratically blow up one task."""
    from pyspark.sql import Observation

    sig = simhash_signatures(documents)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    obs = Observation()
    buckets = (
        chunks.groupBy("chunk", "key")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "ds"
            )
        )
        .filter(F.size("ds") > 1)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.size("ds") > max_bucket).cast("long")).alias(
                "n_truncated"
            ),
        )
    )
    cand = (
        buckets.withColumn("ds", F.slice("ds", 1, max_bucket))
        .select(F.explode("ds").alias("x"), "ds")
        .select("x", F.explode("ds").alias("y"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    _watch_truncated_buckets(obs, "simhash_pairs", max_bucket)
    out.lsh_bucket_observation = obs
    return out


# ---------------------------------------------------------------------------
# Embedding near-dup at scale: random-hyperplane LSH blocking
# ---------------------------------------------------------------------------


def embedding_lsh_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 8,
    n_planes: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup pairs when NEITHER side fits in memory: multi-table
    random-hyperplane LSH — n_tables independent sign-sketches of n_planes
    bits; candidates = pairs colliding in ANY table; exact cosine verify.
    (The broadcastable-side case is operators/simjoin.py.)

    Recall for a pair at cosine s: 1-(1-p^n_planes)^n_tables with
    p = 1 - acos(s)/pi — defaults give ~0.998 at s=0.9.  Tune n_planes up
    to shrink buckets (shuffle fan-out), n_tables up to recover recall.

    SIZING LAW (measured — SCALING.md finding 1): candidate volume is
    ~N²·n_tables/2^(n_planes+1), so n_planes MUST grow with the corpus:
    ``n_planes ≈ log2(N) − log2(target_bucket_rows)``.  Passing
    ``n_planes=None`` (the default) applies that law from a row count
    (~32-row target buckets, floor 4) — at 100k rows the fixed old
    default of 4 planes meant ~2.5e9 candidate pairs, an accidental
    cross join no optimizer can save.
    """
    from vector_search_engine_spark.functions.vector import cosine_sim_pairs_udf

    first = vectors.select(vec_col).first()
    if first is None:
        return vectors.sparkSession.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )
    dim = len(first[0])
    if n_planes is None:
        n = vectors.count()
        n_planes = max(4, int(np.ceil(np.log2(max(n, 2)))) - 5)
    rng = np.random.default_rng(seed)
    planes = rng.normal(0, 1, (n_tables, n_planes, dim))
    # All n_tables×n_planes projections in ONE GEMM per Arrow batch.  The
    # previous shape — an interpreted aggregate(zip_with(...)) lambda per
    # (table, plane) per row — paid the ~40 µs/element HOF tax 32×
    # per vector (see module bench notes).
    plane_mat = planes.reshape(n_tables * n_planes, dim).T  # (dim, T·P)
    bit_weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def buckets_udf(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vs.tolist(), dtype=np.float64)  # (B, dim)
        bits = (V @ plane_mat >= 0).reshape(len(vs), n_tables, n_planes)
        buckets = (bits * bit_weights).sum(axis=-1).astype(np.int32)
        return pd.Series(list(buckets))

    # Candidate generation and dedup carry ONLY (id, table, bucket) longs —
    # vectors rejoin once per side after the pair set is deduped, and the
    # exact verify is a vectorized pandas UDF (the interpreted-HOF cosine
    # over the candidate fan-out was the dominant cost of this operator).
    sk = vectors.select(
        F.col(id_col),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("table", "bucket"),
    )
    a = sk.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = sk.select(F.col(id_col).alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pair_cosine = cosine_sim_pairs_udf()
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", pair_cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


# Fixture threshold for the registry query: sits in a ≥1e-4-wide gap of the
# within-label cosine distribution at every SF (measured sf0.001/0.01/0.1),
# so engine/oracle float64 deltas (~1e-13) can never flip a membership.
# Production embedding spaces use ~0.95+; the synthetic fixture's max
# within-label cosine is ~0.47.
SEMANTIC_DEDUP_THRESHOLD = 0.36


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = SEMANTIC_DEDUP_THRESHOLD,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — cluster the space, then inside
    each cluster drop every vector that has a near-identical neighbor,
    keeping one representative per duplicate group.

    Deterministic keeper rule (the paper keeps an arbitrary one; an
    engine needs a stable choice): a row is dropped iff some LOWER-id row
    in its cluster has cosine ≥ threshold; ``dup_of`` records the lowest
    such id (NULL for keepers).  Lowest-id-wins makes output identical
    across runs, partitionings and engines.

    ``cluster_col`` is any blocking key: the fixture uses the embeddings
    table's ``label``; at scale pass the IVF coarse-quantizer cell id
    (the paper's k-means step IS an IVF build — ``IVFIndex.build`` +
    assignment provides it for free).  Plan: ONE shuffle grouping by
    cluster, then a per-cluster normalized GEMM in ``applyInPandas`` —
    pairs are never materialized as rows.  Memory per task is
    O(|cluster|·d) for vectors plus a blocked |cluster|×block score
    strip; SemDeDup sizes k so clusters stay ~10⁴-10⁵ rows, which is the
    same contract the IVF cell layout already maintains.  Zero-norm
    vectors take cosine 0 to everything (the ``cosine_sim`` convention).
    """
    spark = vectors.sparkSession
    tau = float(threshold)

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids_s = ids[order]
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[order]
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vectors -> cosine 0 vs anything
        Vn = V / norms
        dup_of = np.full(n, -1, dtype=np.int64)
        # blocked score strip: rows [i0:i1) against all STRICTLY EARLIER
        # ids — never the full |c|x|c| matrix at once
        block = 1024
        for i0 in range(1, n, block):
            i1 = min(i0 + block, n)
            S = Vn[i0:i1] @ Vn.T  # (b, n)
            for r in range(i0, i1):
                hits = np.flatnonzero(S[r - i0, :r] >= tau)
                if len(hits):
                    dup_of[r] = ids_s[hits[0]]  # lowest id: ids_s ascending
        out = pd.DataFrame(
            {
                id_col: ids_s,
                "cluster": pdf[cluster_col].to_numpy(dtype=np.int64)[order],
                "keep": dup_of < 0,
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of], dtype="Int64"
                ),
            }
        )
        return out

    return (
        vectors.select(id_col, cluster_col, vec_col)
        .groupBy(cluster_col)
        .applyInPandas(
            per_cluster,
            schema=f"{id_col} long, cluster long, keep boolean, dup_of long",
        )
    )


SEMANTIC_DEDUP_ORACLE = f"""
WITH m AS (
  SELECT a.vec_id AS vid, min(b.vec_id) AS dup_of
  FROM embeddings a
  JOIN embeddings b
    ON a.label = b.label AND b.vec_id < a.vec_id
  -- norm > 0 guards mirror the engine's zero-norm → cosine 0 convention:
  -- without them DuckDB yields NaN, which it sorts above every number, so
  -- NaN >= threshold would wrongly mark zero vectors as duplicates.
  WHERE {{na}} > 0 AND {{nb}} > 0
    AND {{dot}} / (sqrt({{na}}) * sqrt({{nb}})) >= {SEMANTIC_DEDUP_THRESHOLD}
  GROUP BY a.vec_id
)
SELECT e.vec_id,
       CAST(e.label AS BIGINT) AS cluster,
       (m.vid IS NULL) AS keep,
       m.dup_of
FROM embeddings e LEFT JOIN m ON e.vec_id = m.vid
""".format(
    dot=(
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    ),
    na=(
        "list_sum(list_transform(a.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    ),
    nb=(
        "list_sum(list_transform(b.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    ),
)


def keep_best(
    documents: DataFrame,
    clusters: DataFrame,
    quality: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware near-dup collapse (r14; library home r15): per
    transitive-closure cluster keep the BEST document — Gopher ``keep``
    verdict first, then word count, ``doc_id`` as the final tie-break —
    instead of ``graph.dedup_clusters``' min-id canonical.  The shape
    every production dedup actually ships: when a page and its
    boilerplate-mangled mirror collide, the clean long one survives.

    ``clusters`` is any frame carrying ``(doc_id, cluster_id,
    cluster_size)`` — ``graph.dedup_clusters`` output, or an external
    assignment.  ``quality`` defaults to ``text_ops.quality_filter``
    over the same documents (``doc_id``, ``n_words``, ``keep``); pass a
    precomputed frame to reuse one quality scan across pipeline stages
    (the ``pipeline_text_curation`` composition does).

    One window over the cluster key (single shuffle); the pair graph
    and CC are the bucketed machinery ``dedup_clusters`` already
    grades.  No reference analog (the reference serves queries; it
    does not curate corpora)."""
    if quality is None:
        from vector_search_engine_spark.operators import text_ops

        quality = text_ops.quality_filter(documents).select(
            "doc_id", "n_words", "keep"
        )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("keep").desc(), F.col("n_words").desc(), F.col("doc_id")
    )
    return (
        clusters.select("doc_id", "cluster_id", "cluster_size")
        .join(quality.select("doc_id", "n_words", "keep"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "cluster_size", "n_words", "keep")
    )


def corpus_dedup_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus dedup statistics (exact distinct text hashes —
    the dedup accounting a training-data pipeline reports)."""
    h = F.md5(normalized(F.col("text")))
    return (
        documents.select("source", h.alias("h"), F.col("n_chars"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_distinct"),
            (F.count("*") - F.countDistinct("h")).cast("long").alias("n_dup_docs"),
            F.round(
                (F.count("*") - F.countDistinct("h")) / F.count("*"), 4
            ).alias("dup_ratio"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def corpus_approx_distinct(
    documents: DataFrame, rsd: float = 0.01, tol: float = 0.05
) -> DataFrame:
    """Sketch-based dedup accounting: HyperLogLog++ distinct counts per
    source (SURVEY.md §2.7 aggregations row).  At 100 TB the exact
    count-distinct's shuffle carries every distinct hash; the HLL sketch
    is a few KB per group and merges map-side.  The output pins the
    accuracy contract instead of the raw estimate — ``hll_within_tol``
    must be uniformly true (the oracle emits literal TRUE), so the
    correctness gate fails if the sketch ever drifts past ``tol``."""
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("text").cast("long").alias("n_distinct"),
            F.approx_count_distinct("text", rsd).alias("_approx"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (
                F.abs(F.col("_approx") - F.col("n_distinct"))
                / F.col("n_distinct")
                <= tol
            ).alias("hll_within_tol"),
        )
    )


CORPUS_APPROX_DISTINCT_ORACLE = """
SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
       TRUE AS hll_within_tol
FROM documents
GROUP BY source
"""


CORPUS_DEDUP_STATS_ORACLE = f"""
WITH h AS (
  SELECT source, md5({DD_NORMALIZED.format(t="text")}) AS h, n_chars
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT h) AS n_distinct,
       count(*) - count(DISTINCT h) AS n_dup_docs,
       round(CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*), 4) AS dup_ratio,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM h
GROUP BY source
"""
