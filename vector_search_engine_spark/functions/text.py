"""Text kernels: tokenization, n-gram shingles, normalization — each with a
DuckDB SQL twin so every operator built on them is oracle-checkable.

Parity contract (engine ⇔ oracle):
  * tokens   = split trimmed text on single spaces, drop empties;
  * shingles = word n-grams joined by one space, [] when < n tokens;
  * normalized text = lower(trim(collapse whitespace runs to one space));
  * set sizes use distinct semantics (Spark array_intersect ≡ DuckDB
    list_intersect, both distinct);
  * hashes are md5 hex strings (identical across engines; Spark xxhash64
    has no DuckDB twin so it only appears in rows-only operators).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), " "), lambda x: x != "")


# ``tokens`` as Spark-SQL text ({t} = text expression), for expressions
# parsed in one call instead of built Column by Column
SQL_TOKENS = "filter(split(trim({t}), ' '), x -> x != '')"


def normalized(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-grams as space-joined strings; [] when fewer than n tokens."""
    body = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(body)


def with_shingles(
    df,
    out_col: str = "sh",
    n: int = 3,
    text_col: str = "text",
    tokens_col: str | None = None,
):
    """Materialize distinct word n-gram shingles as a real column.

    Implementation notes from the bench audit (both matter at scale):

    * tokens are materialized into their own projection first — a
      lambda-captured expression like ``element_at(tokens(text), i+j)``
      re-runs the whole split+filter per element, making one-expression
      shingling O(tokens²);
    * the n-gram itself uses MLlib's ``NGram`` transformer (JVM sliding
      window, space-joined — byte-identical to ``word_shingles``) because
      higher-order-function lambdas evaluate interpreted (~40 µs/element),
      ~10× slower than the transformer for the same result.

    ``tokens_col`` names an ALREADY-tokenized array column to consume
    instead of re-splitting ``text_col`` — the pipeline-composition
    path (one tokenization scan feeds every stage)."""
    from pyspark.ml.feature import NGram

    own_toks = tokens_col is None
    if own_toks:
        df = df.withColumn("_toks", tokens(F.col(text_col)))
        tokens_col = "_toks"
    df = NGram(n=n, inputCol=tokens_col, outputCol="_ngrams").transform(df)
    out = df.withColumn(out_col, F.array_distinct(F.col("_ngrams"))).drop(
        "_ngrams"
    )
    # only drop the scratch column WE created — a caller-provided
    # tokens_col stays on the frame (it may feed further stages)
    return out.drop("_toks") if own_toks else out


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return F.when(F.lit(union) == 0, F.lit(0.0)).otherwise(inter / union)


# ---------------------------------------------------------------------------
# DuckDB twins (format-string fragments; {t} = text expression)
# ---------------------------------------------------------------------------

DD_TOKENS = "list_filter(string_split(trim({t}), ' '), x -> x != '')"
DD_NORMALIZED = "lower(trim(regexp_replace({t}, '\\s+', ' ', 'g')))"
# {t} = a token-array column; produces word n-grams (n=3) like the Spark side
DD_SHINGLES3 = (
    "list_transform(range(1, greatest(len({t})-2, 0)+1), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"
)
# word 2-grams, ALL occurrences (no distinct) — the repetition-ratio twin
DD_SHINGLES2 = (
    "list_transform(range(1, greatest(len({t})-1, 0)+1), "
    "i -> {t}[i] || ' ' || {t}[i+1])"
)
