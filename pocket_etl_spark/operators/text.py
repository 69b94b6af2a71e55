"""Text analysis operators: tokenization, quality scoring, language ID,
fingerprinting. All pure column expressions (JVM-side, whole-stage codegen) —
no Python in the hot path; every formula is reproducible in ANSI SQL so each
operator is DuckDB-oracle-checkable.

Scale: every operator here is embarrassingly parallel per row (narrow, no
shuffle); token-level aggregations go through explode + hash-agg (map-side
partial combine)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pocket_etl_spark.functions import md5_long

# tiny closed stopword set; enough for ratio features over any English-ish corpus
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def stopword_count(text_col: str = "text") -> Column:
    toks = tokens(text_col)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))


def quality_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality features: token count, char count, mean token length,
    stopword ratio, distinct-token ratio. Ratios are int/int divisions in double
    (bit-identical cross-engine)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.length(text_col).alias("n_chars_measured"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
            / n_tok.cast("double")
        ).alias("avg_token_len"),
        (stopword_count(text_col).cast("double") / n_tok.cast("double")).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")).alias(
            "distinct_ratio"
        ),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.03) -> DataFrame:
    """Heuristic language ID: stopword-ratio thresholding ('en' vs 'und').
    Deliberately simple and fully SQL-expressible; the n-gram-profile upgrade
    plugs into the same shape (per-row score → argmax)."""
    q = quality_features(df, id_col, text_col)
    return q.select(
        id_col,
        "n_tokens",
        (F.col("stopword_ratio") >= threshold).alias("is_en"),
        F.when(F.col("stopword_ratio") >= threshold, F.lit("en")).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
    )


def winnow_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): hash every k-gram of
    the text, then keep the minimum hash of each sliding window of w positions.
    The distinct selected hashes are the document's fingerprint set — two
    documents sharing long substrings share fingerprints, which is the
    plagiarism/near-dup primitive MinHash doesn't give (it is order-blind).

    Pure higher-order column expressions (sequence/transform/slice/array_min) —
    JVM-side, zero shuffle, and the hash is the portable md5-derived 60-bit form
    so any ANSI engine reproduces it. The surfaced scalars (count/min/max of the
    set) are the deterministic summary; the full set is available via
    ``_winnow_set`` for joins.
    """
    txt = F.col(text_col)
    n_grams = F.length(txt) - F.lit(k - 1)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.conv(F.substring(F.md5(txt.substr(i, F.lit(k))), 1, 15), 16, 10).cast(
            "bigint"
        ),
    )
    n_windows = F.greatest(F.size(gram_hashes) - F.lit(w - 1), F.lit(1))
    winnowed = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(gram_hashes, j, w)),
        )
    )
    return df.select(
        F.col(id_col),
        winnowed.alias("_winnow_set"),
        F.size(winnowed).alias("n_fingerprints"),
        F.array_min(winnowed).alias("min_fp"),
        F.array_max(winnowed).alias("max_fp"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over normalized text (lowercase, squeezed
    whitespace) plus a 60-bit integer form for numeric partitioning — the exact
    dedupe key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), " +", " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        md5_long(norm).alias("fingerprint_long"),
    )
