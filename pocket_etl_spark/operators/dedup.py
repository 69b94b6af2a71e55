"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

All are DataFrame compositions (explode → hash-agg → self-join on small keys);
hashes derive from md5 so every operator is reproducible in ANSI SQL for the
oracle gate.

Scale design:
- exact dedupe = one hash-aggregate on the fingerprint (map-side combine);
- Jaccard/MinHash/SimHash avoid the O(n²) all-pairs comparison: pairs are only
  generated for documents sharing a shingle / LSH band bucket / simhash value —
  the join key cardinality, not n², bounds the shuffle;
- hot shingles (stopword-like shingles shared by half the corpus) are the skew
  hazard: ``ngram_jaccard_pairs`` drops shingles above a document-frequency cap
  before the self-join (standard trick; cap is a parameter, lineage records the
  drop count at the call site if needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pocket_etl_spark.functions import md5_long
from pocket_etl_spark.operators.text import fingerprint


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedupe: keep the min-id document per normalized-text fingerprint.
    Returns (fingerprint, kept_id, n_dups)."""
    fp = fingerprint(df, id_col, text_col)
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("kept_id"), F.count(F.lit(1)).alias("n_dups")
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document, via 1-indexed element_at so the
    construction is mirrored exactly by SQL list indexing."""
    toks = F.split(F.col(text_col), " ")
    # guard: Spark's sequence(1, 0) is DESCENDING ([1,0]), not empty — short docs
    # must yield an empty index array (DuckDB generate_series(1,0) = []).
    # The shingle array is built with transform() BEFORE the explode so exploded
    # rows carry one short string each, never the whole token array (exploding
    # positions first made every row drag a full copy of the array through the
    # plan — 10× slower at sf0.1).
    n_idx = F.size(toks) - (n - 1)
    sh_arr = F.when(
        n_idx >= 1,
        F.transform(
            F.sequence(F.lit(1), n_idx),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.explode(sh_arr).alias("shingle")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 128,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold.

    inter = |shingles(a) ∩ shingles(b)| via self-join on shingle;
    jaccard = inter / (|a| + |b| - inter) — int/int division, exact cross-engine.
    ``max_doc_freq`` drops ubiquitous shingles before the join — ON by default
    (128): one hot shingle shared by half a 10^9-doc corpus makes the
    shingle-equi self-join quadratic; the cap bounds per-shingle join fan-out
    at max_doc_freq² pairs independent of corpus size. Sizes and intersections
    are both computed over the CAPPED shingle sets, so jaccard remains a true
    Jaccard over the reduced universe. ``None`` disables (exact, test-scale)."""
    sh = shingles(df, id_col, text_col, n)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    n: int = 3,
) -> DataFrame:
    """MinHash: for each of ``num_hashes`` hash functions h_j(s)=md5(j||s) as a
    60-bit int, the per-document min over its shingle set. Long-format output
    (doc, j, minhash) — one explode + one hash-agg, no UDFs."""
    sh = shingles(df, id_col, text_col, n)
    j = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1)))
    hashed = sh.select(id_col, "shingle", j.alias("j")).select(
        id_col,
        "j",
        md5_long(F.concat_ws("#", F.col("j").cast("string"), F.col("shingle"))).alias("h"),
    )
    return hashed.groupBy(id_col, "j").agg(F.min("h").alias("minhash"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """MinHash+LSH candidate pairs: signatures are banded (band = j // band_size);
    a band's key is md5 over its minhashes in j order; documents sharing any band
    key become a candidate pair. Join fan-out is bounded by bucket sizes, never
    O(n²) — the scale path for near-dup at 10^9 docs."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n)
    banded = (
        sig.withColumn("band", (F.col("j") / band_size).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("j", "minhash"))),
                        lambda s: s["minhash"].cast("string"),
                    ),
                )
            ).alias("band_key")
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash over whitespace tokens: per bit position j, sum ±1 weighted by bit
    j of md5(token); bit set where the sum is positive. Pure explode + agg +
    bit arithmetic — SQL-mirrorable."""
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = md5_long(F.col("tok"))
    j = F.explode(F.sequence(F.lit(0), F.lit(bits - 1)))
    contrib = toks.select(id_col, h.alias("h")).select(
        id_col,
        j.alias("j"),
        F.expr("(shiftright(h, j) & 1) * 2 - 1").alias("c"),
    )
    return (
        contrib.groupBy(id_col, "j")
        .agg(F.sum("c").alias("s"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1L, j)")).otherwise(F.lit(0))).alias(
                "simhash"
            )
        )
    )

