"""Operator-level tests: dedupe variant equivalence, LSH recall vs brute force,
multimodal mapInPandas plumbing."""

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pocket_etl_spark.cdc.dedupe import OP_RANK_EXPR, lww_dedupe, lww_dedupe_salted
from pocket_etl_spark.datagen import gen_change_events
from pocket_etl_spark.schema import LSN_COL, OP_COL


def lww_dedupe_window(df, key_cols, lsn_col=LSN_COL, op_col=OP_COL):
    """Window-function formulation (row_number = 1): the textbook LWW
    reference the scale-path dedupes are checked against. It shuffles whole
    keys to single reducers, so it is not a production path."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(lsn_col).desc(), OP_RANK_EXPR(op_col).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def _sorted_pdf(df):
    pdf = df.toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)[sorted(pdf.columns)]


def test_dedupe_variants_agree(spark):
    """groupBy/max_by, salted two-phase, and window row_number formulations must
    produce identical winners — including under heavy skew."""
    events = gen_change_events(spark, 4000, 200, seed=13, hot_key_fraction=0.5)
    cols = ["repo", "path"]
    a = _sorted_pdf(lww_dedupe(events, cols))
    b = _sorted_pdf(lww_dedupe_salted(events, cols, num_salts=8))
    c = _sorted_pdf(lww_dedupe_window(events, cols))
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(a, c)


def test_lsh_recovers_all_same_bucket_neighbors(spark):
    """The LSH invariant: every exact top-k neighbor that lands in the query's
    bucket MUST be recovered by lsh_topk (within-bucket ranking is exact); overall
    recall equals the same-bucket fraction — on random vectors that fraction is
    naturally low (≈(1-θ/π)^planes), which is the documented tradeoff, recovered
    in production by unioning L hash tables."""
    from pocket_etl_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_buckets,
        lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus = e.filter("vec_id >= 24")
    queries = e.filter("vec_id between 3 and 23")
    planes = e.filter("vec_id < 3")
    exact = brute_force_topk(corpus, queries, k=3).toPandas()
    approx = lsh_topk(corpus, queries, planes, k=3).toPandas()
    buckets = hyperplane_buckets(e, planes).toPandas().set_index("vec_id").bucket
    exact_pairs = set(zip(exact.query_id, exact.neighbor_id))
    approx_pairs = set(zip(approx.query_id, approx.neighbor_id))
    same_bucket_exact = {(q, n) for q, n in exact_pairs if buckets[q] == buckets[n]}
    assert same_bucket_exact, "fixture degenerate: no same-bucket exact neighbors"
    assert same_bucket_exact <= approx_pairs
    # every LSH hit is a genuine corpus member
    assert set(approx.neighbor_id) <= set(r.vec_id for r in corpus.select("vec_id").collect())


def test_multimodal_feature_extraction(spark):
    from pocket_etl_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (1, "image", bytearray(b"\x89PNG fake image bytes"), {"w": "64", "h": "64"}),
        (2, "audio", bytearray(b"RIFF fake wav"), {"sr": "16000"}),
        (3, "image", None, {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(df, dim=4).toPandas().set_index("media_id")
    assert out.loc[1, "n_bytes"] == 21
    assert len(out.loc[1, "features"]) == 4
    assert out.loc[3, "digest"] is None
    # determinism: same payload → same features
    out2 = extract_features(df, dim=4).toPandas().set_index("media_id")
    assert list(out.loc[2, "features"]) == list(out2.loc[2, "features"])


def test_multimodal_frame_sample_fanout(spark):
    from pocket_etl_spark.operators.multimodal import MEDIA_SCHEMA, frame_sample

    rows = [
        (1, "video", bytearray(b"x" * 35), {}),
        (2, "image", bytearray(b"y" * 35), {}),  # filtered out: not video
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = frame_sample(df, every_n=10).toPandas()
    assert set(out.media_id) == {1}
    assert sorted(out.frame_no) == [0, 1, 2]  # 35 bytes // 10 → 3 frames


def test_real_decoder_is_stubbed(spark):
    from pocket_etl_spark.operators.multimodal import DecoderNotAvailable, decode_real

    with pytest.raises(DecoderNotAvailable):
        decode_real(b"bytes", "image")


def test_exact_dedup_finds_injected_duplicates(spark):
    from pocket_etl_spark.operators.dedup import exact_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dup = d.select(F.col("doc_id") + 100000, "text", "lang", "source", "n_chars").limit(5)
    dup = dup.toDF("doc_id", "text", "lang", "source", "n_chars")
    groups = exact_dedup(d.unionByName(dup))
    assert groups.filter("n_dups > 1").count() == 5
    # kept_id is always the original (min id)
    assert groups.filter("n_dups > 1").filter("kept_id >= 100000").count() == 0


def test_winnow_fingerprints_overlap_on_shared_substrings(spark):
    """Winnowing property: a document and a copy with a changed tail still share
    most selected hashes; an unrelated document shares ~none."""
    from pocket_etl_spark.operators.text import winnow_fingerprint

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = [
        {"doc_id": 1, "text": base + "ending one"},
        {"doc_id": 2, "text": base + "a totally different ending two"},
        {"doc_id": 3, "text": "completely unrelated content with other words entirely " * 3},
    ]
    out = {
        r["doc_id"]: set(r["_winnow_set"])
        for r in winnow_fingerprint(spark.createDataFrame(docs)).collect()
    }
    sim12 = len(out[1] & out[2]) / len(out[1] | out[2])
    sim13 = len(out[1] & out[3]) / len(out[1] | out[3])
    assert sim12 > 0.6
    assert sim13 < 0.05


def test_ivf_indexed_matches_inmemory_and_prunes_partitions(spark, tmp_path):
    """The materialized IVF index (cell-partitioned parquet) must return the
    same top-k as the in-memory ivf_topk, and the probe scan must prune on the
    cell PARTITION column (the 10^9-vector read-volume bound)."""
    from pocket_etl_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from plans import plan_facts

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = e.filter("vec_id < 4")
    queries = e.filter("vec_id between 4 and 8")
    corpus = e.filter("vec_id >= 9")

    idx = str(tmp_path / "ivf_index")
    ivf_write_index(corpus, centroids, idx)

    got = ivf_topk_indexed(spark, idx, queries, centroids, k=3, n_probe=2)
    want = ivf_topk(corpus, queries, centroids, k=3, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # partition pruning reaches the index scan
    f = plan_facts(got)
    assert "PartitionFilters" in f.text and "cell" in f.text, f.text[:3000]
