"""Query catalogue: every operator family from SURVEY.md §2 as a (Spark, oracle-SQL)
pair over the driver's test tables (TESTDATA.md).

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame; ``ORACLE_SQL``
holds the DuckDB-runnable ANSI equivalent with IDENTICAL column aliases (the driver
hashes values under sorted column names).

Cross-engine exactness rules used throughout (see functions/__init__.py):
- float aggregations go through decimal casts (exact, order-independent);
- ratios are int/int divisions in double (bit-identical in any engine);
- portable hashes derive from md5 (same algorithm everywhere);
- rankings carry unique tie-break keys.

Scale notes are attached per query: these run at sf0.01 for the oracle gate and
sf0.1+ for bench, but each plan is chosen to survive 100TB (broadcast hints on dims,
partial-agg-friendly shapes, no driver-side loops).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pocket_etl_spark.functions import DEC, cosine_sim, davg, dsum, md5_long


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCRATCH_ROOT: str | None = None


def _scratch(name: str, sf: str) -> str:
    """Path for the query-time artifact ``name`` built from the tables at
    ``sf`` (the change-feed table, the IVF index). Keyed by the full resolved
    ``sf`` path, under ONE ``tempfile.mkdtemp`` root per process that is
    removed at interpreter exit — artifacts never outlive the process, and two
    processes, or two datasets whose directories share a basename, never share
    one."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="pocket_etl_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return os.path.join(_SCRATCH_ROOT, name, os.path.abspath(sf).lstrip(os.sep))


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md §2.1-§2.4): scans, transforms, filters, lookups,
# unions, aggregations, windows, sort/limit.
# ---------------------------------------------------------------------------


def q_scan_filter_project(spark, sf):
    """Scan + filter + projection — CsvInputStreamMapper/SqlExtractor analogue
    (extractor/CsvInputStreamMapper.java:35-94). Predicate & column pruning reach
    the parquet scan (PushedFilters in .explain)."""
    li = t(spark, sf, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "2001-01-01") & (F.col("l_discount") > 0.05))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)))
            .cast("double")
            .alias("net_price"),
        )
    )


def q_agg_pricing_summary(spark, sf):
    """Grouped aggregation (TPC-H Q1 shape) — the metrics-tree SUM analogue
    (EtlMetrics.java:26-39) generalized to full relational agg."""
    li = t(spark, sf, "lineitem")
    disc = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_lookup_join_enrich(spark, sf):
    """Broadcast lookup join — the reference's Lookup/CachingLoaderLookup
    (lookup/CachingLoaderLookup.java:38-144): build side broadcast, probe side
    streams. Dims are tiny → two broadcast exchanges, zero shuffles of customer."""
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            davg("c_acctbal", "avg_acctbal"),
        )
    )


def q_join_agg_revenue(spark, sf):
    """Fact-fact shuffle join + aggregation: revenue per order priority.
    At scale: both sides shuffle on orderkey (co-partition); AQE handles skew."""
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q_semi_join(spark, sf):
    """ContainsFilter (transformer/filter/ContainsFilter.java:26-37) = left_semi:
    customers that have at least one open order, counted per segment."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_anti_join(spark, sf):
    """ContainsFilter.negate() (FilterFunctionalTest.java:83-88) = left_anti:
    customers with no urgent orders."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"), davg("c_acctbal", "avg_acctbal"))
    )


def q_union_by_name(spark, sf):
    """combine() / multi-extractor fan-in (EtlStream.java:98-118,162-181) =
    UNION ALL by name over heterogeneous schemas; missing columns null-filled."""
    c = t(spark, sf, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    u = c.unionByName(s, allowMissingColumns=True)
    return u.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("acctbal", "total_acctbal"),
        F.count("segment").alias("n_with_segment"),
    )


def q_fanout_tokens(spark, sf):
    """1→N record fan-out (Transformer returning a list,
    TransformerFanoutTest.java:47-70) = explode: documents → tokens → counts."""
    d = t(spark, sf, "documents")
    return (
        d.select("doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct(F.col("tok")).alias("n_distinct_tokens"),
        )
    )


def q_json_extract(spark, sf):
    """JSONStringMapper (extractor/JSONStringMapper.java:48-87) = get_json_object
    over the events props column."""
    e = t(spark, sf, "events")
    return (
        e.select(F.get_json_object("props", "$.k").alias("k"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("k").alias("n_distinct_k"),
            F.max(F.col("k").cast("int")).alias("max_k"),
        )
    )


def q_window_topk_per_group(spark, sf):
    """Top-3 orders by totalprice per priority — window row_number. Scale note:
    per-group top-k via window shuffles whole groups; for huge groups prefer the
    two-phase groupBy/max_by family (see cdc/dedupe.py). Kept as the window-op
    representative with a unique tie-break key."""
    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


def q_sort_limit(spark, sf):
    """Global top-10 (TakeOrderedAndProject — no full sort materialized)."""
    li = t(spark, sf, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10)
    )


def q_having(spark, sf):
    """Aggregate + group filter (HAVING)."""
    o = t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_spent"))
        .filter(F.col("n_orders") >= 15)
    )


def q_time_window_agg(spark, sf):
    """Event-time tumbling window (streaming §2.6 batch analogue): hourly
    event-count + exact value sum."""
    e = t(spark, sf, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
    )


def q_asof_join(spark, sf):
    """As-of join — each event paired with the user's latest order at or before
    the event time. ABSENT in the reference (§2.3); implemented the scalable way:
    union both sides into one timeline, ONE shuffle on the key, running
    last-non-null over the ordered partition — no O(n·m) range join, no
    per-event probe. The tie order (orders sort before events at equal t,
    higher orderkey wins among same-date orders) is explicit so any engine
    reproduces it."""
    e = t(spark, sf, "events").select(
        "user_id", "event_id", F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("o_key"), F.lit(1).alias("is_event"),
    )
    o = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.col("o_orderkey").alias("o_key"), F.lit(0).alias("is_event"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event", "o_key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.unionByName(o)
        .withColumn("last_order", F.last("o_key", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select("user_id", "event_id", "last_order")
    )


def q_range_join(spark, sf):
    """Range (non-equi) join: classify lineitems into quantity bands. The band
    dim is tiny → broadcast nested-loop join, no shuffle of the fact side."""
    bands = spark.createDataFrame(
        [(1, 0.0, 10.0, "low"), (2, 10.0, 25.0, "mid"), (3, 25.0, 100.0, "high")],
        "band_id long, lo double, hi double, band string",
    )
    li = t(spark, sf, "lineitem")
    return (
        li.join(
            F.broadcast(bands),
            (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "total_price"))
    )


def q_rollup_agg(spark, sf):
    """Hierarchical subtotal aggregation (ROLLUP region → nation). ABSENT in the
    reference; its metrics tree (EtlMetrics.java:26-39) is exactly a rollup —
    child counters summing into parents."""
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "total_acctbal"))
    )


def q_intersect_nations(spark, sf):
    """INTERSECT set op: nations that have both customers and suppliers."""
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


def q_except_nations(spark, sf):
    """EXCEPT set op: nations with customers but no high-balance supplier."""
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        t(spark, sf, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.distinct().subtract(s.distinct())


def q_window_lag_gap(spark, sf):
    """lag() window: average seconds between a user's consecutive events —
    sessionization's building block."""
    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        e.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum("gap").alias("total_gap_sec"),
            F.max("gap").alias("max_gap_sec"),
        )
    )


def q_sessionize(spark, sf):
    """Gap-based sessionization (30-min gap) — the stateful-streaming operator's
    batch twin (streaming/sessionize.py). One key shuffle shared by both window
    passes, then a hash aggregate."""
    from pocket_etl_spark.streaming.sessionize import sessionize_batch

    return sessionize_batch(t(spark, sf, "events"), gap_sec=1800)


def q_text_tokens_regex(spark, sf):
    """BPE-ish regex tokenizer: letter-runs / digit-runs / single punctuation —
    the token-counting primitive for training-data pipelines. Portable regex
    (explicit classes, no \\w) so Spark (Java regex) and the oracle (RE2)
    tokenize identically."""
    d = t(spark, sf, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def q_pg_array_parse(spark, sf):
    """Postgres array-literal parsing (sources.pg_array_column — the read-side
    inverse of PostgresStringArrayArgumentFactory.java:31-62): build a pg
    literal with a quoted element from each document row, parse it back to a
    typed array, and project element-wise. The oracle states the expected
    parse result directly — ground truth, independent of the parser."""
    from pocket_etl_spark.sources import pg_array_column

    d = t(spark, sf, "documents")
    lit = F.concat(
        F.lit("{"), F.col("lang"), F.lit(',"doc '),
        F.col("doc_id").cast("string"), F.lit('"}'),
    )
    parsed = pg_array_column(d.select("doc_id", lit.alias("pg")), "pg", out="arr")
    return parsed.select(
        "doc_id",
        F.size("arr").alias("n_elems"),
        F.element_at("arr", 1).alias("elem0"),
        F.element_at("arr", 2).alias("elem1"),
    )


# ---------------------------------------------------------------------------
# CDC semantics over the driver's events table (the engine's own fixtures are
# exercised in tests/; these re-express the same operators SQL-checkably).
# ---------------------------------------------------------------------------


def q_cdc_lww_dedupe(spark, sf):
    """THE core CDC operator: per-key last-writer-wins (key=user_id, lsn=event_id).
    groupBy/max_by → map-side partial agg → skew-proof (cdc/dedupe.py)."""
    e = t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.max_by(F.struct("event_type", "value", "event_id"), F.col("event_id")).alias("_w")
        )
        .select(
            "user_id",
            F.col("_w.event_type").alias("last_type"),
            F.col("_w.value").alias("last_value"),
            F.col("_w.event_id").alias("last_event_id"),
        )
    )


def q_cdc_lww_salted(spark, sf):
    """The explicit two-phase SALTED dedupe (cdc/dedupe.lww_dedupe_salted,
    SURVEY.md §4.2.2) — must produce byte-identical winners to the plain
    hash-aggregate form; registered separately so the skew path itself is
    oracle-checked. event_type plays the op role (no I/U/D → rank 0 for all;
    unique event_id makes the argmax deterministic)."""
    from pocket_etl_spark.cdc.dedupe import lww_dedupe_salted

    e = t(spark, sf, "events").select("user_id", "event_type", "value", "event_id")
    return lww_dedupe_salted(
        e, ["user_id"], lsn_col="event_id", op_col="event_type", num_salts=8
    )


def q_cdc_apply_upsert(spark, sf):
    """CDC apply truth table over events: 'error' acts as a delete op, everything
    else upserts; final state = latest non-deleted row per user
    (RedshiftLoadStrategy.java:21-75 re-expressed)."""
    lww = q_cdc_lww_dedupe(spark, sf)
    return lww.filter(F.col("last_type") != "error")


def q_cdc_op_counts(spark, sf):
    """Ingest-metrics analogue (MetricsLoader.java:84-98): per-op counters +
    exact value totals."""
    e = t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "total_value"),
        F.min("event_id").alias("min_lsn"),
        F.max("event_id").alias("max_lsn"),
    )


def q_cdc_change_feed(spark, sf):
    """The change feed (ParquetLakeTable.read_changes) run through the REAL
    merge machinery against a declarative oracle: split events into two
    batches (even/odd event_id), merge both into a fresh lake table, and
    return the feed for the second commit's window (1, 2]. Delivered rows =
    keys whose batch-2 winner beat (or created) the batch-1 winner — the
    oracle states that set and each key's overall winner directly in SQL;
    tombstones surface as _change_type='delete' with the delete's payload.
    Unique event_ids make every argmax tie-free, so both sides are exact.

    The table lives in this process's scratch dir (``_scratch``). Both merges
    are fenced by batch id, so a repeat call is two manifest reads and a
    half-built table resumes where it stopped."""
    from pocket_etl_spark.lake import ParquetLakeTable

    ev = t(spark, sf, "events").select(
        "user_id",
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "event_type",
        "value",
    )
    table = ParquetLakeTable(
        spark, _scratch("feed", sf), key_cols=["user_id"], num_buckets=8
    )
    table.merge(ev.filter(F.col("lsn") % 2 == 0), batch_id=0)
    table.merge(ev.filter(F.col("lsn") % 2 == 1), batch_id=1)
    return table.read_changes(1).select(
        "user_id",
        F.col("lsn").alias("last_lsn"),
        "event_type",
        "value",
        "_change_type",
        "_commit_version",
    )


# ---------------------------------------------------------------------------
# Training-data operators (dedup / similarity / text / multimodal plumbing) —
# first-class components per the build brief, implemented in operators/*.
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    """Exact dedupe by normalized-text fingerprint (operators/dedup.exact_dedup):
    one hash-aggregate, map-side combine — the O(n) dedupe baseline."""
    from pocket_etl_spark.operators.dedup import exact_dedup

    return exact_dedup(t(spark, sf, "documents"))


def q_dedup_ngram_jaccard(spark, sf):
    """Near-dup pairs by 3-gram Jaccard ≥ 0.3 (operators/dedup.ngram_jaccard_pairs)
    with the default doc-frequency cap (128) ACTIVE — the oracle mirrors the cap,
    so the gated configuration is the bounded-fan-out scale path: per-shingle join
    fan-out ≤ 128² pairs regardless of corpus size."""
    from pocket_etl_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(t(spark, sf, "documents"), threshold=0.3, max_doc_freq=128)


def q_dedup_minhash_lsh(spark, sf):
    """MinHash(8 perms)+LSH(band=2) candidate pairs — the 10^9-doc near-dup path."""
    from pocket_etl_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(t(spark, sf, "documents"))


def q_dedup_simhash(spark, sf):
    """16-bit SimHash per document (operators/dedup.simhash)."""
    from pocket_etl_spark.operators.dedup import simhash

    return simhash(t(spark, sf, "documents"))


def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs (cos ≥ 0.45; corpus has no pairs ≥0.95)."""
    from pocket_etl_spark.operators.similarity import embedding_dup_pairs

    return embedding_dup_pairs(t(spark, sf, "embeddings"), threshold=0.45)


def q_dedup_embedding_lsh(spark, sf):
    """Embedding near-dup with hyperplane-LSH bucketing ACTIVE (cos ≥ 0.45,
    planes = first 4 vectors) — the scale configuration: candidate pairs are
    generated only within sign-pattern buckets, never all-pairs
    (operators/similarity.embedding_dup_pairs with ``planes``)."""
    from pocket_etl_spark.operators.similarity import embedding_dup_pairs

    e = t(spark, sf, "embeddings")
    return embedding_dup_pairs(e, threshold=0.45, planes=e.filter("vec_id < 4"))


def q_ann_brute_force(spark, sf):
    """Exact cosine top-3 neighbors for query vectors (vec_id<5) against the rest
    — the ANN correctness baseline (operators/similarity.brute_force_topk)."""
    from pocket_etl_spark.operators.similarity import brute_force_topk

    e = t(spark, sf, "embeddings")
    return brute_force_topk(e.filter("vec_id >= 5"), e.filter("vec_id < 5"), k=3)


def q_ann_lsh(spark, sf):
    """LSH-bucketed approximate top-3 (hyperplanes = first 4 vectors): candidates
    restricted to the query's sign-pattern bucket — the scale path."""
    from pocket_etl_spark.operators.similarity import lsh_topk

    e = t(spark, sf, "embeddings")
    return lsh_topk(
        e.filter("vec_id >= 9"),
        e.filter("vec_id between 4 and 8"),
        e.filter("vec_id < 4"),
        k=3,
    )


def q_ann_ivf(spark, sf):
    """IVF (coarse-quantizer) approximate top-3: corpus vectors indexed into
    cells by nearest centroid (vec_id<4 as centroids), queries probe their 2
    nearest cells (operators/similarity.ivf_topk) — the FAISS-IVF scale path."""
    from pocket_etl_spark.operators.similarity import ivf_topk

    e = t(spark, sf, "embeddings")
    return ivf_topk(
        e.filter("vec_id >= 9"),
        e.filter("vec_id between 4 and 8"),
        e.filter("vec_id < 4"),
        k=3,
        n_probe=2,
    )


def q_ann_ivf_indexed(spark, sf):
    """IVF top-3 against the MATERIALIZED index (cell-partitioned parquet,
    operators/similarity.ivf_write_index + ivf_topk_indexed): probe scan prunes
    on the cell partition column — the storage layout for 10^9 vectors. Must
    return exactly what the in-memory ivf path returns (same oracle).

    The index is built once per (process, sf) in ``_scratch``: repeat calls
    don't re-charge the build (table maintenance, not query time) to the
    query, and an interrupted build (no ``_SUCCESS`` marker) is redone."""
    from pocket_etl_spark.operators.similarity import ivf_topk_indexed, ivf_write_index

    e = t(spark, sf, "embeddings")
    idx = _scratch("ivf_idx", sf)
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        ivf_write_index(e.filter("vec_id >= 9"), e.filter("vec_id < 4"), idx)
    return ivf_topk_indexed(
        spark, idx, e.filter("vec_id between 4 and 8"), e.filter("vec_id < 4"),
        k=3, n_probe=2,
    )


def q_text_quality(spark, sf):
    """Per-document quality features (operators/text.quality_features)."""
    from pocket_etl_spark.operators.text import quality_features

    return quality_features(t(spark, sf, "documents"))


def q_text_langid(spark, sf):
    """Heuristic language ID via stopword ratio (operators/text.lang_id)."""
    from pocket_etl_spark.operators.text import lang_id

    return lang_id(t(spark, sf, "documents"))


def q_text_fingerprint(spark, sf):
    """Normalized md5 fingerprint + 60-bit integer form (operators/text.fingerprint)."""
    from pocket_etl_spark.operators.text import fingerprint

    return fingerprint(t(spark, sf, "documents"))


def q_text_winnow(spark, sf):
    """Rolling-hash winnowing fingerprint (k=8-gram hashes, window-min over
    w=4) — summarized as count/min/max of the selected-hash set
    (operators/text.winnow_fingerprint)."""
    from pocket_etl_spark.operators.text import winnow_fingerprint

    return winnow_fingerprint(t(spark, sf, "documents")).drop("_winnow_set")


def q_multimodal_binary_meta(spark, sf):
    """Binary-column plumbing: text encoded to binary, byte length + digest
    (operators/multimodal.binary_meta; decode/feature UDFs are tested in
    tests/test_multimodal.py — no SQL surface for mapInPandas)."""
    from pocket_etl_spark.operators.multimodal import binary_meta

    return binary_meta(t(spark, sf, "documents"), "doc_id", "text")


_SHINGLE_CTE = """
        toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
               FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS t(i))
"""

ORACLE_IVF = """
        WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cos_c AS (SELECT a.vec_id, cid,
                         list_dot_product(v, cv) /
                         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS cos
                  FROM allv a, cent),
        cells AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
                      SELECT vec_id, cid,
                             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                      FROM cos_c WHERE vec_id >= 9) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
                      SELECT vec_id, cid,
                             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                      FROM cos_c WHERE vec_id BETWEEN 4 AND 8) WHERE rn <= 2),
        cand AS (SELECT DISTINCT query_id, neighbor_id
                 FROM probes JOIN cells USING (cell)),
        scored AS (SELECT query_id, neighbor_id,
                          list_dot_product(q.v, c.v) /
                          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
                   FROM cand JOIN allv q ON q.vec_id = query_id
                             JOIN allv c ON c.vec_id = neighbor_id)
        SELECT query_id, rank, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 3
    """

ORACLE_SQL: dict[str, str] = {
    "dedup_exact": """
        SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fingerprint,
               MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
        FROM documents GROUP BY 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLE_CTE},
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 128),
        shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.3
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLE_CTE},
        hashed AS (SELECT doc_id, j,
                          ('0x' || substr(md5(j::VARCHAR || '#' || shingle), 1, 15))::BIGINT AS h
                   FROM sh, UNNEST(generate_series(0, 7)) AS t(j)),
        sig AS (SELECT doc_id, j, MIN(h) AS minhash FROM hashed GROUP BY doc_id, j),
        banded AS (SELECT doc_id, (j // 2) AS band,
                          md5(string_agg(minhash::VARCHAR, ',' ORDER BY j)) AS band_key
                   FROM sig GROUP BY doc_id, (j // 2))
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
    "dedup_simhash": """
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        bits AS (SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS s
                 FROM h, UNNEST(generate_series(0, 15)) AS t(j) GROUP BY doc_id, j)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    """,
    "dedup_embedding": """
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.45
    """,
    "dedup_embedding_lsh": """
        WITH p AS (SELECT vec_id AS pid, embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id < 4),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        bk AS (SELECT vec_id, CAST(SUM(CASE WHEN list_dot_product(e, pv) > 0
                                            THEN (1::BIGINT << pid::INT) ELSE 0 END) AS BIGINT) AS bucket
               FROM v, p GROUP BY vec_id),
        vb AS (SELECT v.vec_id, e, bucket FROM v JOIN bk USING (vec_id))
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.45
    """,
    "ann_brute_force": """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
        scored AS (SELECT query_id, neighbor_id,
                          list_dot_product(qv, cv) /
                          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
                   FROM q, c)
        SELECT query_id, rank, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 3
    """,
    "ann_lsh": """
        WITH p AS (SELECT vec_id AS pid, embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id < 4),
        allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, CAST(SUM(CASE WHEN list_dot_product(v, pv) > 0
                                           THEN (1::BIGINT << pid::INT) ELSE 0 END) AS BIGINT) AS bucket
              FROM allv, p GROUP BY vec_id),
        q AS (SELECT a.vec_id AS query_id, a.v AS qv, b.bucket FROM allv a JOIN b USING (vec_id)
              WHERE a.vec_id BETWEEN 4 AND 8),
        c AS (SELECT a.vec_id AS neighbor_id, a.v AS cv, b.bucket FROM allv a JOIN b USING (vec_id)
              WHERE a.vec_id >= 9),
        scored AS (SELECT query_id, neighbor_id,
                          list_dot_product(qv, cv) /
                          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
                   FROM q JOIN c USING (bucket))
        SELECT query_id, rank, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 3
    """,
    "ann_ivf": ORACLE_IVF,
    "ann_ivf_indexed": ORACLE_IVF,
    "text_quality": """
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
                       CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
                       COUNT(DISTINCT tok) AS n_distinct,
                       CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and','in','is','it')
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
                FROM tok GROUP BY doc_id)
        SELECT d.doc_id, a.n_tokens, length(d.text) AS n_chars_measured,
               CAST(a.sum_len AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS avg_token_len,
               CAST(a.n_stop AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS stopword_ratio,
               CAST(a.n_distinct AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS distinct_ratio
        FROM documents d JOIN agg a USING (doc_id)
    """,
    "text_langid": """
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
                       CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and','in','is','it')
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
                FROM tok GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) >= 0.03 AS is_en,
               CASE WHEN (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) >= 0.03
                    THEN 'en' ELSE 'und' END AS predicted_lang
        FROM agg
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fingerprint,
               ('0x' || substr(md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')), 1, 15))::BIGINT AS fingerprint_long
        FROM documents
    """,
    "text_winnow": """
        WITH g AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(length(text) - 7, 1)),
                       i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT
                   ) AS hashes
            FROM documents
        ),
        win AS (
            SELECT doc_id,
                   list_distinct(
                       list_transform(
                           generate_series(1, greatest(len(hashes) - 3, 1)),
                           j -> list_min(list_slice(hashes, j, j + 3))
                       )
                   ) AS fp
            FROM g
        )
        SELECT doc_id, len(fp) AS n_fingerprints,
               list_min(fp) AS min_fp, list_max(fp) AS max_fp
        FROM win
    """,
    "multimodal_binary_meta": """
        SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
        FROM documents
    """,
    "scan_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(CAST(l_extendedprice AS DECIMAL(12,4)) *
                    (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS net_price
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-01-01' AND l_discount > 0.05
    """,
    "agg_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                        (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "lookup_join_enrich": """
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "join_agg_revenue": """
        SELECT o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                        (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "semi_join": """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        GROUP BY c_mktsegment
    """,
    "anti_join": """
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
    """,
    "union_by_name": """
        WITH u AS (
            SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind, c_mktsegment AS segment FROM customer
            UNION ALL
            SELECT s_name, s_acctbal, 'supplier', NULL FROM supplier
        )
        SELECT kind, COUNT(*) AS n,
               CAST(SUM(CAST(acctbal AS DECIMAL(12,4))) AS DOUBLE) AS total_acctbal,
               COUNT(segment) AS n_with_segment
        FROM u GROUP BY kind
    """,
    "fanout_tokens": """
        SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct_tokens
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY source
    """,
    "json_extract": """
        SELECT event_type, COUNT(*) AS n,
               COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_distinct_k,
               MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "window_topk_per_group": """
        SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
            FROM orders) WHERE rank <= 3
    """,
    "sort_limit": """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
    """,
    "having": """
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total_spent
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
    "time_window_agg": """
        SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "cdc_lww_dedupe": """
        SELECT user_id, last_type, last_value, last_event_id FROM (
            SELECT user_id, event_type AS last_type, value AS last_value, event_id AS last_event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events) WHERE rn = 1
    """,
    "cdc_lww_salted": """
        SELECT user_id, event_type, value, event_id FROM (
            SELECT user_id, event_type, value, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events) WHERE rn = 1
    """,
    "cdc_apply_upsert": """
        SELECT user_id, last_type, last_value, last_event_id FROM (
            SELECT user_id, event_type AS last_type, value AS last_value, event_id AS last_event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events) WHERE rn = 1 AND last_type <> 'error'
    """,
    "asof_join": """
        WITH tl AS (
            SELECT user_id, event_id, ts AS t, NULL::BIGINT AS o_key, 1 AS is_event FROM events
            UNION ALL
            SELECT o_custkey, NULL::BIGINT, CAST(o_orderdate AS TIMESTAMP), o_orderkey, 0 FROM orders
        )
        SELECT user_id, event_id, last_order FROM (
            SELECT user_id, event_id, is_event,
                   last_value(o_key IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_event, o_key
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_order
            FROM tl) WHERE is_event = 1
    """,
    "range_join": """
        WITH bands(band_id, lo, hi, band) AS (
            VALUES (1, 0.0, 10.0, 'low'), (2, 10.0, 25.0, 'mid'), (3, 25.0, 100.0, 'high')
        )
        SELECT band, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS total_price
        FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        GROUP BY band
    """,
    "rollup_agg": """
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "intersect_nations": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    """,
    "except_nations": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
    """,
    "window_lag_gap": """
        SELECT user_id, COUNT(gap) AS n_gaps,
               CAST(SUM(gap) AS BIGINT) AS total_gap_sec, MAX(gap) AS max_gap_sec
        FROM (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY event_id) AS gap
            FROM events)
        GROUP BY user_id
    """,
    "sessionize": """
        WITH e AS (
            SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, ts FROM events
        ),
        flagged AS (
            SELECT user_id, ep, ts, event_id,
                   CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ep,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, MIN(ep) AS session_start, MAX(ep) AS session_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id
    """,
    "text_tokens_regex": """
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
               len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS n_distinct_tokens
        FROM documents
    """,
    "pg_array_parse": """
        SELECT doc_id, 2 AS n_elems, lang AS elem0,
               'doc ' || CAST(doc_id AS VARCHAR) AS elem1
        FROM documents
    """,
    "cdc_op_counts": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value,
               MIN(event_id) AS min_lsn, MAX(event_id) AS max_lsn
        FROM events GROUP BY event_type
    """,
    "cdc_change_feed": """
        WITH ev AS (
            SELECT user_id, event_id AS lsn,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   event_type, value
            FROM events
        ),
        w1 AS (SELECT user_id, MAX(lsn) AS m FROM ev WHERE lsn % 2 = 0 GROUP BY user_id),
        w2 AS (SELECT user_id, MAX(lsn) AS m FROM ev WHERE lsn % 2 = 1 GROUP BY user_id),
        changed AS (
            SELECT w2.user_id FROM w2 LEFT JOIN w1 ON w1.user_id = w2.user_id
            WHERE w1.user_id IS NULL OR w2.m > w1.m
        ),
        ranked AS (
            SELECT ev.*, row_number() OVER (PARTITION BY ev.user_id ORDER BY ev.lsn DESC) AS rn
            FROM ev JOIN changed ON ev.user_id = changed.user_id
            WHERE ev.lsn % 2 = 1
        )
        SELECT user_id, lsn AS last_lsn, event_type, value,
               CASE WHEN op = 'D' THEN 'delete' ELSE 'upsert' END AS _change_type,
               CAST(2 AS BIGINT) AS _commit_version
        FROM ranked WHERE rn = 1
    """,
}

QUERIES = {
    "scan_filter_project": q_scan_filter_project,
    "agg_pricing_summary": q_agg_pricing_summary,
    "lookup_join_enrich": q_lookup_join_enrich,
    "join_agg_revenue": q_join_agg_revenue,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "union_by_name": q_union_by_name,
    "fanout_tokens": q_fanout_tokens,
    "json_extract": q_json_extract,
    "window_topk_per_group": q_window_topk_per_group,
    "sort_limit": q_sort_limit,
    "having": q_having,
    "time_window_agg": q_time_window_agg,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "rollup_agg": q_rollup_agg,
    "intersect_nations": q_intersect_nations,
    "except_nations": q_except_nations,
    "window_lag_gap": q_window_lag_gap,
    "text_tokens_regex": q_text_tokens_regex,
    "pg_array_parse": q_pg_array_parse,
    "sessionize": q_sessionize,
    "cdc_lww_dedupe": q_cdc_lww_dedupe,
    "cdc_lww_salted": q_cdc_lww_salted,
    "cdc_apply_upsert": q_cdc_apply_upsert,
    "cdc_op_counts": q_cdc_op_counts,
    "cdc_change_feed": q_cdc_change_feed,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "ann_brute_force": q_ann_brute_force,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_indexed": q_ann_ivf_indexed,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_winnow": q_text_winnow,
    "multimodal_binary_meta": q_multimodal_binary_meta,
}
