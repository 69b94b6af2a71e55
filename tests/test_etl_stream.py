"""Functional tests for the EtlStream fluent façade — a port of the reference's
functional-test matrix (SURVEY.md §5; src/test/java/functionalTests/*)."""

import os

import pytest
from pyspark.sql import functions as F

from pocket_etl_spark.etl import (
    BufferLoader,
    ContainsFilter,
    CsvLoader,
    EtlStream,
    MetricsLoader,
    ParquetLoader,
    RowSinkLoader,
    UnrecoverableStreamFailure,
)
from pocket_etl_spark.sources import (
    CsvExtractor,
    FileQueueExtractor,
    IterableExtractor,
    JsonExtractor,
    json_column,
)

NAMES = [{"name": f"p{i}", "score": i} for i in range(10)]


def _src(spark, rows=None):
    return spark.createDataFrame(rows or NAMES)


# --- SimpleEtlFunctionalTest.java:41-61: multi-extractor fan-in, set equality ---


def test_multi_extract_union_to_buffer(spark):
    buf = BufferLoader()
    a = _src(spark, NAMES[:5])
    b = _src(spark, NAMES[5:])
    EtlStream.extract(a, b).load(buf).run(spark)
    assert sorted(r["name"] for r in buf.rows) == sorted(r["name"] for r in NAMES)


# --- README.md:81-99: heterogeneous-schema combine (union by name) ---


def test_combine_heterogeneous_schemas(spark):
    buf = BufferLoader()
    a = EtlStream.extract(spark.createDataFrame([{"name": "x", "email": "x@e"}]))
    b = EtlStream.extract(spark.createDataFrame([{"name": "y", "phone": "123"}]))
    EtlStream.combine(a, b).load(buf).run(spark)
    by_name = {r["name"]: r for r in buf.rows}
    assert by_name["x"]["email"] == "x@e" and by_name["x"]["phone"] is None
    assert by_name["y"]["phone"] == "123" and by_name["y"]["email"] is None


def test_combine_failing_component_reaches_combined_dlq(spark):
    """A record a component fails lands in the combined run's DLQ, with the
    payload it had at its failing stage, and is never loaded."""
    buf = BufferLoader()
    failing = EtlStream.extract(_six_rows(spark)).map_rows(_fail_on_3())
    other = EtlStream.extract(spark.createDataFrame([{"name": "y"}]))
    res = (
        EtlStream.combine(failing, other)
        .with_object_logger("full")
        .with_name("combined")
        .load(buf)
        .run(spark)
    )
    assert res.dlq_count == 1
    [rec] = res.dlq.collect()
    assert rec["payload"] == '{"id":3,"v":30}' and rec["stage"] == "combined"
    assert sorted(r["id"] for r in buf.rows if r["id"] is not None) == [0, 1, 2, 4, 5]
    assert [r["name"] for r in buf.rows if r["name"] is not None] == ["y"]


# --- StreamFailureTest.java:50-190: a failed record leaves at its stage ---


def _six_rows(spark):
    return spark.createDataFrame([(i, 10 * i) for i in range(6)], "id long, v long").repartition(1)


def _fail_on_3():
    # built per test: executors cannot import this module, so the fn must be
    # pickled by value
    def fn(pdf):
        if (pdf["id"] == 3).any():
            raise ValueError("boom on 3")
        pdf["v"] = pdf["v"] + 1
        return pdf

    return fn


@pytest.mark.parametrize(
    "later",
    [
        lambda s: s.map_rows(lambda pdf: pdf),
        lambda s: s.filter("v % 2 = 1"),
        lambda s: s.transform(lambda df: df.withColumn("v", F.col("v") * 2)),
    ],
    ids=["map_rows", "filter", "transform"],
)
def test_failed_record_leaves_at_its_stage(spark, later):
    """Later stages never see a failed record: a second map_rows does not
    collide with the first's error channel, a filter cannot drop the record
    before the DLQ, and a transform cannot rewrite its payload."""
    buf = BufferLoader()
    stream = later(EtlStream.extract(_six_rows(spark)).map_rows(_fail_on_3()))
    res = stream.with_object_logger("full").load(buf).run(spark)
    assert res.dlq_count == 1
    [rec] = res.dlq.collect()
    assert rec["payload"] == '{"id":3,"v":30}'
    assert "boom on 3" in rec["error"]
    assert sorted(r["id"] for r in buf.rows) == [0, 1, 2, 4, 5]


# --- SimpleFluentFunctionalTest: long form, with_threads / with_name ---


def test_fluent_long_form_threads(spark):
    buf = BufferLoader()
    (
        EtlStream.extract(_src(spark))
        .transform(lambda df: df.withColumn("score", F.col("score") * 2), name="double")
        .with_threads(4)
        .with_name("fluent")
        .load(buf)
        .run(spark)
    )
    assert sorted(r["score"] for r in buf.rows) == [i * 2 for i in range(10)]


# --- TransformerFanoutTest.java:47-70: 1→N fan-out through Arrow map_rows ---


def test_map_rows_fanout(spark):
    import pandas as pd

    buf = BufferLoader()

    def split_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf.assign(side="L")
        b = pdf.assign(side="R")
        return pd.concat([a, b])

    (
        EtlStream.extract(_src(spark))
        .map_rows(split_rows, adds={"side": "string"})
        .with_threads(5)
        .load(buf)
        .run(spark)
    )
    assert len(buf.rows) == 20
    assert {r["side"] for r in buf.rows} == {"L", "R"}


def test_map_rows_adds_accepts_ddl_shorthand(spark):
    """`adds` is documented as Spark DDL — shorthand ("int") and nested
    ("array<float>") types must parse, not just JSON-datatype names
    (regression: README quick-start used adds={"flag": "int"})."""
    import pandas as pd

    buf = BufferLoader()
    (
        EtlStream.extract(_src(spark))
        .map_rows(
            lambda pdf: pdf.assign(flag=1, emb=[[1.0, 2.0]] * len(pdf)),
            adds={"flag": "int", "emb": "array<float>"},
        )
        .load(buf)
        .run(spark)
    )
    assert len(buf.rows) == 10
    assert all(r["flag"] == 1 and list(r["emb"]) == [1.0, 2.0] for r in buf.rows)


def test_map_rows_tunnelling(spark):
    """Columns the transform doesn't touch tunnel through untouched
    (EtlStreamObject.java:98-134)."""
    buf = BufferLoader()

    def bump(pdf):
        pdf["score"] = pdf["score"] + 100
        return pdf

    EtlStream.extract(_src(spark)).map_rows(bump).load(buf).run(spark)
    for r in buf.rows:
        assert r["score"] == int(r["name"][1:]) + 100  # transformed
        assert r["name"].startswith("p")  # tunnelled


# --- FilterFunctionalTest.java:52-88: lookup filter, positive and negated ---


def test_contains_filter_and_negate(spark):
    keep = spark.createDataFrame([{"name": "p1"}, {"name": "p3"}])
    buf_pos, buf_neg = BufferLoader(), BufferLoader()
    base = EtlStream.extract(_src(spark))
    base.filter(ContainsFilter(keep, on="name")).load(buf_pos).run(spark)
    base.filter(ContainsFilter(keep, on="name").negate()).load(buf_neg).run(spark)
    assert sorted(r["name"] for r in buf_pos.rows) == ["p1", "p3"]
    assert len(buf_neg.rows) == 8 and "p1" not in {r["name"] for r in buf_neg.rows}


# --- ImmutabilityTest.java:31-80: streams are immutable, reusable components ---


def test_stream_immutability_and_reuse(spark):
    base = EtlStream.extract(_src(spark)).filter("score >= 5")
    b1, b2 = BufferLoader(), BufferLoader()
    base.transform(lambda df: df.withColumn("score", F.col("score") + 1)).load(b1).run(spark)
    base.load(b2).run(spark)  # base unaffected by the first continuation
    assert sorted(r["score"] for r in b1.rows) == [6, 7, 8, 9, 10]
    assert sorted(r["score"] for r in b2.rows) == [5, 6, 7, 8, 9]


def test_no_stage_after_loader(spark):
    s = EtlStream.extract(_src(spark)).load(BufferLoader())
    with pytest.raises(ValueError):
        s.filter("score > 1")


# --- StreamFailureTest.java:50-190: recoverable → DLQ + continue; unrecoverable → abort ---


def test_recoverable_errors_route_to_dlq(spark, tmp_path):
    buf = BufferLoader()

    def maybe_fail(pdf):
        if (pdf["score"] == 3).any():
            raise ValueError("boom on 3")
        return pdf

    res = (
        EtlStream.extract(_src(spark).repartition(1))
        .map_rows(maybe_fail)
        .load(buf)
        .run(spark, dlq_path=str(tmp_path / "dlq"))
    )
    # exactly the poisoned record diverted; the other 9 loaded
    assert res.dlq_count == 1
    assert len(buf.rows) == 9
    assert {r["score"] for r in buf.rows} == set(range(10)) - {3}
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert "boom on 3" in dlq.collect()[0]["error"]


def test_run_executes_pipeline_exactly_once(spark, tmp_path):
    """A clean run with a map_rows stage must execute the pipeline ONCE — the
    DLQ split is persisted, so the DLQ leg and sink read one materialization
    (the old path re-ran the upstream 2-3x per run)."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(pdf):
        acc.add(len(pdf))
        return pdf

    buf = BufferLoader()
    res = (
        EtlStream.extract(_src(spark))
        .map_rows(count_rows)
        .load(buf)
        .run(spark, dlq_path=str(tmp_path / "dlq"))
    )
    assert len(buf.rows) == 10 and res.dlq_count == 0
    assert acc.value == 10  # every row transformed exactly once


def test_dlq_count_is_per_run_not_cumulative(spark, tmp_path):
    """RunResult.dlq_count reports THIS run's failures, not the accumulated
    DLQ directory shared across runs."""

    def maybe_fail(pdf):
        if (pdf["score"] == 3).any():
            raise ValueError("boom on 3")
        return pdf

    dlq = str(tmp_path / "dlq")
    for _ in range(2):
        res = (
            EtlStream.extract(_src(spark).repartition(1))
            .map_rows(maybe_fail)
            .load(BufferLoader())
            .run(spark, dlq_path=dlq)
        )
        assert res.dlq_count == 1
    assert spark.read.parquet(dlq).count() == 2  # directory accumulates


def test_unrecoverable_aborts_stream(spark):
    def abort(pdf):
        raise UnrecoverableStreamFailure("fatal")

    s = EtlStream.extract(_src(spark)).map_rows(abort).load(BufferLoader())
    with pytest.raises(Exception):
        s.run(spark)


# --- LoggingStrategyFunctionalTest: custom object logger formats DLQ payloads ---


def test_custom_object_logger(spark):
    def fail_all(pdf):
        raise ValueError("nope")

    res = (
        EtlStream.extract(_src(spark, NAMES[:2]))
        .map_rows(fail_all)
        .with_object_logger(lambda rec: f"REDACTED:{rec['name']}")
        .load(BufferLoader())
        .run(spark)
    )
    assert res.dlq_count == 2
    payloads = {r["payload"] for r in res.dlq.collect()}
    assert payloads == {"REDACTED:p0", "REDACTED:p1"}


# --- MetricsEmissionEtlConsumer.java:44-61: per-stage recordsProcessed ---


def test_stage_metrics(spark):
    res = (
        EtlStream.extract(_src(spark))
        .filter("score >= 5", name="keep_high")
        .with_stage_metrics()
        .load(BufferLoader())
        .run(spark)
    )
    assert res.metrics["extract"]["recordsProcessed"] == 10
    assert res.metrics["keep_high"]["recordsProcessed"] == 5


# --- explode fan-out (declarative path) ---


def test_explode_to_rows(spark):
    buf = BufferLoader()
    df = spark.createDataFrame([{"k": "a", "vals": [1, 2, 3]}])
    EtlStream.extract(df).explode_to_rows("vals", "v").load(buf).run(spark)
    assert sorted(r["v"] for r in buf.rows) == [1, 2, 3]


# --- Sources ---


def test_csv_extractor_roundtrip(spark, tmp_path):
    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write("name|score\nx|1\ny|2\n")
    buf = BufferLoader()
    src = CsvExtractor(p, schema="name string, score int", sep="|", header=True)
    EtlStream.extract(src).load(buf).run(spark)
    assert sorted((r["name"], r["score"]) for r in buf.rows) == [("x", 1), ("y", 2)]


def test_json_extractor_and_json_column(spark, tmp_path):
    p = str(tmp_path / "in.json")
    with open(p, "w") as f:
        f.write('{"name": "x", "payload": "{\\"k\\": 7}"}\n')
    df = JsonExtractor(p, schema="name string, payload string").to_df(spark)
    out = json_column(df, "payload", "k int").select("name", "parsed.k").collect()
    assert out[0]["k"] == 7


def test_file_queue_extractor_semantics(spark, tmp_path):
    qdir = str(tmp_path / "q")
    os.makedirs(qdir)
    # 3 messages, one delivered twice (duplicate delivery)
    for fname, body in [
        ("m1.json", '{"id": 1}'),
        ("m2.json", '{"id": 2}'),
        ("m2_dup.json", '{"id": 2}'),
        ("m3.json", '{"id": 3}'),
    ]:
        with open(os.path.join(qdir, fname), "w") as f:
            f.write(body + "\n")
    src = FileQueueExtractor(qdir, schema="id int", batch_size_limit=3)
    df = src.to_df(spark)
    # batch cap claimed 3 files; the duplicate delivery collapsed
    assert sorted(r["id"] for r in df.collect()) == [1, 2]
    # messages deleted only on commit (delete-on-close)
    assert len(os.listdir(qdir)) == 4
    assert src.commit() == 3
    assert sorted(os.listdir(qdir)) == ["m3.json"]


# --- Loaders ---


def test_parquet_loader_parts_and_close_callback(spark, tmp_path):
    out = str(tmp_path / "parts")
    flags = []
    (
        EtlStream.extract(_src(spark))
        .load(ParquetLoader(out, max_records_per_file=3, on_close=flags.append))
        .run(spark)
    )
    assert flags == [True]  # ParallelLoader.withOnCloseCallback analogue fired
    back = spark.read.parquet(out)
    assert back.count() == 10
    # part-size cap respected (S3FastLoader 128MiB buffer analogue)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) >= 4


def test_csv_loader_exact_serialization_contract(spark, tmp_path):
    """Exact-byte contract (CsvStringSerializer withoutQuoteChar + header row,
    MockedS3FunctionalTest.java:48-58): quote-free pipe-separated lines, header
    first, empty string stays empty (never '\"\"')."""
    out = str(tmp_path / "csv")
    df = spark.createDataFrame(
        [("x,with,commas", 1, ""), ("y", 2, "note")],
        "name string, score int, memo string",
    ).coalesce(1)
    EtlStream.extract(df).load(CsvLoader(out, sep="|", header=True)).run(spark)
    [part] = [f for f in os.listdir(out) if f.startswith("part-")]
    text = open(os.path.join(out, part)).read()
    assert text == "name|score|memo\nx,with,commas|1|\ny|2|note\n"


def test_row_sink_loader_routes_record_failures_to_dlq(spark, tmp_path):
    """DynamoDbLoader parity (loader/DynamoDbLoader.java:45-137): a failed
    per-record put logs-and-continues — the sink write never aborts the batch,
    the failed record lands in the sink DLQ, every other record is written."""
    outdir = str(tmp_path / "items")
    os.makedirs(outdir)
    dlq = str(tmp_path / "sink_dlq")

    def put_item(rec):
        if rec["score"] == 4:
            raise ValueError("conditional check failed on 4")
        with open(os.path.join(outdir, f"{rec['name']}.item"), "w") as f:
            f.write(str(rec["score"]))

    res = (
        EtlStream.extract(_src(spark))
        .load(RowSinkLoader(put_item, dlq_path=dlq))
        .run(spark)
    )
    assert res.sink_result == {"records_written": 9, "records_failed": 1}
    assert len(os.listdir(outdir)) == 9 and "p4.item" not in os.listdir(outdir)
    dlq_rows = spark.read.parquet(dlq).collect()
    assert len(dlq_rows) == 1
    assert "conditional check failed" in dlq_rows[0]["error"]
    # the sink DLQ follows the SAME PII policy as the stream DLQ: redacted by
    # default — schema only, never field values (CLAUDE.md invariant)
    assert '"record_schema":' in dlq_rows[0]["payload"]
    assert "p4" not in dlq_rows[0]["payload"]


def test_row_sink_loader_dlq_full_payload_opt_in(spark, tmp_path):
    """with_object_logger('full') opts the SINK DLQ into whole-record payloads
    too (required for redrive), matching EtlStream.run's policy."""
    dlq = str(tmp_path / "sink_dlq_full")

    def put_item(rec):
        if rec["score"] == 4:
            raise ValueError("conditional check failed on 4")

    (
        EtlStream.extract(_src(spark))
        .with_object_logger("full")
        .load(RowSinkLoader(put_item, dlq_path=dlq))
        .run(spark)
    )
    dlq_rows = spark.read.parquet(dlq).collect()
    assert len(dlq_rows) == 1
    assert '"name":"p4"' in dlq_rows[0]["payload"]


def test_row_sink_loader_rejects_unknown_dlq_keys_before_writing(spark, tmp_path):
    """An unknown with_dlq_keys column fails the run before write_fn runs on
    any record — never after the sink's side effects, where the failed
    records would reach neither the DLQ nor the result."""
    outdir = str(tmp_path / "items")
    os.makedirs(outdir)

    def put_item(rec):
        if rec["score"] == 4:
            raise ValueError("conditional check failed on 4")
        with open(os.path.join(outdir, f"{rec['name']}.item"), "w") as f:
            f.write(str(rec["score"]))

    s = (
        EtlStream.extract(_src(spark))
        .with_dlq_keys("nope")
        .load(RowSinkLoader(put_item, dlq_path=str(tmp_path / "sink_dlq")))
    )
    with pytest.raises(ValueError, match=r"unknown DLQ key columns \['nope'\]"):
        s.run(spark)
    assert os.listdir(outdir) == []


def test_row_sink_loader_unrecoverable_aborts(spark, tmp_path):
    def fatal(rec):
        raise UnrecoverableStreamFailure("sink down")

    s = EtlStream.extract(_src(spark)).load(RowSinkLoader(fatal))
    with pytest.raises(Exception):
        s.run(spark)


def test_metrics_loader_counters(spark):
    res = EtlStream.extract(_src(spark)).load(MetricsLoader()).run(spark)
    assert res.sink_result["recordsProcessed"] == 10
    assert res.sink_result["score"] == sum(range(10))


def test_dlq_default_payload_redacts_values(spark, tmp_path):
    """VERDICT r2 #5 (reference parity: DefaultLoggingStrategy.java:27-36
    logs class name only): the DEFAULT DLQ payload carries schema + opted-in
    key columns, never other field values; 'full' is explicit opt-in."""
    import json

    from pocket_etl_spark.sources import IterableExtractor

    rows = [{"user_id": i, "ssn": f"secret-{i}", "v": i} for i in range(4)]

    def boom(pdf):
        raise ValueError("poison")

    base = (
        EtlStream.extract(IterableExtractor(rows, "user_id long, ssn string, v long"))
        .map_rows(boom)
    )

    # default: redacted — schema + keys only
    res = base.with_dlq_keys("user_id").load(BufferLoader()).run(
        spark, dlq_path=str(tmp_path / "dlq_safe")
    )
    assert res.dlq_count == 4
    for r in res.dlq.collect():
        p = json.loads(r["payload"])
        assert set(p) == {"record_schema", "keys"}
        assert set(p["keys"]) == {"user_id"}
        assert "secret" not in r["payload"]
    # no keys opted in: schema only
    res2 = base.load(BufferLoader()).run(spark)
    assert all(
        set(json.loads(r["payload"])) == {"record_schema"} for r in res2.dlq.collect()
    )
    # full payload is opt-in
    res3 = base.with_object_logger("full").load(BufferLoader()).run(spark)
    assert all("secret-" in r["payload"] for r in res3.dlq.collect())
    # unknown key column is an error, not silent redaction
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown DLQ key columns"):
        base.with_dlq_keys("nope").load(BufferLoader()).run(spark)


def test_with_object_logger_rejects_unknown_string_mode(spark):
    """ADVICE r3: an unknown string mode fails at construction with a clear
    error, not at executor runtime inside the DLQ UDF."""
    import pytest as _pytest

    from pocket_etl_spark.sources import IterableExtractor

    s = EtlStream.extract(IterableExtractor([{"a": 1}], "a long"))
    with _pytest.raises(ValueError, match="unknown DLQ payload mode"):
        s.with_object_logger("json")
    # the two valid forms still construct
    s.with_object_logger("full")
    s.with_object_logger(lambda d: str(d))


# --- One error channel: the fluent surfaces route failures through apply_batch's pair ---


def _jobs_of(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_clean_run_runs_two_jobs_and_writes_no_dlq_file(spark, tmp_path):
    """A clean one-stage map_rows run: one action fills the stage cache and
    counts (zero) failed records, the sink's write reads the cache, and no
    DLQ file is left behind."""
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    stream = EtlStream.extract(_src(spark)).map_rows(lambda pdf: pdf).load(ParquetLoader(out))
    res, jobs = _jobs_of(spark, f"clean-{tmp_path.name}", lambda: stream.run(spark, dlq_path=dlq))
    assert jobs <= 2, jobs
    assert res.dlq_count == 0 and res.dlq.count() == 0
    assert not os.path.exists(dlq) or os.listdir(dlq) == []
    assert spark.read.parquet(out).count() == 10


def test_one_bad_row_costs_logarithmic_fn_calls(spark):
    """A failing Arrow batch is split in halves until the bad row stands
    alone: one bad row in a 10,000-row batch costs at most 2·⌈log₂ b⌉+1 = 29
    calls, not one per row, and the output is the row-by-row one."""
    calls = spark.sparkContext.accumulator(0)

    def fn(pdf):
        calls.add(1)
        if (pdf["id"] == 4321).any():
            raise ValueError("bad 4321")
        pdf["v"] = pdf["id"] * 2
        return pdf

    res = (
        EtlStream.extract(spark.range(10_000).coalesce(1))
        .map_rows(fn, adds={"v": "bigint"})
        .load(MetricsLoader(("id", "v")))
        .run(spark)
    )
    assert calls.value <= 29, calls.value
    assert res.dlq_count == 1 and "bad 4321" in res.dlq.first()["error"]
    assert res.sink_result == {
        "recordsProcessed": 9_999,
        "id": sum(range(10_000)) - 4321,
        "v": 2 * (sum(range(10_000)) - 4321),
    }


def test_row_sink_loader_runs_one_job(spark, tmp_path):
    """A RowSinkLoader run whose failures fit the driver bound is one Spark
    job: write_fn runs, the counts are observed and the failed record comes
    to the driver in the same action."""
    dlq = str(tmp_path / "sink_dlq")

    def put_item(rec):
        if rec["score"] == 4:
            raise ValueError("conditional check failed on 4")

    stream = EtlStream.extract(_src(spark)).load(RowSinkLoader(put_item, dlq_path=dlq))
    res, jobs = _jobs_of(spark, f"sink-{tmp_path.name}", lambda: stream.run(spark))
    assert jobs == 1, jobs
    assert res.sink_result == {"records_written": 9, "records_failed": 1}
    [rec] = spark.read.parquet(dlq).collect()
    assert "conditional check failed on 4" in rec["error"]


def test_reading_run_dlq_runs_no_stage_again(spark):
    """RunResult.dlq is a frame over the records the run collected: reading
    it calls no stage function again, so it cannot disagree with the run."""
    rows = spark.sparkContext.accumulator(0)

    def fn(pdf):
        rows.add(len(pdf))
        if (pdf["id"] == 3).any():
            raise ValueError("boom on 3")
        return pdf

    res = EtlStream.extract(_six_rows(spark)).map_rows(fn).load(BufferLoader()).run(spark)
    seen = rows.value
    [rec] = res.dlq.collect()
    assert res.dlq_count == res.dlq.count() == 1 and "boom on 3" in rec["error"]
    assert rows.value == seen


def test_dlq_past_the_driver_bound_is_written_by_spark_from_the_caches(
    spark, tmp_path, monkeypatch
):
    """With the driver bound lowered to one record, both fluent surfaces have
    Spark write their DLQ from the stage cache: each failed record lands once,
    the counts match the files, and the stage fn / write_fn ran once per
    record."""
    import json

    from pocket_etl_spark import etl
    from pocket_etl_spark.cdc import apply

    monkeypatch.setattr(apply, "DLQ_DRIVER_ROWS", 1)
    kinds = []
    write_dlq = etl.write_dlq

    def spy(records, *args):
        kinds.append(type(records).__name__)
        return write_dlq(records, *args)

    monkeypatch.setattr(etl, "write_dlq", spy)
    bad = {1, 4, 6, 9}
    seen = spark.sparkContext.accumulator(0)

    def fn(pdf):
        if pdf["score"].isin(bad).any():
            if len(pdf) == 1:
                seen.add(1)  # a record that fails alone
            raise ValueError("bad score")
        seen.add(len(pdf))
        return pdf

    stream_dlq = str(tmp_path / "stream_dlq")
    res = (
        EtlStream.extract(_src(spark).repartition(1))
        .map_rows(fn)
        .with_object_logger("full")
        .load(BufferLoader())
        .run(spark, dlq_path=stream_dlq)
    )
    assert seen.value == 10
    stored = [json.loads(r["payload"])["score"] for r in spark.read.parquet(stream_dlq).collect()]
    assert sorted(stored) == sorted(bad) and res.dlq_count == len(stored)
    assert res.dlq.count() == 1  # the driver took the bound's one record

    puts = spark.sparkContext.accumulator(0)

    def put_item(rec):
        puts.add(1)
        if rec["score"] in bad:
            raise ValueError("conditional check failed")

    sink_dlq = str(tmp_path / "sink_dlq")
    out = (
        EtlStream.extract(_src(spark).repartition(1))
        .with_object_logger("full")
        .load(RowSinkLoader(put_item, dlq_path=sink_dlq))
        .run(spark)
    )
    assert puts.value == 10
    stored = [json.loads(r["payload"])["score"] for r in spark.read.parquet(sink_dlq).collect()]
    assert sorted(stored) == sorted(bad)
    assert out.sink_result == {"records_written": 6, "records_failed": len(stored)}
    assert kinds == ["DataFrame", "DataFrame"]


@pytest.mark.parametrize("bound", [None, 1], ids=["driver", "spark"])
def test_fluent_dlq_records_have_a_null_batch_id_and_their_write_time(
    spark, tmp_path, monkeypatch, bound
):
    """A fluent run's DLQ records, in ``RunResult.dlq`` and in its files,
    keep a NULL batch id (no replay cursor) and get a ``ts`` inside the
    run's wall-clock window, whether the driver writes them or Spark does
    past ``DLQ_DRIVER_ROWS`` (lowered to 1 here)."""
    import time

    from pocket_etl_spark.cdc import apply

    if bound is not None:
        monkeypatch.setattr(apply, "DLQ_DRIVER_ROWS", bound)

    def fn(pdf):
        if pdf["score"].isin([2, 5]).any():
            raise ValueError("bad score")
        return pdf

    dlq = str(tmp_path / "dlq")
    start = time.time()
    res = (
        EtlStream.extract(_src(spark).repartition(1))
        .map_rows(fn)
        .load(BufferLoader())
        .run(spark, dlq_path=dlq)
    )
    lo, hi = int(start * 1000) * 1000, int(time.time() * 1e6) + 1
    assert res.dlq_count == 2
    for frame, n in [(res.dlq, 2 if bound is None else 1), (spark.read.parquet(dlq), 2)]:
        rows = frame.select("batch_id", F.unix_micros("ts").alias("us")).collect()
        assert len(rows) == n and all(r["batch_id"] is None for r in rows), rows
        assert all(lo <= r["us"] <= hi for r in rows), (rows, lo, hi)
