"""Physical-plan audits: the plans we ship are the plans we designed for scale.

Each test pins the plan SHAPE of a catalogue query or engine operator — shuffle
budget, broadcast usage, pushdown, aggregation strategy — so a regression that
keeps results correct but wrecks the 100 TB story fails loudly here."""

import re

import pytest

from plans import assert_filters_pushed, assert_scan_pruned, plan_facts
from pocket_etl_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_scan_filter_project_pushdown_and_pruning(spark):
    f = plan_facts(QUERIES["scan_filter_project"](spark, SF))
    assert_filters_pushed(f)
    # projection reaches the scan: untouched wide columns never read
    assert_scan_pruned(f, {"l_comment", "l_shipinstruct", "l_shipmode"})
    # pure scan+filter+project: NO shuffle at all
    assert f.exchanges == 0, f.text


def test_lookup_join_broadcasts_dims(spark):
    f = plan_facts(QUERIES["lookup_join_enrich"](spark, SF))
    # both tiny dims broadcast; the fact side never shuffles for the join
    assert f.broadcast_joins == 2, f.text
    assert f.sortmerge_joins == 0, f.text
    # the only exchange is the final aggregation's
    assert f.exchanges <= 1, f.text


def test_agg_uses_partial_hash_aggregation(spark):
    f = plan_facts(QUERIES["agg_pricing_summary"](spark, SF))
    # partial + final hash aggregate around exactly one exchange
    assert f.hash_aggregates >= 2, f.text
    assert f.sort_aggregates == 0, f.text
    assert f.exchanges == 1, f.text


def test_semi_and_anti_join_shapes(spark):
    for name, kind in [("semi_join", "LeftSemi"), ("anti_join", "LeftAnti")]:
        f = plan_facts(QUERIES[name](spark, SF))
        assert kind in f.text, f.text


def test_range_join_is_broadcast_not_cartesian(spark):
    f = plan_facts(QUERIES["range_join"](spark, SF))
    assert f.broadcast_joins >= 1, f.text
    assert "CartesianProduct" not in f.text, f.text


def test_lww_dedupe_single_exchange(spark):
    """The CDC dedupe is ONE key shuffle with map-side partial aggregation —
    the skew-absorption property the whole merge design rests on."""
    from pocket_etl_spark.cdc.dedupe import lww_dedupe
    from pocket_etl_spark.datagen import gen_change_events

    ev = gen_change_events(spark, 1000, 50, seed=3)
    f = plan_facts(lww_dedupe(ev, ["repo", "path"]))
    assert f.exchanges == 1, f.text
    # partial_max_by before the exchange (any aggregate strategy), final after
    assert "partial_max_by" in f.text, f.text


def test_fanout_explode_no_shuffle(spark):
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    f = plan_facts(df)
    assert f.exchanges == 0, f.text


def test_sort_limit_is_top_k_not_global_sort(spark):
    f = plan_facts(QUERIES["sort_limit"](spark, SF))
    assert "TakeOrderedAndProject" in f.text, f.text


def test_ngram_jaccard_gated_plan_has_doc_freq_cap(spark):
    """The oracle-gated Jaccard config must carry the doc-frequency cap: a
    count-aggregate + <=128 filter gating the shingle self-join, so one hot
    shingle can never make the join quadratic at scale."""
    f = plan_facts(QUERIES["dedup_ngram_jaccard"](spark, SF))
    assert "_df" in f.text and "128" in f.text, f.text[:3000]
    assert "CartesianProduct" not in f.text, f.text[:2000]


def test_embedding_lsh_gated_plan_is_bucketed_not_all_pairs(spark):
    """The gated embedding near-dup uses hyperplane buckets: candidate join is
    an EQUI join on the bucket (hash/broadcast-hash), never the nested-loop
    all-pairs the unbucketed variant degrades to."""
    def equi_joins(f):
        return (
            f.text.count("BroadcastHashJoin")
            + f.text.count("SortMergeJoin")
            + f.text.count("ShuffledHashJoin")
        )

    f = plan_facts(QUERIES["dedup_embedding_lsh"](spark, SF))
    assert "CartesianProduct" not in f.text, f.text[:2000]
    # candidate pairing is an EQUI join on the bucket (the only acceptable
    # nested-loop is the tiny vectorxplanes broadcast inside bucketing)
    assert equi_joins(f) >= 1, f.text[:3000]
    # contrast: the unbucketed variant has NO equi join anywhere — it is the
    # documented all-pairs nested loop (test-scale only)
    f_all = plan_facts(QUERIES["dedup_embedding"](spark, SF))
    assert equi_joins(f_all) == 0, f_all.text[:3000]


def test_hot_bucket_merge_write_has_slice_repartition(spark, tmp_path, monkeypatch):
    """A merge whose batch touches one bucket must repartition the write on
    (bucket, slice) — the hot-bucket rewrite stays core-parallel. (A batch
    this small is written by one task; ``_TASK_ROWS`` = 1 sizes the wave by
    the cores, as a batch of a few hundred thousand events would.)"""
    from pocket_etl_spark import lake
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=1)
    ev = gen_change_events(spark, 500, 50, seed=3).drop("ts", "extras")
    res = table.merge(ev, batch_id=0)
    # physical evidence: >1 part file in the single touched bucket
    parts = table._manifest(res.version)["buckets"]["0"]
    assert len(parts) >= 2, parts


def test_merge_writes_in_one_core_sized_task_wave(spark, tmp_path, monkeypatch):
    """A merge touching every bucket of a 32-bucket table writes its snapshot
    in one task wave: the final (write) stage runs at most defaultParallelism
    tasks, not one task per bucket, and each touched bucket is still exactly
    one part file (a bucket hashes to one write task). ``_TASK_ROWS`` = 1
    puts this small batch in the core-sized regime."""
    import os

    from pocket_etl_spark import lake
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    sc = spark.sparkContext
    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=32)
    ev = gen_change_events(spark, 2000, 400, seed=3).drop("ts", "extras")
    group = f"write-wave-{tmp_path.name}"
    sc.setJobGroup(group, "merge write wave")
    try:
        res = table.merge(ev, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.touched_buckets == list(range(32))

    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    write_stage = tracker.getStageInfo(max(last_job.stageIds))
    assert write_stage.numTasks <= sc.defaultParallelism, write_stage

    man = table._manifest(res.version)
    for b in res.touched_buckets:
        parts = man["buckets"][str(b)]
        assert len(parts) == 1, (b, parts)
    snap = os.path.join(str(tmp_path / "t"), "data", f"v{res.version:012d}")
    files = [p for p in os.listdir(snap) if p.endswith(".parquet")]
    assert len(files) <= sc.defaultParallelism, files


def test_read_changes_pushes_version_filter(spark, tmp_path):
    """VERDICT r3 next-round #5: the change feed's `_version > since` predicate
    must reach the parquet scan (PushedFilters), so rowgroup min/max stats skip
    carried-forward cold rows — the 'feed never rescans cold data' claim."""
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    ev = gen_change_events(spark, 600, 40, seed=5).drop("ts", "extras")
    table.merge(ev.filter("lsn <= 300"), batch_id=0)
    table.merge(ev.filter("lsn > 300"), batch_id=1)

    f = plan_facts(table.read_changes(1))
    pushed = " ".join(f.pushed_filters)
    assert "_version" in pushed and "GreaterThan" in pushed, f.text[:2500]


def _plan_blocks(text):
    """Formatted-plan node id -> (name, detail lines) from its detail section."""
    return {
        m.group(1): (m.group(2), m.group(3))
        for m in re.finditer(
            r"^\((\d+)\) (\w+)[^\n]*\n(.*?)(?=^\(\d+\) |\Z)",
            text,
            flags=re.MULTILINE | re.DOTALL,
        )
    }


def _second_merge_plan(spark, tmp_path, monkeypatch, num_buckets, second, **gen):
    """Merge the events with ``lsn <= 1000`` into a new table, then the
    events matching ``second``, which must touch every bucket. Returns the
    second merge's write plan, whether Spark writes it or the driver
    collects it to write (a one-task write): its text, its node blocks
    (``_plan_blocks``) and the table's data dir."""
    import os

    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    plans = []
    parquet, to_arrow = DataFrameWriter.parquet, DataFrame.toArrow

    def spy(self, path, *args, **kwargs):
        plans.append(plan_facts(self._df).text)
        return parquet(self, path, *args, **kwargs)

    def arrow_spy(self):
        plans.append(plan_facts(self).text)
        return to_arrow(self)

    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=num_buckets)
    ev = gen_change_events(spark, 2000, 200, seed=3, **gen).drop("ts", "extras")
    table.merge(ev.filter("lsn <= 1000"), batch_id=0)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    monkeypatch.setattr(DataFrame, "toArrow", arrow_spy)
    res = table.merge(ev.filter(second), batch_id=1)
    assert res.touched_buckets == list(range(num_buckets))
    [text] = plans
    return text, _plan_blocks(text), os.path.join(table.path, "data")


@pytest.mark.parametrize(
    "num_buckets, write_cols",
    [(4, ["_bucket", "_slice"]), (16, ["_bucket"])],
    ids=["sliced", "unsliced"],
)
def test_merge_reads_no_stored_payload(spark, tmp_path, monkeypatch, num_buckets, write_cols):
    """A merge appends its batch's winners without reading the table's
    payload. The stored side is a narrow scan of the touched buckets (key
    columns, lsn and ``_deleted``), and at most two exchanges carry
    ``content``: the delta's write repartition (on ``_bucket``, plus
    ``_slice`` when the touched buckets are fewer than the cores), and the
    anti join's key exchange when the stored side is too large to broadcast.
    The write tasks pick each key's winner: the plan's one window runs over
    the write repartition's columns and the keys, with no partial top-1
    before an exchange. The second batch re-sends some events of the first,
    so its lsns reach below the first commit's lsn bound and the stored side
    is scanned."""
    text, blocks, data_dir = _second_merge_plan(
        spark, tmp_path, monkeypatch, num_buckets, "lsn > 1000 OR lsn % 10 = 0", hot_key_fraction=0.5
    )
    stored = [d for n, d in blocks.values() if n == "Scan" and data_dir in d]
    assert stored, text
    for detail in stored:
        schema = re.search(r"^ReadSchema: struct<(.*)>$", detail, flags=re.MULTILINE).group(1)
        assert {c.split(":")[0] for c in schema.split(",")} == {"repo", "path", "lsn", "_deleted"}, schema

    def hash_cols(detail):
        inner = detail.split("hashpartitioning(", 1)[1].split(")", 1)[0]
        return re.findall(r"(\w+)#\d+", inner)

    payload = {
        i: d for i, (n, d) in blocks.items()
        if n.endswith("Exchange") and re.search(r"^Input \[\d+\]: \[.*\bcontent#", d, flags=re.MULTILINE)
    }
    assert 1 <= len(payload) <= 2, text
    [write] = [i for i, d in payload.items() if "REPARTITION_BY_NUM" in d]
    assert hash_cols(payload[write]) == write_cols, payload[write]
    for join in payload.keys() - {write}:
        assert hash_cols(payload[join]) == ["repo", "path"], payload[join]
    [window] = [d for n, d in blocks.values() if n == "Window"]
    args = re.search(r"^Arguments: (.*)$", window, flags=re.MULTILINE).group(1)
    partition = re.findall(r"\[([^\[\]]*)\]", args)[-2]
    assert re.findall(r"(\w+)#\d+", partition) == write_cols + ["repo", "path"], window
    assert not [d for n, d in blocks.values() if n == "WindowGroupLimit" and "Partial" in d], text


def test_merge_above_every_bound_reads_no_stored_file(spark, tmp_path, monkeypatch):
    """A batch whose lowest lsn is above every stored file's lsn bound can
    lose to no stored row, so its merge plans no stored side at all: no scan
    under the table's ``data/`` dir and no join, only the batch's top-1 and
    the delta's write."""
    text, blocks, data_dir = _second_merge_plan(spark, tmp_path, monkeypatch, 4, "lsn > 1000")
    assert not [d for n, d in blocks.values() if n == "Scan" and data_dir in d], text
    assert not [n for n, _ in blocks.values() if "Join" in n], text


@pytest.mark.parametrize("task_rows", [None, 1], ids=["one-task", "core-wave"])
@pytest.mark.parametrize(
    "num_buckets, write_cols",
    [(4, ["_bucket", "_slice"]), (16, ["_bucket"])],
    ids=["sliced", "unsliced"],
)
def test_merge_write_wave_is_sized_by_its_rows(
    spark, tmp_path, monkeypatch, num_buckets, write_cols, task_rows
):
    """A merge writes its ~1k-row delta, below ``_TASK_ROWS``, in one task:
    the frame is coalesced to one partition, which already satisfies the
    pick's distribution, so the write plan has no exchange at all and the
    commit writes one part file holding every bucket. Above ``_TASK_ROWS``
    (monkeypatched to 1 here) the write keeps its repartition on ``_bucket``
    (plus ``_slice`` when the buckets are fewer than the cores) and writes
    more than one part file, at most one per core."""
    from pocket_etl_spark import lake

    if task_rows is not None:
        monkeypatch.setattr(lake, "_TASK_ROWS", task_rows)
    text, blocks, _ = _second_merge_plan(spark, tmp_path, monkeypatch, num_buckets, "lsn > 1000")
    files = lake.ParquetLakeTable(spark, str(tmp_path / "t"))._manifest(2)["files"]
    written = [f for f in files if lake._commit_of(f) == 2]
    exchanges = [d for n, d in blocks.values() if n.endswith("Exchange")]
    if task_rows is None:
        assert exchanges == [], text
        assert len(written) == 1, files
        assert sorted(files[written[0]]) == list(range(num_buckets)), files
    else:
        [write] = exchanges
        assert "REPARTITION_BY_NUM" in write, text
        inner = write.split("hashpartitioning(", 1)[1].split(")", 1)[0]
        assert re.findall(r"(\w+)#\d+", inner) == write_cols, write
        assert 1 < len(written) <= spark.sparkContext.defaultParallelism, files


def test_read_of_many_files_lists_them_on_the_driver(spark, tmp_path, monkeypatch):
    """A lake read hands Spark its explicit file list. Above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32 by
    default) Spark lists them in a Spark job of one task per file; the
    session's threshold keeps a read of a few dozen files, like a fold's,
    listing on the driver: planning the read runs no Spark job.
    (``_TASK_ROWS`` = 1 makes each small merge write a file per core.)"""
    from pocket_etl_spark import lake
    from pocket_etl_spark.datagen import gen_change_events

    monkeypatch.setattr(lake, "_FOLD_AT", 100)
    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    table = lake.ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=16)
    ev = gen_change_events(spark, 1000, 400, seed=5).drop("ts", "extras")
    for i in range(5):
        table.merge(ev.filter(f"lsn > {200 * i} AND lsn <= {200 * (i + 1)}"), batch_id=i)
    assert len(table._manifest(table.current_version())["files"]) > 32

    sc = spark.sparkContext
    group = f"listing-{tmp_path.name}"
    sc.setJobGroup(group, "lake read plan")
    try:
        table.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("via", ["apply_batch", "merge"])
def test_large_batch_collapses_a_hot_key_before_the_write_exchange(spark, tmp_path, monkeypatch, via):
    """The merge's write tasks pick each key's winner, so all of a hot key's
    rows reach one write task. The merge collapses a batch of more than
    ``_COLLAPSE_AT`` valid events first, whether ``apply_batch`` hands in
    its facts or a direct merge probes them: its key exchange is fed by a
    map-side partial top-1, so a hot key ships one row per partition. A
    batch at the threshold is exchanged once, by the write.
    (``_COLLAPSE_AT`` is far above ``_TASK_ROWS``; with both lowered, the
    2,000-event batches are written by a core-sized wave.)"""
    from pyspark.sql import DataFrameWriter

    from pocket_etl_spark import lake
    from pocket_etl_spark.cdc.apply import apply_batch
    from pocket_etl_spark.datagen import gen_change_events
    from pocket_etl_spark.lake import ParquetLakeTable

    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(plan_facts(self._df).text)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    ev = gen_change_events(spark, 2000, 200, seed=3, hot_key_fraction=0.5)
    for i, at in enumerate([2000, 1999]):
        monkeypatch.setattr(lake, "_COLLAPSE_AT", at)
        table = ParquetLakeTable(spark, str(tmp_path / f"t{i}"), num_buckets=16)
        if via == "merge":
            table.merge(ev.drop("ts", "extras"), batch_id=0)
        else:
            apply_batch(ev, table, batch_id=0)
    small, large = plans

    def payload_exchanges(text):
        return {
            i: d for i, (n, d) in _plan_blocks(text).items()
            if n.endswith("Exchange")
            and re.search(r"^Input \[\d+\]: \[.*\bcontent#", d, flags=re.MULTILINE)
        }

    [write] = payload_exchanges(small).values()
    assert "REPARTITION_BY_NUM" in write, small
    exchanges = payload_exchanges(large)
    [batch] = [i for i, d in exchanges.items() if "REPARTITION_BY_NUM" not in d]
    inner = exchanges[batch].split("hashpartitioning(", 1)[1].split(")", 1)[0]
    assert re.findall(r"(\w+)#\d+", inner) == ["repo", "path"], exchanges[batch]
    child = re.search(rf"Exchange \({batch}\)\n[ :|+-]*(\w+) \((\d+)\)", large)
    assert child and child.group(1) == "WindowGroupLimit", large
    assert "Partial" in _plan_blocks(large)[child.group(2)][1], large


@pytest.mark.parametrize("fold", [False, True], ids=["delta", "fold"])
def test_collapsed_merge_writes_without_a_pick(spark, tmp_path, monkeypatch, fold):
    """A batch of more than ``_COLLAPSE_AT`` rows holds one row per key once
    collapsed, and the anti join only removes rows, so a merge that folds no
    bucket writes it with no pick: its plan's one window is the collapse
    over the keys, and none runs above the ``REPARTITION_BY_NUM`` write
    exchange. A folding merge's write also holds the buckets' stored rows
    and keeps the pick over ``_bucket`` and the keys."""
    from pocket_etl_spark import lake

    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    monkeypatch.setattr(lake, "_COLLAPSE_AT", 1)
    monkeypatch.setattr(lake, "_FOLD_AT", 1 if fold else 100)
    text, blocks, _ = _second_merge_plan(spark, tmp_path, monkeypatch, 16, "lsn > 1000")
    assert [d for n, d in blocks.values() if n.endswith("Exchange") and "REPARTITION_BY_NUM" in d], text
    windows = []
    for n, d in blocks.values():
        if n == "Window":
            args = re.search(r"^Arguments: (.*)$", d, flags=re.MULTILINE).group(1)
            windows.append(re.findall(r"(\w+)#\d+", re.findall(r"\[([^\[\]]*)\]", args)[-2]))
    pick = [["_bucket", "repo", "path"]] if fold else []
    assert sorted(windows) == sorted([["repo", "path"]] + pick), text
