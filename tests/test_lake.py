"""Lake-table semantics: CLOBBER overwrite, time travel, vacuum, tombstones,
and the shared MERGE INTO statement builder."""

import os

from pyspark.sql import functions as F

from pocket_etl_spark.datagen import gen_change_events
from pocket_etl_spark.lake import ParquetLakeTable, merge_into_sql


def _events(spark, n=1000, keys=60, seed=5, **kw):
    return gen_change_events(spark, n_events=n, n_keys=keys, seed=seed, **kw)


def test_overwrite_clobbers_existing_data(spark, tmp_table_path):
    """CLOBBER strategy (RedshiftJdbcClient.deleteAndCopy:162-198): a full
    refresh replaces all rows regardless of LSN history."""
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    table.merge(_events(spark).drop("ts", "extras"), batch_id=0)
    # CLOBBER copies the staged rows verbatim (deleteAndCopy) — stage the
    # already-deduped final state, exactly like the reference's bulk loader.
    from pocket_etl_spark.cdc.dedupe import lww_dedupe

    fresh = lww_dedupe(
        _events(spark, n=100, keys=10, seed=9).drop("ts", "extras"),
        ["repo", "path"],
    ).filter("op <> 'D'")
    table.overwrite(fresh)
    got = table.read()
    assert got.count() == fresh.count()
    # clobber is a new snapshot, not a reset: history remains time-travelable
    assert table.current_version() == 2


def test_time_travel_reads_old_snapshot(spark, tmp_table_path):
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    ev = _events(spark).drop("ts", "extras")
    table.merge(ev.filter("lsn <= 500"), batch_id=0)
    v1_rows = table.read().count()
    table.merge(ev.filter("lsn > 500"), batch_id=1)
    assert table.current_version() == 2
    assert table.read(version=1).count() == v1_rows
    assert table.read().count() != v1_rows or table.read(version=1).collect() != table.read().collect()


def test_vacuum_drops_unreachable_versions(spark, tmp_table_path):
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    ev = _events(spark, n=600, keys=30).drop("ts", "extras")
    for i, (lo, hi) in enumerate([(1, 200), (201, 400), (401, 600)]):
        table.merge(ev.filter(f"lsn between {lo} and {hi}"), batch_id=i)
    # merges append deltas, so every commit's files stay live until a fold
    assert table.compact(max_files_per_bucket=1).committed
    data_root = os.path.join(tmp_table_path, "data")
    before = len(os.listdir(data_root))
    removed = table.vacuum(keep_versions=1)
    assert removed > 0 and len(os.listdir(data_root)) == before - removed
    # the current snapshot still reads fine after vacuum
    assert table.read().count() > 0


def test_vacuumed_version_read_raises_cleanly_but_feed_survives(spark, tmp_table_path):
    """VERDICT r4 wrong #3: time travel to a vacuumed version fails with the
    retention context, not an opaque missing-path error from inside the Spark
    scan; the change feed survives for any cursor whose manifest is retained
    (read_changes reads only the to-snapshot's dirs — the since manifest is
    used purely for bucket diffing)."""
    import pytest

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    ev = _events(spark, n=600, keys=30).drop("ts", "extras")
    for i, (lo, hi) in enumerate([(1, 200), (201, 400), (401, 600)]):
        table.merge(ev.filter(f"lsn between {lo} and {hi}"), batch_id=i)
    table.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed .retention=1"):
        table.read(version=1)
    with pytest.raises(ValueError, match="vacuumed"):
        table.read(version=2)
    assert table.read_changes(1).count() > 0  # stale cursor: still consumable
    assert table.read().count() > 0  # current snapshot unaffected
    # a later, laxer vacuum cannot re-open versions whose data is gone
    table.vacuum(keep_versions=10)
    with pytest.raises(ValueError, match="vacuumed"):
        table.read(version=1)


def test_vacuum_manifest_retention_bounds_cursor(spark, tmp_table_path):
    """VERDICT r4 #8: vacuum prunes manifest JSONs older than keep_manifests
    (the chain must not grow O(commits) forever); a change-feed cursor older
    than manifest retention gets a clear re-bootstrap error, and the bootstrap
    window read_changes(0) always works (its manifest is synthetic)."""
    import pytest

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    ev = _events(spark, n=800, keys=20).drop("ts", "extras")
    for i, (lo, hi) in enumerate([(1, 200), (201, 400), (401, 600), (601, 800)]):
        table.merge(ev.filter(f"lsn between {lo} and {hi}"), batch_id=i)
    mdir = os.path.join(tmp_table_path, "_manifests")
    assert len([f for f in os.listdir(mdir) if f.endswith(".json")]) == 4
    table.vacuum(keep_versions=2, keep_manifests=2)
    assert sorted(f for f in os.listdir(mdir) if f.endswith(".json")) == [
        "v000000000003.json", "v000000000004.json"
    ]
    with pytest.raises(ValueError, match="re-bootstrap"):
        table.read_changes(1)
    assert table.read_changes(0).count() > 0  # bootstrap path survives
    assert table.read_changes(3).count() > 0  # within retention
    with pytest.raises(ValueError, match="keep_manifests"):
        table.vacuum(keep_versions=3, keep_manifests=2)


def test_vacuum_prunes_metrics_records_with_manifests(spark, tmp_table_path):
    """The per-batch metrics records share the manifests' retention: a
    continuous tail must not grow one file per batch forever."""
    from pocket_etl_spark.cdc.apply import apply_batch

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    ev = _events(spark, n=600, keys=20)
    for i, (lo, hi) in enumerate([(1, 200), (201, 400), (401, 600)]):
        apply_batch(ev.filter(f"lsn between {lo} and {hi}"), table, batch_id=i)
    table.vacuum(keep_versions=1, keep_manifests=None)
    assert table.read_metrics().count() == 3
    table.vacuum(keep_versions=2, keep_manifests=2)
    assert sorted(os.listdir(os.path.join(tmp_table_path, "_metrics"))) == [
        "v000000000002.json", "v000000000003.json"
    ]
    assert [r["version"] for r in table.read_metrics().orderBy("version").collect()] == [2, 3]


def test_vacuum_aborts_on_missing_in_window_manifest(spark, tmp_table_path):
    """A manifest missing INSIDE the readable window is metadata corruption:
    vacuum must abort before any rmtree instead of silently dropping that
    version's bucket dirs from the keep set (metadata loss must not become
    data loss)."""
    import pytest

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    ev = _events(spark, n=600, keys=30).drop("ts", "extras")
    for i, (lo, hi) in enumerate([(1, 200), (201, 400), (401, 600)]):
        table.merge(ev.filter(f"lsn between {lo} and {hi}"), batch_id=i)
    os.remove(os.path.join(tmp_table_path, "_manifests", "v000000000002.json"))
    data_root = os.path.join(tmp_table_path, "data")
    before = sorted(os.listdir(data_root))
    with pytest.raises(ValueError, match="metadata corruption"):
        table.vacuum(keep_versions=2)
    assert sorted(os.listdir(data_root)) == before  # nothing was deleted


def test_read_changes_rejects_future_to_version(spark, tmp_table_path):
    """A to_version past HEAD is caller cursor-bookkeeping gone wrong — it must
    raise as such, not masquerade as a pruned-manifest retention error that
    sends the consumer into a pointless re-bootstrap."""
    import pytest

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    ev = _events(spark, n=200, keys=20).drop("ts", "extras")
    table.merge(ev, batch_id=0)
    with pytest.raises(ValueError, match="ahead of the table"):
        table.read_changes(0, to_version=999)


def test_tombstone_blocks_late_lower_lsn(spark, tmp_table_path):
    """A delete's tombstone (kept with the delete's LSN) must prevent a
    late-arriving LOWER-LSN update from resurrecting the key — the streaming
    refinement of delete-then-insert (RedshiftLoadStrategy.java:21-75)."""
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    rows = [
        {"lsn": 10, "op": "I", "repo": "r", "path": "p", "commit": "c1", "lang": "py", "content": "v1"},
        {"lsn": 30, "op": "D", "repo": "r", "path": "p", "commit": None, "lang": None, "content": None},
    ]
    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    table.merge(spark.createDataFrame(rows, schema), batch_id=0)
    assert table.read().count() == 0
    late = [{"lsn": 20, "op": "U", "repo": "r", "path": "p", "commit": "c2", "lang": "py", "content": "v2"}]
    table.merge(spark.createDataFrame(late, schema), batch_id=1)
    assert table.read().count() == 0  # lsn 20 < tombstone lsn 30 → stays dead
    revive = [{"lsn": 40, "op": "I", "repo": "r", "path": "p", "commit": "c3", "lang": "py", "content": "v3"}]
    table.merge(spark.createDataFrame(revive, schema), batch_id=2)
    got = table.read().collect()
    assert len(got) == 1 and got[0]["content"] == "v3"


def test_exact_duplicate_events_keep_one_row_per_key(spark, tmp_table_path):
    """At-least-once delivery can land the SAME event (key, lsn, op) twice in
    one batch: both rows tie at the max packed ordinal, and each
    ``row_number() = 1`` winner pick must keep exactly one of them. The
    snapshot must stay one-row-per-key, and the duplicate must not survive
    subsequent merges as a resident pair."""
    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    dup = [
        {"lsn": 10, "op": "I", "repo": "r", "path": "p", "commit": "c1", "lang": "py", "content": "v1"},
        {"lsn": 10, "op": "I", "repo": "r", "path": "p", "commit": "c1", "lang": "py", "content": "v1"},
        {"lsn": 5, "op": "I", "repo": "r", "path": "q", "commit": "c0", "lang": "py", "content": "w0"},
    ]
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    table.merge(spark.createDataFrame(dup, schema), batch_id=0)
    got = table.read()
    assert got.count() == 2
    assert got.groupBy("repo", "path").count().filter("count > 1").count() == 0
    # the duplicated key's row must not multiply on the NEXT merge either
    more = [{"lsn": 20, "op": "U", "repo": "r", "path": "q", "commit": "c2", "lang": "py", "content": "w2"}]
    table.merge(spark.createDataFrame(more, schema), batch_id=1)
    got = table.read()
    assert got.count() == 2
    assert got.groupBy("repo", "path").count().filter("count > 1").count() == 0


def test_merge_into_sql_shape():
    sql = merge_into_sql("t", "s_view", ["repo", "path"], ["repo", "path", "lsn", "content"])
    assert "MERGE INTO t t USING s_view s" in sql
    assert "t.repo = s.repo AND t.path = s.path" in sql
    # tombstone semantics: NO hard delete arm anywhere
    assert "THEN DELETE" not in sql
    # soft-delete flag written on update AND on insert (delete of absent key
    # inserts a tombstone so late lower-LSN events cannot resurrect it)
    assert "t._deleted = (s.op = 'D')" in sql
    assert "WHEN NOT MATCHED THEN INSERT (repo, path, lsn, content, _deleted)" in sql
    assert "(s.op = 'D'))" in sql.split("VALUES")[1]
    # replay guard mirrors the packed argmax: strict newer wins; equal LSN —
    # incoming wins unless stored tombstone vs non-D incoming
    assert "s.lsn > t.lsn" in sql
    assert "s.lsn = t.lsn AND (NOT t._deleted OR s.op = 'D')" in sql


def test_hot_bucket_write_splits_into_file_slices(spark, tmp_table_path, monkeypatch):
    """With one touched bucket, the merge must fan the rewrite out across
    several writer tasks (multiple part files in the bucket dir) while the
    merged state stays correct — the hot-bucket write-parallelism fix.
    ``_TASK_ROWS`` = 1 sizes this small batch's wave by the cores."""
    from pocket_etl_spark import lake

    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=1)
    ev = _events(spark, n=2000, keys=400).drop("ts", "extras")
    res = table.merge(ev, batch_id=0)
    assert res.touched_buckets == [0]
    parts = table._manifest(res.version)["buckets"]["0"]
    assert len(parts) >= 2, parts  # hot bucket no longer a single writer
    # correctness unchanged: one row per live key
    got = table.read()
    assert got.groupBy("repo", "path").count().filter("count > 1").count() == 0

    from pocket_etl_spark.cdc.dedupe import lww_dedupe

    want = lww_dedupe(ev, ["repo", "path"]).filter("op <> 'D'").count()
    assert got.count() == want


def test_evolution_ddl_statements():
    """Iceberg schema-evolution DDL (pure): new columns ADD, widened columns
    ALTER TYPE, identical columns untouched."""
    from pyspark.sql import types as T

    from pocket_etl_spark.lake import evolution_ddl

    def _st(**cols):
        return T.StructType([T.StructField(k, v) for k, v in cols.items()])

    current = _st(repo=T.StringType(), path=T.StringType(), lsn=T.LongType(), score=T.IntegerType())
    incoming = _st(repo=T.StringType(), path=T.StringType(), lsn=T.LongType(), score=T.LongType(), stars=T.IntegerType())
    stmts = evolution_ddl("cat.db.t", current, incoming)
    assert stmts == [
        "ALTER TABLE cat.db.t ADD COLUMNS (stars int)",
        "ALTER TABLE cat.db.t ALTER COLUMN score TYPE bigint",
    ]
    # no-op when schemas already agree
    assert evolution_ddl("cat.db.t", incoming, incoming) == []


def test_bucket_pruning_rewrites_only_touched(spark, tmp_table_path):
    """A batch touching one key rewrites only that key's bucket — the
    copy-on-write bound that keeps write amplification O(batch), not O(table)."""
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    table.merge(_events(spark).drop("ts", "extras"), batch_id=0)
    one = [{"lsn": 99999, "op": "U", "repo": "org/repo-00000",
            "path": "src/module_0/file_00000.py", "commit": "x", "lang": "py", "content": "new"}]
    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    res = table.merge(spark.createDataFrame(one, schema), batch_id=1)
    assert len(res.touched_buckets) == 1


def test_change_data_feed_incremental_consumption(spark, tmp_table_path):
    """read_changes(since, to): emits exactly the keys whose winner changed in
    (since, to] with upsert/delete change types; keys merely carried through a
    bucket rewrite are NOT emitted, and a late lower-LSN loser produces no
    change row — the Delta-CDF/Iceberg-changelog analogue for downstream
    incremental consumers."""
    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=1)  # one bucket: every merge rewrites it

    def rows(*specs):
        return spark.createDataFrame(
            [dict(zip(("lsn", "op", "repo", "path", "commit", "lang", "content"), s)) for s in specs],
            schema,
        )

    table.merge(rows((10, "I", "r", "a", "c1", "py", "va"), (11, "I", "r", "b", "c1", "py", "vb")), batch_id=0)
    v1 = table.current_version()
    table.merge(rows((20, "U", "r", "a", "c2", "py", "va2"), (21, "D", "r", "b", None, None, None)), batch_id=1)
    v2 = table.current_version()
    # batch 3: late LOWER-lsn update for 'a' (loses) + brand-new key 'c'
    table.merge(rows((15, "U", "r", "a", "cx", "py", "old"), (30, "I", "r", "c", "c3", "py", "vc")), batch_id=2)
    v3 = table.current_version()

    # changes since v1: a upserted (v2), b deleted (v2), c inserted (v3).
    ch = {r["path"]: r for r in table.read_changes(v1).collect()}
    assert set(ch) == {"a", "b", "c"}
    assert ch["a"]["_change_type"] == "upsert" and ch["a"]["content"] == "va2"
    assert ch["a"]["_commit_version"] == v2  # late loser in v3 did NOT move the stamp
    assert ch["b"]["_change_type"] == "delete" and ch["b"]["lsn"] == 21
    assert ch["c"]["_change_type"] == "upsert" and ch["c"]["_commit_version"] == v3

    # cursor window (v2, v3]: only the v3 change appears, even though the
    # single bucket was fully rewritten in v3 (per-row stamps, not file diffs)
    ch23 = {r["path"]: r for r in table.read_changes(v2, v3).collect()}
    assert set(ch23) == {"c"}

    # full-history cursor from 0 = current state incl. the tombstone
    assert {(r["path"], r["_change_type"]) for r in table.read_changes(0).collect()} == {
        ("a", "upsert"), ("b", "delete"), ("c", "upsert"),
    }


def test_compaction_to_several_files_per_bucket(spark, tmp_table_path, monkeypatch):
    """compact(max_files_per_bucket=3) spreads a many-file bucket over at most
    3 key-salted slices (the merge's bucket writer), keeping every row —
    tombstones and _version stamps included — so the change feed stays
    silent across it. ``_TASK_ROWS`` = 1 makes the first merge sliced."""
    from pocket_etl_spark import lake

    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=1)
    table.merge(_events(spark, n=1000, keys=100).drop("ts", "extras"), batch_id=0)
    v1 = table.current_version()

    def n_files(version):
        return len(table._manifest(version)["buckets"]["0"])

    def rows():
        return sorted(
            map(tuple, table.read(include_tombstones=True).collect()),
            key=lambda r: (r[0], r[1]),
        )

    assert n_files(v1) > 3  # merge slicing left many small files
    before = rows()
    assert any(r[-2] for r in before)  # tombstones ride along
    res = table.compact(max_files_per_bucket=3)
    assert res.committed and res.stats["compacted"] == 1
    assert 2 <= n_files(res.version) <= 3
    assert rows() == before
    assert table.read_changes(v1).count() == 0


def test_compaction_preserves_state_and_change_feed(spark, tmp_table_path, monkeypatch):
    """compact() rewrites multi-file buckets into one file per bucket without
    changing any row: snapshot identical, and read_changes across the
    compaction emits nothing (pointer moved, per-row stamps did not).
    ``_TASK_ROWS`` = 1 makes the first merge sliced."""
    from pocket_etl_spark import lake

    monkeypatch.setattr(lake, "_TASK_ROWS", 1)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=1)
    ev = _events(spark, n=1000, keys=100).drop("ts", "extras")
    table.merge(ev, batch_id=0)
    v1 = table.current_version()
    n_before = len(table._manifest(v1)["buckets"]["0"])
    assert n_before >= 2  # slicing produced the small files to compact
    before = sorted(map(tuple, table.read().collect()))

    res = table.compact(max_files_per_bucket=1)
    assert res.committed and res.stats["compacted"] == 1
    n_after = len(table._manifest(res.version)["buckets"]["0"])
    assert n_after == 1
    assert sorted(map(tuple, table.read().collect())) == before
    # change feed is silent across a compaction
    assert table.read_changes(v1).count() == 0
    # idempotent: nothing left to compact
    assert not table.compact(max_files_per_bucket=1).committed
    # merges keep working on the compacted snapshot
    more = _events(spark, n=50, keys=10, seed=8).drop("ts", "extras")
    table.merge(more, batch_id=1)
    assert table.read().count() > 0


def test_merge_refuses_incomplete_touched_buckets_hint(spark, tmp_table_path):
    """A batch key in a bucket outside the buckets of the merge's ``facts``
    must fail the merge before it commits: that bucket's current rows were
    never read, so committing would replace the bucket with the batch's rows
    alone."""
    import pytest

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    table.merge(_events(spark, n=300, keys=200).drop("ts", "extras"), batch_id=0)
    v0, before = table.current_version(), table.read().count()
    assert table.read(buckets=[3]).count() > 0
    late = (
        _events(spark, n=50, keys=50, seed=11).drop("ts", "extras")
        .filter(table._bucket_expr() == 3)
        .limit(1)
        .withColumn("op", F.lit("I"))
        .withColumn("lsn", F.lit(10**9).cast("long"))
    )
    facts = {"rows": 1, "min_lsn": 10**9, "bytes": 0}
    with pytest.raises(ValueError, match="outside touched_buckets"):
        table.merge(late, batch_id=1, facts={**facts, "buckets": [0, 1, 2]})
    assert table.current_version() == v0
    assert table.last_batch_id() == 0
    assert table.read().count() == before
    # the complete hint commits and keeps bucket 3's other rows
    res = table.merge(late, batch_id=1, facts={**facts, "buckets": [3]})
    assert res.committed
    assert before <= table.read().count() <= before + 1


def test_compact_rejects_max_files_below_one(spark, tmp_table_path):
    """compact(0) is not "every bucket is over the limit": it raises instead
    of rewriting and committing the whole table."""
    import pytest

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    table.merge(_events(spark, n=200, keys=40).drop("ts", "extras"), batch_id=0)
    v = table.current_version()
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_files_per_bucket"):
            table.compact(max_files_per_bucket=bad)
    assert table.current_version() == v


import pytest as _pytest


@_pytest.mark.parametrize("backend", ["parquet_lake", "iceberg_hermetic"])
def test_change_feed_cursor_at_least_once(spark, tmp_table_path, tmp_path, backend):
    """ChangeFeedCursor: poll/commit consume loop; a crash before commit
    re-delivers the same window (at-least-once), committed windows never
    re-deliver, independent consumer ids hold independent positions.
    Parametrized over BOTH lake backends (VERDICT r4 #7) — the cursor sees
    only the read_changes/current_version surface, which they share."""
    from pocket_etl_spark.cdc.feed import ChangeFeedCursor

    if backend == "parquet_lake":
        table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    else:
        from pocket_etl_spark.lake import IcebergLakeTable

        table = IcebergLakeTable(spark, "cursor_ih", table_format="parquet")

    def second_commit(batch):
        """The hermetic format supports only the bootstrap CREATE (MERGE INTO
        needs a real Iceberg catalog) — emulate the second commit the way the
        window-stability test does: append the batch's winners stamped
        _version=2 and advance the commit counter. The cursor sees only the
        read_changes/current_version surface, which this exercises fully."""
        if backend == "parquet_lake":
            table.merge(batch, batch_id=1)
            return
        from pocket_etl_spark.cdc.dedupe import lww_dedupe

        rows = (
            lww_dedupe(batch, list(table.key_cols))
            .withColumn("_deleted", F.col("op") == "D")
            .withColumn("_version", F.lit(2).cast("long"))
            .drop("op")
        )
        cols = spark.table("cursor_ih").columns
        rows.select(*cols).write.insertInto("cursor_ih")
        table._advance_watermark(None, None, 2)

    try:
        ev = _events(spark, n=400, keys=40).drop("ts", "extras")
        table.merge(ev.filter("lsn <= 200"), batch_id=0)

        cur = ChangeFeedCursor(table, str(tmp_path / "cursor.json"))
        df, upto = cur.poll()
        first = df.count()
        assert first > 0 and upto == table.current_version()

        # crash before commit: the SAME window re-delivers
        df2, upto2 = cur.poll()
        assert upto2 == upto and df2.count() == first

        cur.commit(upto)
        assert cur.poll() == (None, upto)  # nothing new after commit

        # new merge → only the new window appears
        second_commit(ev.filter("lsn > 200"))
        df3, upto3 = cur.poll()
        assert upto3 == table.current_version()
        changed = {(r["repo"], r["path"]) for r in df3.select("repo", "path").collect()}
        assert df3.filter(f"_commit_version <= {upto}").count() == 0  # no replay of committed
        assert changed  # second batch touched keys

        # a second consumer id starts from the beginning independently
        cur_b = ChangeFeedCursor(table, str(tmp_path / "cursor.json"), consumer_id="b")
        df_b, _ = cur_b.poll()
        assert df_b.count() >= df3.count()
    finally:
        if backend == "iceberg_hermetic":
            spark.sql("DROP TABLE IF EXISTS cursor_ih")
            spark.sql("DROP TABLE IF EXISTS cursor_ih_watermarks")


def test_cursor_concurrent_commits_do_not_rewind(tmp_path):
    """ADVICE r2: two consumers sharing one cursor file commit concurrently —
    the fcntl lock serializes the read-modify-write so no consumer's position
    is ever rewound or lost by a racing writer."""
    import threading

    from pocket_etl_spark.cdc.feed import ChangeFeedCursor

    path = str(tmp_path / "shared_cursor.json")
    n_consumers, n_commits = 8, 25
    cursors = [
        ChangeFeedCursor(None, path, consumer_id=f"c{i}") for i in range(n_consumers)
    ]

    def run(cur):
        for v in range(1, n_commits + 1):
            cur.commit(v)

    threads = [threading.Thread(target=run, args=(c,)) for c in cursors]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for c in cursors:
        assert c.position() == n_commits, c.consumer_id


def test_read_changes_window_is_stable_across_later_commits(spark, tmp_path):
    """Pins read_changes' eager manifest resolution (VERDICT r2 'what's wrong'
    #4): a merge committing AFTER poll() but BEFORE the consumer's action must
    not widen the delivered window — otherwise the cursor would deliver rows
    from a version it never committed."""
    from pocket_etl_spark.cdc.feed import ChangeFeedCursor
    from pocket_etl_spark.datagen import gen_change_events

    events = gen_change_events(spark, n_events=600, n_keys=50, seed=3).drop("ts", "extras")
    table = ParquetLakeTable(spark, str(tmp_path / "stab"), num_buckets=4)
    table.merge(events.filter("lsn <= 300"), batch_id=0)
    cur = ChangeFeedCursor(table, str(tmp_path / "c.json"))
    df, upto = cur.poll()
    assert upto == 1
    # a second merge lands between poll() and the consumer's action
    table.merge(events.filter("lsn > 300"), batch_id=1)
    delivered = df.select("_commit_version").distinct().collect()
    assert {r["_commit_version"] for r in delivered} == {1}
    # the next poll picks up exactly the rest
    cur.commit(upto)
    df2, upto2 = cur.poll()
    assert upto2 == 2
    assert {r["_commit_version"] for r in df2.select("_commit_version").distinct().collect()} == {2}


def test_iceberg_maintenance_sql_statements():
    """Iceberg compact/vacuum delegation (VERDICT r2 'missing' #1): pure
    statement builders, hermetically checked — the execution path is a loop of
    spark.sql over exactly these strings."""
    from pocket_etl_spark.lake import iceberg_maintenance_sql

    assert iceberg_maintenance_sql("db.t", compact=True) == [
        "CALL spark_catalog.system.rewrite_data_files(table => 'db.t', strategy => 'binpack')"
    ]
    assert iceberg_maintenance_sql(
        "db.t", compact=True, target_file_size_bytes=134217728, compact_where="bucket = 3"
    ) == [
        "CALL spark_catalog.system.rewrite_data_files(table => 'db.t', "
        "strategy => 'binpack', options => map('target-file-size-bytes', '134217728'), "
        "where => 'bucket = 3')"
    ]
    assert iceberg_maintenance_sql(
        "t", expire_older_than_ts="2026-08-01 00:00:00", retain_last=5, remove_orphans=True
    ) == [
        "CALL spark_catalog.system.expire_snapshots(table => 't', "
        "older_than => TIMESTAMP '2026-08-01 00:00:00', retain_last => 5)",
        "CALL spark_catalog.system.remove_orphan_files(table => 't')",
    ]
    import pytest

    with pytest.raises(ValueError, match="identifier"):
        iceberg_maintenance_sql("t; DROP TABLE x", compact=True)
    with pytest.raises(ValueError, match="timestamp"):
        iceberg_maintenance_sql("t", expire_older_than_ts="now() --")


def test_merge_without_hint_rejects_invalid_rows(spark, tmp_table_path):
    """A merge without ``facts`` (LakeMergeLoader, a direct
    call) has no DLQ: a batch holding a null key, a NULL op or an unknown op
    raises before anything is written — none of those rows may vanish or land
    as a live row under a committed version."""
    import pytest

    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    rows = [
        (1, "I", "r", "a", "c1", "py", "ok"),
        (2, "I", None, "b", "c1", "py", "null repo"),
        (3, None, "r", "c", "c1", "py", "null op"),
        (4, "X", "r", "d", "c1", "py", "unknown op"),
        (5, "U", "r", None, "c1", "py", "null path"),
    ]
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    with pytest.raises(ValueError, match="4 rows are invalid"):
        table.merge(spark.createDataFrame(rows, schema), batch_id=1)
    assert table.current_version() == 0
    assert table.last_batch_id() == -1


def test_sliced_merge_keeps_one_winner_per_key(spark, tmp_table_path):
    """One bucket at local[8] splits into 8 write slices, and each write task
    picks the winners of its own keys. Ties and guards must come out as the
    LWW rule says: exact duplicates keep one row, an equal-LSN U/D pair
    deletes, an equal-LSN replay of a stored row keeps it, and a late
    lower-LSN event cannot revive a tombstone."""
    from pocket_etl_spark.cdc.dedupe import lww_dedupe

    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"

    def ev(lsn, op, path, content):
        live = op != "D"
        return (lsn, op, "r", path, "c" if live else None, "py" if live else None, content)

    filler = [ev(100 + i, "I", f"f{i}", f"f{i}") for i in range(40)]
    first = [
        ev(10, "I", "replay", "stored"),
        ev(5, "I", "dead", "d0"),
        ev(30, "D", "dead", None),
        ev(40, "I", "pair", "p0"),
    ] + filler
    second = [
        ev(50, "U", "dup", "x"),
        ev(50, "U", "dup", "x"),
        ev(60, "U", "pair", "p1"),
        ev(60, "D", "pair", None),
        ev(10, "I", "replay", "stored"),
        ev(20, "U", "dead", "zombie"),
    ] + [ev(200 + i, "U", f"f{i}", f"g{i}") for i in range(0, 40, 3)]

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=1)
    table.merge(spark.createDataFrame(first, schema), batch_id=0)
    res = table.merge(spark.createDataFrame(second, schema), batch_id=1)
    assert len(table._manifest(res.version)["buckets"]["0"]) >= 2

    stored = table.read(include_tombstones=True)
    assert stored.groupBy("repo", "path").count().filter("count > 1").count() == 0
    cols = ["repo", "path", "lsn", "content"]
    want = (
        lww_dedupe(spark.createDataFrame(first + second, schema), ["repo", "path"])
        .filter("op <> 'D'")
        .select(*cols)
    )
    assert sorted(table.read().select(*cols).collect()) == sorted(want.collect())
    dead = {r["path"] for r in stored.filter("_deleted").collect()}
    assert dead == {"dead", "pair"}


def test_rewritten_bucket_leaves_no_dead_rows_in_reads(spark, tmp_table_path):
    """A write task's file holds several buckets. A sparse merge rewrites only
    its touched bucket, so that bucket's old rows stay behind, dead, in the
    shared file. No read may return them: the snapshot, the tombstone view,
    a bucket-pruned read and every change-feed window must equal the LWW
    state of all events, through merges, a late lower-LSN event, compaction
    and vacuum."""
    from pocket_etl_spark.cdc.dedupe import lww_dedupe

    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    keys = ["repo", "path"]
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=16)
    events = [tuple(r) for r in _events(spark, n=800, keys=200).drop("ts", "extras")
              .select("lsn", "op", "repo", "path", "commit", "lang", "content").collect()]
    res = table.merge(spark.createDataFrame(events, schema), batch_id=0)
    assert res.touched_buckets == list(range(16))
    shared = [bs for bs in table._manifest(res.version)["files"].values() if len(bs) > 1]
    assert shared, "the dense merge wrote no file holding several buckets"
    b1, b2 = shared[0][:2]
    k1, k2 = (min((r["repo"], r["path"]) for r in table.read(buckets=[b]).collect()) for b in (b1, b2))
    stamp = {(e[2], e[3]): res.version for e in events}  # key -> version of its last change
    bucket = {
        (r["repo"], r["path"]): r["b"]
        for r in spark.createDataFrame(events, schema)
        .select(*keys, table._bucket_expr().alias("b")).collect()
    }
    top = max(e[0] for e in events)

    def check():
        want = lww_dedupe(spark.createDataFrame(events, schema), keys).collect()
        state = {(r["repo"], r["path"], r["lsn"], r["op"] == "D") for r in want}
        got = table.read(include_tombstones=True).collect()
        assert {(r["repo"], r["path"], r["lsn"], bool(r["_deleted"])) for r in got} == state
        assert len(got) == len(state)
        alive = sorted((r, p, lsn) for r, p, lsn, dead in state if not dead)
        assert sorted((r["repo"], r["path"], r["lsn"]) for r in table.read().collect()) == alive
        for b in (b1, b2):
            got_b = sorted((r["repo"], r["path"], r["lsn"]) for r in table.read(buckets=[b]).collect())
            assert got_b == [k for k in alive if bucket[k[:2]] == b], b
        for v in range(table.current_version()):
            got_ch = table.read_changes(v).collect()
            want_ch = {
                (r, p, lsn, "delete" if dead else "upsert", stamp[(r, p)])
                for r, p, lsn, dead in state
                if stamp[(r, p)] > v
            }
            assert len(got_ch) == len(want_ch), v
            assert {
                (r["repo"], r["path"], r["lsn"], r["_change_type"], r["_commit_version"])
                for r in got_ch
            } == want_ch, v

    check()
    sparse = [
        (top + 1, "U", *k1, "c9", "py", "updated"),
        (top + 2, "D", *k2, None, None, None),
        (top + 1, "U", *k2, "c8", "py", "late"),  # loses to the delete
    ]
    for i, event in enumerate(sparse, start=1):
        key = event[2:4]
        if event[0] > max(e[0] for e in events if e[2:4] == key):
            stamp[key] = table.current_version() + 1
        events.append(event)
        res = table.merge(spark.createDataFrame([event], schema), batch_id=i)
        assert res.stats["buckets_rewritten"] == 1, res
        check()
    assert table.compact(max_files_per_bucket=1).committed
    check()
    assert table.vacuum(keep_versions=2) > 0
    check()


def test_deleted_flag_is_never_null(spark, tmp_table_path):
    """Every stored row carries a two-valued ``_deleted``: a merge, an
    overwrite (which has no deletes) and a fold all write true or false."""
    from pocket_etl_spark.cdc.dedupe import lww_dedupe

    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)

    def nulls():
        return table.read(include_tombstones=True).filter("_deleted IS NULL").count()

    table.merge(_events(spark, n=300, keys=40).drop("ts", "extras"), batch_id=0)
    assert nulls() == 0
    fresh = lww_dedupe(_events(spark, n=200, keys=30, seed=9).drop("ts", "extras"), ["repo", "path"])
    table.overwrite(fresh.filter("op <> 'D'"))
    assert nulls() == 0
    table.merge(_events(spark, n=300, keys=40, seed=12).drop("ts", "extras"), batch_id=1)
    assert nulls() == 0
    assert table.compact(max_files_per_bucket=1).committed
    assert nulls() == 0


def test_type_change_rewrites_stored_files(spark, tmp_table_path):
    """Parquet reads a stored column only as a type it can widen its own to
    (int as long or double, not long as double or a number as string). A
    batch that changes a column's type must leave every stored row readable
    in the new type, in buckets it touches and in buckets it does not, and
    rewrite them inside its own one commit."""
    schema = "lsn long, op string, repo string, path string, score {}"
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    first = [(i, "I", "r", f"p{i}", i) for i in range(40)]
    table.merge(spark.createDataFrame(first, schema.format("long")), batch_id=0)
    res = table.merge(spark.createDataFrame([(100, "U", "r", "p0", 0.5)], schema.format("double")), batch_id=1)
    assert table.current_version() == res.version == 2
    assert res.stats["buckets_folded"] == len(table._manifest(1)["buckets"])
    got = {r["path"]: r["score"] for r in table.read().collect()}
    assert got == {**{f"p{i}": float(i) for i in range(40)}, "p0": 0.5}
    assert table.schema()["score"].dataType.simpleString() == "double"
    res = table.merge(spark.createDataFrame([(101, "U", "r", "p1", "x")], schema.format("string")), batch_id=2)
    assert table.current_version() == res.version == 3
    got = {r["path"]: r["score"] for r in table.read().collect()}
    assert got == {**{f"p{i}": str(float(i)) for i in range(40)}, "p0": "0.5", "p1": "x"}
    assert {r["path"] for r in table.read_changes(1).collect()} == {"p0", "p1"}


@_pytest.mark.parametrize("task_rows", [None, 1], ids=["one-task", "core-wave"])
def test_deltas_and_fold_match_lww(spark, tmp_table_path, monkeypatch, task_rows):
    """Merges append deltas and a fold rewrites a bucket once its files span
    more than ``_FOLD_AT`` commits. Through a dozen merges (late lower-LSN
    events, a delete then a re-insert, exact duplicates, an int -> double
    widening) every read must equal the LWW state of all events: the
    snapshot, the tombstone view, bucket-pruned reads and every change-feed
    window ``(s, v]`` of every commit. Every merge, the folding ones and the
    one that widens a column included, is one commit. It holds at the real
    ``_TASK_ROWS``, where a merge with no stored side and no fold is written
    by one task, and with ``_TASK_ROWS`` = 1, where every write is a
    core-sized wave."""
    from pocket_etl_spark import lake
    from pocket_etl_spark.cdc.dedupe import OP_RANK, lww_dedupe
    from pocket_etl_spark.lake import _FOLD_AT

    if task_rows is not None:
        monkeypatch.setattr(lake, "_TASK_ROWS", task_rows)

    keys = ["repo", "path"]
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=8)
    paths = [f"p{i:02d}" for i in range(40)]
    bucket = {
        r["path"]: r["b"]
        for r in spark.createDataFrame([("r", p) for p in paths], "repo string, path string")
        .select("path", table._bucket_expr().alias("b")).collect()
    }
    hot = paths[0]  # updated in every batch, so its bucket gets a delta per commit
    # a key no regular update or late event of the batches below touches
    cold = next(p for i, p in enumerate(paths) if i > 16 and i % 5 in (0, 4) and bucket[p] != bucket[hot])

    def ev(lsn, op, path, score=None):
        return (lsn, op, "r", path, None if op == "D" else f"{path}@{lsn}", score)

    batches = [[ev(10 + i, "I", p, i) for i, p in enumerate(paths)]]
    for n in range(1, 12):
        base = 100 * n
        b = [ev(base, "U", hot, n)]
        b += [ev(base + 1 + i, "U", p, n) for i, p in enumerate(paths[1 + n % 3 :: 5])]
        b.append(ev(5, "U", paths[n + 5]))  # late: loses to the stored row
        batches.append(b)
    batches[2] += [ev(250, "D", cold)]
    batches[3] += [ev(240, "U", cold)]  # late lower-LSN event after the delete
    batches[4] += [ev(250, "U", cold)]  # equal LSN: loses to the stored tombstone
    batches[5] += [ev(450, "I", cold, 5)]  # re-insert after the delete
    batches[5] += [ev(520, "U", paths[7], 5)] * 2  # exact duplicates in one batch
    batches[6] += [ev(520, "U", paths[7], 5)]  # and replayed by a later batch
    widen_at = 10  # score arrives as double from this batch on

    state = {}  # path -> (lsn, op, content, score, version)
    events = []

    def rank(e):
        return (e[0], OP_RANK.get(e[1], 0))

    def check():
        v = table.current_version()
        want = lww_dedupe(
            spark.createDataFrame([e[:5] for e in events], "lsn long, op string, repo string, path string, content string"),
            keys,
        ).collect()
        assert {(r["path"], r["lsn"], r["op"] == "D") for r in want} == {
            (p, s[0], s[1] == "D") for p, s in state.items()
        }
        rows = table.read(include_tombstones=True).collect()
        assert len(rows) == len(state)
        assert {
            (r["path"], r["lsn"], r["_deleted"], r["content"], r["score"], r["_version"]) for r in rows
        } == {(p, s[0], s[1] == "D", s[2], s[3], s[4]) for p, s in state.items()}
        alive = sorted((p, s[0], s[2]) for p, s in state.items() if s[1] != "D")
        assert sorted((r["path"], r["lsn"], r["content"]) for r in table.read().collect()) == alive
        for b in {bucket[hot], bucket[cold]}:
            got = sorted((r["path"], r["lsn"], r["content"]) for r in table.read(buckets=[b]).collect())
            assert got == [k for k in alive if bucket[k[0]] == b], b
        windows = None
        for s in range(v):
            w = table.read_changes(s, v).select(F.lit(s).alias("s"), "path", "lsn", "_change_type", "_commit_version")
            windows = w if windows is None else windows.unionByName(w)
        got = sorted(tuple(r) for r in windows.collect())
        assert got == sorted(
            (s, p, st[0], "delete" if st[1] == "D" else "upsert", st[4])
            for s in range(v) for p, st in state.items() if st[4] > s
        ), v

    for n, batch in enumerate(batches):
        typ = "double" if n >= widen_at else "int"
        cast = float if n >= widen_at else int
        rows = [(*e[:5], None if e[5] is None else cast(e[5])) for e in batch]
        df = spark.createDataFrame(rows, f"lsn long, op string, repo string, path string, content string, score {typ}")
        res = table.merge(df, batch_id=n)
        events.extend(batch)
        win = {}
        for e in batch:
            if e[3] not in win or rank(e) > rank(win[e[3]]):
                win[e[3]] = e
        for p, e in win.items():
            s = state.get(p)
            # the MERGE guard: newer lsn wins; at equal lsn the incoming event
            # wins unless the stored row is a tombstone and it is no delete
            if s is None or e[0] > s[0] or (e[0] == s[0] and (s[1] != "D" or e[1] == "D")):
                score = None if e[5] is None else float(e[5])
                state[p] = (e[0], e[1], e[4], score, res.version)
        assert table.current_version() == res.version
        if res.stats["buckets_folded"]:
            man = table._manifest(res.version)
            assert len({f.split("/")[1] for f in man["buckets"][str(bucket[hot])]}) == 1
        check()
    assert any(
        table._manifest(v)["stats"].get("folded_buckets") for v in range(1, table.current_version() + 1)
    ), f"no fold in {len(batches)} merges (_FOLD_AT={_FOLD_AT})"


def test_lsn_bounds_prune_the_stored_side_exactly(spark, tmp_table_path, monkeypatch):
    """The merge's stored side reads only files whose lsn bound reaches the
    batch's lowest lsn. Through monotone batches, an equal-lsn event against a
    stored tombstone (its file's bound equals the batch's floor), a late batch
    whose floor falls inside one file's lsn range and below other files'
    bounds, a replayed batch, a fold and a manifest written without bounds,
    every read must equal the LWW state of all events: the snapshot, the
    tombstone view and every change-feed window ``(s, v]``. A merge handed a
    floor above one of its rows raises and commits nothing; a folding merge
    handed the right floor commits, though its fold carries rows below it."""
    import json

    import pytest

    from pocket_etl_spark import lake
    from pocket_etl_spark.cdc.dedupe import lww_dedupe

    cols = "lsn long, op string, repo string, path string, content string"
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    paths = [f"p{i:02d}" for i in range(30)]
    gone = paths[0]  # deleted at lsn 120, the highest lsn of its commit
    events = []
    stamp = {}  # (path, lsn, op) -> the last commit that merged that event

    def ev(lsn, op, path):
        return (lsn, op, "r", path, None if op == "D" else f"{path}@{lsn}")

    def listed(touched, version):
        man = table._manifest(version)
        return {f for b in touched for f in man["buckets"].get(str(b), [])}

    def check():
        v = table.current_version()
        want = {
            (r["path"], r["lsn"], r["op"] == "D", r["content"], stamp[(r["path"], r["lsn"], r["op"])])
            for r in lww_dedupe(spark.createDataFrame(events, cols), ["repo", "path"]).collect()
        }
        got = {
            (r["path"], r["lsn"], r["_deleted"], r["content"], r["_version"])
            for r in table.read(include_tombstones=True).collect()
        }
        assert got == want, v
        alive = sorted((p, lsn, c) for p, lsn, d, c, _ in want if not d)
        assert sorted((r["path"], r["lsn"], r["content"]) for r in table.read().collect()) == alive
        windows = None
        for s in range(v):
            w = table.read_changes(s, v).select(F.lit(s).alias("s"), "path", "lsn", "_change_type", "_commit_version")
            windows = w if windows is None else windows.unionByName(w)
        assert sorted(tuple(r) for r in windows.collect()) == sorted(
            (s, p, lsn, "delete" if d else "upsert", c_v)
            for s in range(v) for p, lsn, d, _, c_v in want if c_v > s
        ), v

    def merge(batch, batch_id, facts=None):
        res = table.merge(spark.createDataFrame(batch, cols), batch_id=batch_id, facts=facts)
        events.extend(batch)
        for e in batch:
            stamp[(e[3], e[0], e[1])] = res.version
        check()
        return res

    monkeypatch.setattr(lake, "_FOLD_AT", 100)
    merge([ev(10 + i, "I", p) for i, p in enumerate(paths)], 0)
    b1 = [ev(100 + i, "U", p) for i, p in enumerate(paths[1:16], 1)] + [ev(120, "D", gone)]
    merge(b1, 1)
    # monotone: the batch's lowest lsn is above every file's bound
    res = merge([ev(200 + i, "U", p) for i, p in enumerate(paths[16:])], 2)
    assert res.stats["stored_files_scanned"] == 0
    # equal lsn against the stored tombstone: its file is bounded by 120 exactly
    res = merge([ev(120, "U", gone)] + [ev(300 + i, "U", p) for i, p in enumerate(paths[20:25])], 3)
    assert res.stats["stored_files_scanned"] > 0
    # late: lsn 105 is inside commit 2's range (101..120) and below later
    # commits' bounds, and above commit 1's (39), whose files are skipped
    late = [ev(105, "U", p) for p in paths[1:17]]
    res = merge(late, 4)
    assert 0 < res.stats["stored_files_scanned"] < len(listed(res.touched_buckets, res.version - 1))
    # a replayed batch (a new batch id, so not fenced), then a fold
    monkeypatch.setattr(lake, "_FOLD_AT", 1)
    res = merge(b1, 5)
    assert res.stats["buckets_folded"] > 0
    assert table.current_version() == res.version
    # a folding merge with the batch's buckets and lowest lsn as its hint:
    # a floor above one of its rows raises, the right floor commits
    hinted = [ev(130 + i, "U", p) for i, p in enumerate(paths[1:9])]
    hint = {
        "touched_buckets": sorted({
            r["b"] for r in spark.createDataFrame(hinted, cols).select(table._bucket_expr().alias("b")).collect()
        })
    }
    v, wm = table.current_version(), table.last_batch_id()
    facts = {"buckets": hint["touched_buckets"], "rows": len(hinted), "bytes": 0}
    with pytest.raises(ValueError, match="below lsn_floor"):
        table.merge(spark.createDataFrame(hinted, cols), batch_id=6, facts={**facts, "min_lsn": 131})
    assert (table.current_version(), table.last_batch_id()) == (v, wm)
    res = merge(hinted, 6, facts={**facts, "min_lsn": 130})
    assert res.stats["buckets_folded"] == len(hint["touched_buckets"])
    assert table.current_version() == res.version == v + 1
    monkeypatch.setattr(lake, "_FOLD_AT", 100)

    # a manifest written before bounds: every file of it is unbounded
    head = os.path.join(tmp_table_path, "_manifests", f"v{table.current_version():012d}.json")
    with open(head) as f:
        man = json.load(f)
    assert man.pop("max_lsn")
    with open(head, "w") as f:
        json.dump(man, f)
    unbounded = listed(range(4), table.current_version())
    res = merge([ev(110, "U", p) for p in paths[1:4]] + [ev(400 + i, "U", p) for i, p in enumerate(paths[25:])], 7)
    assert res.stats["stored_files_scanned"] == len(listed(res.touched_buckets, res.version - 1))
    man = table._manifest(res.version)
    assert set(man["max_lsn"]) == {f for f in man["files"] if lake._commit_of(f) == res.version}
    # later merges still scan the unbounded files, and only those
    res = merge([ev(500 + i, "U", p) for i, p in enumerate(paths[5:12])], 8)
    assert res.stats["stored_files_scanned"] == len(listed(res.touched_buckets, res.version) & unbounded)

    # a floor above one of the batch's rows: the merge raises before committing
    v, wm = table.current_version(), table.last_batch_id()
    bad = spark.createDataFrame([ev(50, "I", "pnew"), ev(600, "U", paths[1])], cols)
    with pytest.raises(ValueError, match="below lsn_floor"):
        table.merge(bad, batch_id=9, facts={"buckets": list(range(4)), "rows": 2, "min_lsn": 600, "bytes": 0})
    assert (table.current_version(), table.last_batch_id()) == (v, wm)
    check()


@_pytest.mark.parametrize("task_rows", [None, 1], ids=["one-task", "core-wave"])
def test_in_task_pick_matches_lww(spark, tmp_table_path, monkeypatch, task_rows):
    """The write tasks pick each key's row: the merge's batch winner (by lsn
    and op rank) among the rows no stored row beats, a fold's highest stamp,
    and ``compact(1)``'s highest stamp. Two buckets at local[8] make every
    core-sized write sliced: with ``_TASK_ROWS`` = 1 every write is; at the
    real ``_TASK_ROWS`` a merge with no stored side and no fold (the first)
    is written by one task with no exchange, and the rest are sliced. Through
    batches where one hot key takes over 30% of the events, with late
    lower-LSN events, equal-LSN events against stored tombstones and live
    rows, deletes, folds (``_FOLD_AT`` = 3) and a ``compact(1)``, after every
    commit the table must hold ``lww_dedupe`` of all events, and every
    change-feed window ``(s, v]`` must hold the keys whose winner last
    changed after ``s``."""
    import random

    from pocket_etl_spark import lake
    from pocket_etl_spark.cdc.dedupe import OP_RANK, lww_dedupe

    monkeypatch.setattr(lake, "_FOLD_AT", 3)
    if task_rows is not None:
        monkeypatch.setattr(lake, "_TASK_ROWS", task_rows)
    schema = "lsn long, op string, repo string, path string, content string"
    rng = random.Random(59)
    paths = [f"p{i:02d}" for i in range(30)]
    hot = paths[0]
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    events: list[tuple] = []
    version: dict[str, int] = {}  # path -> commit that wrote its live row
    late_lsns = iter(range(1, 10**6, 2))  # odd: no regular event has one

    def ev(lsn, op, path):
        return (lsn, op, "r", path, None if op == "D" else f"{path}@{lsn}{op}")

    def winners():
        best: dict[str, tuple] = {}
        for e in events:
            if e[3] not in best or (e[0], OP_RANK[e[1]]) > (best[e[3]][0], OP_RANK[best[e[3]][1]]):
                best[e[3]] = e
        return best

    def check(v):
        want = lww_dedupe(spark.createDataFrame(events, schema), ["repo", "path"]).collect()
        got = table.read(include_tombstones=True).collect()
        assert sorted((r["path"], r["lsn"], r["op"] == "D", r["content"]) for r in want) == sorted(
            (r["path"], r["lsn"], r["_deleted"], r["content"]) for r in got
        ), v
        assert {r["path"]: r["_version"] for r in got} == version, v
        windows = None
        for s in range(v):
            w = table.read_changes(s, v).select(F.lit(s).alias("s"), "path", "lsn", "_commit_version")
            windows = w if windows is None else windows.unionByName(w)
        best = winners()
        assert sorted(tuple(r) for r in windows.collect()) == sorted(
            (s, p, best[p][0], version[p]) for s in range(v) for p in version if version[p] > s
        ), v

    lsn = 0
    for n in range(9):
        batch = []
        for _ in range(60):
            lsn += 2
            path = hot if rng.random() < 0.35 else rng.choice(paths[1:])
            batch.append(ev(lsn, rng.choice("IUUUD"), path))
        if n:
            best = winners()
            for p in rng.sample(sorted(best), 6):
                # late: an lsn below the key's stored row, so it loses
                batch.append(ev(next(late_lsns), "U", p))
                e = best[p]
                # equal lsn: a U loses to a stored tombstone, a D beats a live row
                batch.append(ev(e[0], "U" if e[1] == "D" else "D", p))
            batch.append(batch[-1])  # an exact duplicate
        before = winners()
        res = table.merge(spark.createDataFrame(batch, schema), batch_id=n)
        if not res.stats["buckets_folded"] and not res.stats["stored_files_scanned"]:
            assert (res.stats["files_written"] == 1) == (task_rows is None), res.stats
        events.extend(batch)
        for p, e in winners().items():
            if before.get(p) != e:
                version[p] = res.version
        check(res.version)
        if n == 5:
            compacted = table.compact(1)
            assert compacted.stats["compacted"] == 2
            check(compacted.version)

    assert sum(e[3] == hot for e in events) >= 0.3 * len(events)
    mans = [table._manifest(v) for v in range(1, table.current_version() + 1)]
    assert any(m["stats"].get("folded_buckets") for m in mans)
    assert any(
        len([f for f in fs if lake._commit_of(f) == m["version"]]) > 1
        for m in mans for fs in m["buckets"].values()
    ), "no sliced write"


@_pytest.mark.parametrize("task_rows", [None, 1], ids=["one-task", "core-wave"])
def test_written_rows_carry_their_commit_stamp(spark, tmp_table_path, monkeypatch, task_rows):
    """Only a fold's plan carries the commit's ``_version``: any other delta
    is stamped where its rows leave Spark, on the driver's Arrow table or in
    Spark's write. Through a driver-written delta (at the real
    ``_TASK_ROWS``), a delta with a stored side (written by Spark), a
    delete and a fold (``_FOLD_AT`` = 3), the rows a commit's files hold
    that carry its version are exactly the keys whose live row it wrote, a
    fold's carried-forward rows keep their older stamps, and every
    change-feed window ``(s, v]`` holds the keys whose live row a commit
    after ``s`` wrote."""
    import pyarrow.parquet as pq

    from pocket_etl_spark import lake

    monkeypatch.setattr(lake, "_FOLD_AT", 3)
    if task_rows is not None:
        monkeypatch.setattr(lake, "_TASK_ROWS", task_rows)
    cols = "lsn long, op string, repo string, path string, content string"
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=4)
    paths = [f"p{i:02d}" for i in range(20)]
    live = {}  # path -> (lsn, deleted, the commit that wrote its live row)

    def ev(lsn, op, path):
        return (lsn, op, "r", path, None if op == "D" else f"{path}@{lsn}")

    def merge(batch, n):
        res = table.merge(spark.createDataFrame(batch, cols), batch_id=n)
        v = res.version
        for lsn, op, _, p, _ in sorted(batch):
            if p not in live or lsn > live[p][0]:
                live[p] = (lsn, op == "D", v)
        files = [f for f in table._manifest(v)["files"] if lake._commit_of(f) == v]
        rows = [
            r for f in files
            for r in pq.read_table(os.path.join(table.path, f), columns=["path", "_version"]).to_pylist()
        ]
        assert {r["path"] for r in rows if r["_version"] == v} == {p for p, s in live.items() if s[2] == v}
        older = [r for r in rows if r["_version"] != v]
        assert all(r["_version"] < v for r in older), older
        assert not older or res.stats["buckets_folded"], older
        windows = None
        for s in range(v):
            w = table.read_changes(s, v).select(F.lit(s).alias("s"), "path", "lsn", "_change_type", "_commit_version")
            windows = w if windows is None else windows.unionByName(w)
        assert sorted(tuple(r) for r in windows.collect()) == sorted(
            (s, p, lsn, "delete" if d else "upsert", c) for s in range(v) for p, (lsn, d, c) in live.items() if c > s
        ), v
        return res

    merge([ev(10 + i, "I", p) for i, p in enumerate(paths)], 0)
    res = merge([ev(100 + i, "U", p) for i, p in enumerate(paths[:10])], 1)
    assert res.stats["stored_files_scanned"] == 0 and not res.stats["buckets_folded"]
    assert (res.stats["files_written"] == 1) == (task_rows is None), res.stats
    # late events: p00 loses to its stored row, p10..p14 beat theirs
    res = merge([ev(5, "U", paths[0])] + [ev(50 + i, "U", p) for i, p in enumerate(paths[10:15])], 2)
    assert res.stats["stored_files_scanned"] > 0 and not res.stats["buckets_folded"], res.stats
    res = merge([ev(200 + i, "U", p) for i, p in enumerate(paths)] + [ev(300, "D", paths[3])], 3)
    assert res.stats["buckets_folded"] > 0, res.stats


def test_driver_and_spark_written_files_round_trip_every_type(spark, tmp_table_path, monkeypatch):
    """A steady merge's part file is written on the driver by pyarrow, every
    other write by Spark, and one table holds both kinds of file. Through a
    Spark-written first merge (``_TASK_ROWS`` = 1), driver-written deltas,
    and an int -> long widening that rewrites every stored bucket (driver-
    and Spark-written files alike) in Spark, a column of every type reads
    back as it was merged: ``read()`` and every change-feed window ``(s, t]``
    equal the LWW state. Some rows hold NULL in every column, and a struct
    whose fields are declared non-null is NULL in some rows (a plain
    ``toArrow()`` refuses it)."""
    import datetime as dt
    from decimal import Decimal

    from pocket_etl_spark import lake

    cols = (
        "i int, l long, s short, b byte, f float, d double, z boolean, str string, "
        "bin binary, dt date, ts timestamp, ntz timestamp_ntz, d1 decimal(10,2), "
        "d2 decimal(38,10), arr array<int>, m map<string,bigint>, st struct<a:int,c:string>, "
        "nn struct<a:int not null,c:string not null>, w {}"
    )
    keys = ("repo", "path")

    def row(lsn, op, k, n):
        x = 10 * k + n
        vals = [
            x, x * 2**33, x - 100, x % 100 - 50, x / 4, x / 3, x % 2 == 0, f"s{x}",
            bytes([x % 256, 0, 255]), dt.date(1500 + x, 1 + x % 12, 1),
            dt.datetime(1900, 1, 1) + dt.timedelta(seconds=x * 3601.5),
            dt.datetime(2020, 2, 29) + dt.timedelta(microseconds=x),
            Decimal(x) / 100, Decimal(x) + Decimal("0.0123456789"), [x, None], {f"k{x}": x},
            (x, None), None if x % 3 == 0 else (x, f"c{x}"), x,
        ]
        if (k + n) % 7 == 0:
            vals = [None] * len(vals)
        return (lsn, op, "r", f"p{k:02d}", *vals)

    base = spark.createDataFrame([], f"lsn long, repo string, path string, {cols.format('int')}")
    table = lake.ParquetLakeTable(spark, tmp_table_path, num_buckets=8, schema=base.schema)
    history = {}  # key -> [(version, op, row dict without op)]
    # (batch, its events as (op, key), w's type, written by the driver)
    plan = [
        ([("I", k) for k in range(24)], "int", False),
        ([("U", k) for k in range(12)], "int", True),
        ([("D", 3)] + [("U", k) for k in range(12, 18)], "int", True),
        ([("U", k) for k in range(5, 10)], "long", False),  # widens w: folds every bucket
        ([("U", k) for k in (0, 1, 2, 4)] + [("I", 3)], "long", True),
    ]
    for n, (events, w, driver) in enumerate(plan):
        rows = [row(100 * n + j, op, k, n) for j, (op, k) in enumerate(events)]
        df = spark.createDataFrame(rows, f"lsn long, op string, repo string, path string, {cols.format(w)}")
        with monkeypatch.context() as m:
            if n == 0:
                m.setattr(lake, "_TASK_ROWS", 1)
            res = table.merge(df, batch_id=n)
        version_dir = os.path.join(table.path, "data", f"v{res.version:012d}")
        assert ("_SUCCESS" not in os.listdir(version_dir)) == driver, os.listdir(version_dir)
        for r in df.collect():
            d = r.asDict(recursive=True)
            history.setdefault(tuple(d[c] for c in keys), []).append((res.version, d.pop("op"), d))

    def state(s, t):
        """Each key's last event committed in (s, t]."""
        out = {}
        for key, hist in history.items():
            last = [h for h in hist if h[0] <= t]
            if last and last[-1][0] > s:
                out[key] = last[-1]
        return out

    def rows_of(df):
        return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: (d["repo"], d["path"]))

    v = table.current_version()
    assert rows_of(table.read()) == sorted(
        (d for _, op, d in state(0, v).values() if op != "D"), key=lambda d: (d["repo"], d["path"])
    )
    for t in range(1, v + 1):
        for s in range(t):
            want = [
                {**d, "_change_type": "delete" if op == "D" else "upsert", "_commit_version": ver}
                for ver, op, d in state(s, t).values()
            ]
            assert rows_of(table.read_changes(s, t)) == sorted(
                want, key=lambda d: (d["repo"], d["path"])
            ), (s, t)
