"""Every queries() entry vs its DuckDB oracle at sf0.001 (fast smoke of the
driver's sf0.01 gate; tools/check_oracle.py runs the full-size version)."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

spec = importlib.util.spec_from_file_location("entrymod", os.path.join(REPO, "__spark_entry__.py"))
entrymod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entrymod)

from pocket_etl_spark.oracle import compare_frames, duckdb_oracle  # noqa: E402

QUERY_NAMES = sorted(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    fn = entrymod.queries()[name]
    got = fn(spark, SF_DIR).toPandas()
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        pytest.skip("rows-only query (no SQL oracle)")
    want = duckdb_oracle(sql, SF_DIR)
    problems = compare_frames(got, want)
    assert not problems, f"{name}: {problems}"


def test_change_feed_not_shared_across_same_named_datasets(spark, tmp_path):
    """Two datasets whose directories share a basename (``sf0.001``) but hold
    different events must each get their own change feed in one process —
    never an artifact built from the other dataset."""
    import duckdb

    from pocket_etl_spark.queries import ORACLE_SQL, QUERIES

    sql = ORACLE_SQL["cdc_change_feed"]
    for variant, mod in (("a", 3), ("b", 5)):
        sf = tmp_path / variant / "sf0.001"
        sf.mkdir(parents=True)
        for f in os.listdir(SF_DIR):
            if f != "events.parquet":
                os.symlink(os.path.join(SF_DIR, f), sf / f)
        duckdb.sql(
            f"COPY (SELECT * FROM '{SF_DIR}/events.parquet' WHERE event_id % {mod} != 0) "
            f"TO '{sf / 'events.parquet'}' (FORMAT parquet)"
        )
    for variant in ("a", "b"):
        sf = str(tmp_path / variant / "sf0.001")
        got = QUERIES["cdc_change_feed"](spark, sf).toPandas()
        problems = compare_frames(got, duckdb_oracle(sql, sf))
        assert not problems, f"{variant}: {problems}"


def test_scratch_root_is_per_process_and_removed_at_exit():
    """Each process gets its own scratch root, and the root is gone once the
    process exits."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from pocket_etl_spark import queries\n"
        "os.makedirs(queries._scratch('probe', '/data/sf1'))\n"
        "print(queries._SCRATCH_ROOT)\n"
    )
    roots = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
            check=True,
        )
        roots.append(out.stdout.strip().splitlines()[-1])
    assert roots[0] != roots[1]
    for root in roots:
        assert root and not os.path.exists(root), root
