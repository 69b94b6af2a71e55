"""Schema evolution: widen lattice, schema unification, tunnel-field promotion,
and end-to-end add/widen through the merge (SURVEY.md §4.2.4, §5)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pocket_etl_spark.cdc.apply import apply_batch
from pocket_etl_spark.cdc.evolution import conform_to, promote_extras, unify_schemas
from pocket_etl_spark.datagen import gen_change_events, with_schema_evolution
from pocket_etl_spark.lake import ParquetLakeTable
from pocket_etl_spark.schema import widen


def test_widen_lattice():
    assert widen(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen(T.LongType(), T.DoubleType()) == T.DoubleType()
    assert widen(T.ByteType(), T.ShortType()) == T.ShortType()
    assert widen(T.FloatType(), T.DoubleType()) == T.DoubleType()
    # outside the numeric lattice → string fallback
    assert widen(T.LongType(), T.StringType()) == T.StringType()
    assert widen(T.BooleanType(), T.IntegerType()) == T.StringType()
    # date/timestamp unify to timestamp
    assert widen(T.DateType(), T.TimestampType()) == T.TimestampType()
    assert widen(T.DoubleType(), T.DoubleType()) == T.DoubleType()


def test_unify_schemas_add_and_widen():
    table = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
    )
    batch = T.StructType(
        [T.StructField("v", T.LongType()), T.StructField("extra", T.DoubleType())]
    )
    out = unify_schemas(table, batch)
    names = [f.name for f in out.fields]
    assert names == ["k", "v", "extra"]  # table order first, additions appended
    assert out["v"].dataType == T.LongType()  # widened
    assert out["extra"].dataType == T.DoubleType()  # added


def test_conform_fills_missing_and_casts(spark):
    df = spark.createDataFrame([{"k": "a", "v": 1}])
    target = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("w", T.DoubleType()),
        ]
    )
    row = conform_to(df, target).collect()[0]
    assert row["v"] == 1 and row["w"] is None
    conformed = conform_to(df, target)
    assert conformed.schema["v"].dataType == T.LongType()
    # a frame already in the target's names and types (then the kept extras)
    # comes back as it is
    assert conform_to(conformed, target) is conformed
    extra = conformed.withColumn("op", F.lit("U"))
    assert conform_to(extra, target, keep_extra=["op", "absent"]) is extra
    assert conform_to(extra, target).columns == ["k", "v", "w"]


def test_promote_extras_lifts_tunnel_keys(spark):
    ev = with_schema_evolution(
        gen_change_events(spark, 200, 20, seed=4), from_lsn=100
    )
    out = promote_extras(ev, keys=["new_col_score"])
    assert "new_col_score" in out.columns
    pdf = out.select("lsn", "new_col_score").toPandas()
    assert pdf[pdf.lsn < 100]["new_col_score"].isna().all()
    assert pdf[pdf.lsn >= 100]["new_col_score"].notna().all()


def test_merge_widens_table_schema_end_to_end(spark, tmp_table_path):
    """Batch 1 defines a column as int; batch 2 sends the same column as
    double → the table schema widens and old rows read back as double."""
    schema = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    b1 = spark.createDataFrame(
        [{"lsn": 1, "op": "I", "repo": "r", "path": "a", "commit": "c", "lang": "py", "content": "x"}],
        schema,
    ).withColumn("score", F.lit(7).cast("int"))
    table.merge(b1, batch_id=0)
    assert table.schema()["score"].dataType == T.IntegerType()

    b2 = spark.createDataFrame(
        [{"lsn": 2, "op": "I", "repo": "r", "path": "b", "commit": "c", "lang": "py", "content": "y"}],
        schema,
    ).withColumn("score", F.lit(2.5).cast("double"))
    table.merge(b2, batch_id=1)
    assert table.schema()["score"].dataType == T.DoubleType()
    got = {r["path"]: r["score"] for r in table.read().collect()}
    assert got == {"a": 7.0, "b": 2.5}


def test_tunnel_promotion_through_apply(spark, tmp_table_path):
    """Events that grow a new tunnel field mid-stream: after apply, the field is
    a real table column, null for rows last touched before the evolution point."""
    ev = with_schema_evolution(gen_change_events(spark, 600, 40, seed=6), from_lsn=300)
    table = ParquetLakeTable(spark, tmp_table_path, num_buckets=2)
    apply_batch(ev.filter("lsn <= 300"), table, batch_id=0)
    apply_batch(ev.filter("lsn > 300"), table, batch_id=1)
    assert "new_col_score" in [f.name for f in table.schema().fields]
    pdf = table.read().toPandas()
    assert pdf[pdf.lsn >= 300]["new_col_score"].notna().all()
    assert pdf[pdf.lsn < 300]["new_col_score"].isna().all()


def test_array_column_round_trips_through_merge(spark, tmp_path):
    """VERDICT r2 #8 (Postgres text[] analogue, SURVEY §1.2): an
    array<string> column survives JSON source → lake merge → read-back with
    its type intact, and arrays widen ELEMENT-WISE (array<int> ∪ array<long>
    = array<long>), never collapsing to string."""
    import pyspark.sql.types as T

    from pocket_etl_spark.lake import ParquetLakeTable
    from pocket_etl_spark.sources import JsonExtractor

    p = tmp_path / "ev.jsonl"
    p.write_text(
        '{"lsn": 1, "op": "I", "repo": "r", "path": "a", "tags": ["x", "y z"], "sizes": [1, 2]}\n'
        '{"lsn": 2, "op": "I", "repo": "r", "path": "b", "tags": [], "sizes": null}\n'
    )
    batch1 = JsonExtractor(
        str(p),
        "lsn long, op string, repo string, path string, tags array<string>, sizes array<int>",
    ).to_df(spark)
    table = ParquetLakeTable(spark, str(tmp_path / "arr_t"), num_buckets=2)
    table.merge(batch1, batch_id=0)
    sch = {f.name: f.dataType for f in table.schema().fields}
    assert sch["tags"] == T.ArrayType(T.StringType())
    got = {r["path"]: (r["tags"], r["sizes"]) for r in table.read().collect()}
    assert got == {"a": (["x", "y z"], [1, 2]), "b": ([], None)}

    # widening batch: sizes arrives as array<long> → element-wise widen
    batch2 = spark.createDataFrame(
        [(3, "U", "r", "a", ["x"], [2**40])],
        "lsn long, op string, repo string, path string, tags array<string>, sizes array<long>",
    )
    table.merge(batch2, batch_id=1)
    sch2 = {f.name: f.dataType for f in table.schema().fields}
    assert sch2["sizes"] == T.ArrayType(T.LongType())
    got2 = {r["path"]: r["sizes"] for r in table.read().collect()}
    assert got2 == {"a": [2**40], "b": None}


def test_pg_array_literal_parses_from_csv(spark, tmp_path):
    """CSV/JDBC can only carry Postgres arrays as their literal wire format —
    pg_array_column parses '{a,b,"c d"}' into a typed array, JVM-side."""
    from pocket_etl_spark.sources import CsvExtractor, pg_array_column

    p = tmp_path / "pg.csv"
    # Spark CSV's default quote-escape is backslash (not RFC 4180 doubling)
    p.write_text(
        'id,tags,nums\n'
        '1,"{a,b,\\"c d\\"}","{1,2,3}"\n'
        '2,{},{}\n'
        '3,,\n'
    )
    df = CsvExtractor(str(p), schema="id int, tags string, nums string").to_df(spark)
    out = pg_array_column(pg_array_column(df, "tags"), "nums", element_type="int")
    got = {r["id"]: (r["tags"], r["nums"]) for r in out.collect()}
    assert got == {
        1: (["a", "b", "c d"], [1, 2, 3]),
        2: ([], []),
        3: (None, None),
    }
    assert dict(out.dtypes)["nums"] == "array<int>"


def test_evolution_ddl_renders_array_types():
    """The Iceberg DDL path renders array adds/widens correctly."""
    import pyspark.sql.types as T

    from pocket_etl_spark.lake import evolution_ddl

    cur = T.StructType([T.StructField("id", T.LongType())])
    inc = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    stmts = evolution_ddl("t", cur, inc)
    assert stmts == ["ALTER TABLE t ADD COLUMNS (tags array<string>)"]
    cur2 = T.StructType([T.StructField("sizes", T.ArrayType(T.IntegerType()))])
    inc2 = T.StructType([T.StructField("sizes", T.ArrayType(T.LongType()))])
    assert evolution_ddl("t", cur2, inc2) == [
        "ALTER TABLE t ALTER COLUMN sizes TYPE array<bigint>"
    ]


def test_pg_array_null_tokens_and_escaped_quotes(spark):
    """ADVICE r3: an UNQUOTED NULL element is SQL NULL (pg wire format), a
    quoted "NULL" stays the string; backslash-escaped quotes/backslashes inside
    quoted elements unescape."""
    from pocket_etl_spark.sources import pg_array_column

    df = spark.createDataFrame(
        [
            ('{a,NULL,"NULL"}',),
            ('{"say \\"hi\\"","back\\\\slash"}',),
            ('{"a\\""}',),  # ADVICE r4: element ENDING in an escaped quote
            ('{"\\"lead","\\\\"}',),  # leading escaped quote; lone backslash
            ('{"unterminated}',),  # malformed: kept verbatim, not half-stripped
            ("{}",),
            (None,),
        ],
        "tags string",
    )
    rows = pg_array_column(df, "tags").collect()
    assert rows[0]["tags"] == ["a", None, "NULL"]
    assert rows[1]["tags"] == ['say "hi"', "back\\slash"]
    assert rows[2]["tags"] == ['a"']
    assert rows[3]["tags"] == ['"lead', "\\"]
    assert rows[4]["tags"] == ['"unterminated']
    assert rows[5]["tags"] == []
    assert rows[6]["tags"] is None
