"""Sources — the reference's Extractor inventory (SURVEY.md §2.1) as Spark readers.

Each class implements ``to_df(spark) -> DataFrame`` — the pull-based
``Extractor.next()`` contract (Extractor.java:29-59) becomes a declarative scan
whose batching/buffering Spark owns. All are lazy: nothing is read until an
action runs, and filters/projections applied downstream push into the scan.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class IterableExtractor:
    """Wraps an in-memory iterable of dict rows
    (extractor/IterableExtractor.java:34-77, IteratorExtractor.java:30-47)."""

    rows: Iterable[dict]
    schema: T.StructType | str | None = None

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = list(self.rows)
        if self.schema is not None:
            return spark.createDataFrame(rows, schema=self.schema)
        return spark.createDataFrame(rows)


@dataclass
class CsvExtractor:
    """CSV files → typed rows (extractor/CsvInputStreamMapper.java:35-94):
    configurable separator, header row, and the reference's
    FAIL_ON_MISSING_COLUMNS via FAILFAST mode (CsvInputStreamMapper.java:80-81).
    S3: pass s3a:// paths — Hadoop S3A replaces S3BufferedInputStream's
    whole-object buffering (S3BufferedExtractor.java:40-106)."""

    path: str
    schema: T.StructType | str | None = None
    sep: str = ","
    header: bool = True
    fail_on_malformed: bool = True
    extras_col: str | None = None

    def to_df(self, spark: SparkSession) -> DataFrame:
        if self.schema is not None and self.extras_col is not None:
            # Unknown-column catch-all (EtlBeanMapper.java:46-49,100-112: the
            # secondary mapper tunnels undeclared columns into a dynamic Map):
            # read raw strings by header name, cast the declared columns, pack
            # every undeclared column into a map<string,string>. Undeclared
            # columns only exist by NAME, so this path requires a header row.
            if not self.header:
                raise ValueError(
                    "CsvExtractor(extras_col=...) requires header=True: "
                    "undeclared columns are identified by header name"
                )
            schema = (
                T.StructType.fromDDL(self.schema)
                if isinstance(self.schema, str)
                else self.schema
            )
            raw = (
                spark.read.option("sep", self.sep)
                .option("header", "true")
                .csv(self.path)
            )
            declared = {f.name for f in schema.fields}
            undeclared = [c for c in raw.columns if c not in declared]
            kv = [x for c in undeclared for x in (F.lit(c), F.col(c))]
            # fail_on_malformed maps to the cast, not the reader, on this path:
            # under ANSI SQL (Spark 4 default) a plain cast of a bad value
            # fails the job (FAILFAST analogue); try_cast degrades it to NULL.
            cast = (
                (lambda f: F.col(f.name).cast(f.dataType))
                if self.fail_on_malformed
                else (lambda f: F.col(f.name).try_cast(f.dataType))
            )
            return raw.select(
                *[cast(f).alias(f.name) for f in schema.fields],
                F.create_map(*kv).alias(self.extras_col),
            )
        r = (
            spark.read.option("sep", self.sep)
            .option("header", str(self.header).lower())
            .option("mode", "FAILFAST" if self.fail_on_malformed else "PERMISSIVE")
        )
        if self.schema is not None:
            r = r.schema(self.schema)
        else:
            r = r.option("inferSchema", "true")
        return r.csv(self.path)


@dataclass
class JsonExtractor:
    """JSON-lines files → rows (extractor/JSONStringMapper.java:48-87). The
    reference maps one JSON string per record, case-insensitively, ignoring
    unknown fields — spark.read.json with an explicit schema does the same
    (unknown keys dropped, missing keys null)."""

    path: str
    schema: T.StructType | str | None = None
    extras_col: str | None = None

    def to_df(self, spark: SparkSession) -> DataFrame:
        if self.schema is not None and self.extras_col is not None:
            # Unknown-key catch-all (EtlBeanMapper.java:46-49 analogue): parse
            # the line against the declared schema AND against map<string,string>,
            # keep only undeclared keys in the map. One pass over the text; both
            # from_json calls are JVM-side.
            schema = (
                T.StructType.fromDDL(self.schema)
                if isinstance(self.schema, str)
                else self.schema
            )
            declared = [f.name for f in schema.fields]
            raw = spark.read.text(self.path)
            return raw.select(
                F.from_json("value", schema).alias("_r"),
                F.map_filter(
                    F.from_json("value", "map<string,string>"),
                    lambda k, _v: ~k.isin(*declared),
                ).alias(self.extras_col),
            ).select("_r.*", self.extras_col)
        r = spark.read
        if self.schema is not None:
            r = r.schema(self.schema)
        return r.json(self.path)


def pg_array_column(
    df: DataFrame, col: str, out: str | None = None, element_type: str = "string"
) -> DataFrame:
    """Parse a Postgres array literal column (``{a,b,"c d"}``, the wire format
    PostgresStringArrayArgumentFactory.java:31-62 binds a List<String> to) into
    a typed ``array<element_type>`` column — the read-side inverse, for flat
    sources like CSV/JDBC that can only carry the serialized form.

    All JVM-side: strip braces, split, trim whitespace, then per element:
    a QUOTED element is recognized as a whole (``^"((?:\\.|[^"\\])*)"$`` — the
    closing quote must be unescaped, so ``"a\\""`` parses to ``a"`` rather
    than losing the escaped quote, ADVICE r4) and its body unescaped
    (``\\"`` → ``"``, ``\\\\`` → ``\\``); an UNQUOTED element is cast as-is
    (pg quotes any element containing specials, so unquoted text carries no
    escapes). A column-level NULL and ``{}`` map to NULL and empty array; an
    UNQUOTED ``NULL`` token means SQL NULL per the pg wire format (a quoted
    ``"NULL"`` stays the string). A malformed element (e.g. a lone leading
    quote) is kept verbatim rather than half-stripped.
    Limitation (documented): elements containing a literal comma must arrive
    via a structured source (JSON/parquet) instead — CSV-borne pg literals
    with embedded commas are ambiguous without a full quote-aware parser."""
    out = out or col
    body = F.regexp_replace(F.trim(F.col(col)), r"^\{|\}$", "")
    # full quoted element: body = any run of escaped chars / non-specials,
    # anchored so the terminating quote can never be an escaped one
    _QUOTED = r'^"((?:\\.|[^"\\])*)"$'

    def _elem(e):
        trimmed = F.trim(e)
        quoted_body = F.regexp_extract(trimmed, _QUOTED, 1)
        unescaped = F.regexp_replace(quoted_body, r"\\(.)", "$1")
        return (
            F.when(trimmed == "NULL", F.lit(None).cast(element_type))
            .when(trimmed.rlike(_QUOTED), unescaped.cast(element_type))
            .otherwise(trimmed.cast(element_type))
        )

    parsed = F.when(F.col(col).isNull(), F.lit(None).cast(f"array<{element_type}>")).otherwise(
        F.when(body == "", F.array().cast(f"array<{element_type}>")).otherwise(
            F.transform(F.split(body, ","), _elem)
        )
    )
    return df.withColumn(out, parsed)


def json_column(df: DataFrame, col: str, schema: T.StructType | str, out: str = "parsed") -> DataFrame:
    """JSONStringMapper as a mid-stream transform: parse a JSON string column
    into a struct (the SqsExtractor's messageMapper shape,
    extractor/SqsExtractor.java:88)."""
    return df.withColumn(out, F.from_json(F.col(col), schema))


@dataclass
class ParquetExtractor:
    """Columnar scan of one of the engine's tables or any parquet path."""

    path: str

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


import re as _re


def _sub_hash_params(sql: str, repl) -> str:
    """Walk ``sql`` replacing each ``#name`` OUTSIDE string literals with
    ``repl(name)``. The literal scanner honors Spark's default escape rules:
    a backslash inside a literal escapes the next character (so ``\\'`` does
    NOT close the string — the hole the round-2 advisor flagged), and ``''``
    self-closes/reopens, which the plain toggle already handles."""
    out, in_str = [], False
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_str and ch == "\\" and i + 1 < len(sql):
            out.append(sql[i : i + 2])
            i += 2
            continue
        if ch == "'":
            in_str = not in_str
            out.append(ch)
        elif ch == "#" and not in_str:
            m = _re.match(r"#([A-Za-z_][A-Za-z0-9_]*)", sql[i:])
            if m:
                out.append(repl(m.group(1)))
                i += m.end()
                continue
            out.append(ch)
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def rewrite_hash_params(sql: str) -> str:
    """Reference parameter syntax ``#name`` (SqlExtractor.java:89-101) → Spark
    named parameter markers ``:name``. Skips string literals so a literal '#'
    inside quotes is untouched."""
    return _sub_hash_params(sql, lambda name: ":" + name)


def encode_sql_literal(v: Any) -> str:
    """Encode a Python value as a Spark-SQL literal, injection-safe: strings
    escape both backslash and quote (Spark string literals honor backslash
    escapes by default, so quote-doubling alone would be bypassable with a
    trailing backslash); collections expand for IN-lists."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if not math.isfinite(v):
            # repr() would emit inf/nan — not SQL literals. Refuse rather than
            # guess a semantic (the reference's prepared statements would
            # likewise fail to bind these).
            raise ValueError(f"cannot encode non-finite float {v!r} as a SQL literal")
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "(" + ", ".join(encode_sql_literal(x) for x in v) + ")"
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


def bind_sql_params(sql: str, args: dict[str, Any]) -> str:
    """Bind ``#name`` parameters as safely-encoded literals — the fallback for
    engines that cannot take server-side bound parameters (the JDBC pushdown
    path). A hostile value can never terminate its literal, so it cannot alter
    the statement (the reference's prepared-statement guarantee,
    EtlJdbi.java:44-51, re-established by encoding). Raises on unknown names."""
    def sub(name: str) -> str:
        if name not in args:
            raise KeyError(f"missing SQL parameter #{name}")
        return encode_sql_literal(args[name])

    return _sub_hash_params(sql, sub)


@dataclass
class SqlExtractor:
    """Parameterized SQL over the session's tables/views — the reference's
    SqlExtractor (extractor/SqlExtractor.java:54-158) for the lake-local case.

    ``#name`` parameters (reference syntax) are rewritten to Spark named
    parameter markers and bound via ``spark.sql(..., args=...)``: the analyzer
    binds them as literal expressions AFTER parsing, so a hostile parameter
    value can never change the statement shape — the prepared-statement
    guarantee (EtlJdbi.java:44-51), tested by the ported injection regression
    (SqlExtractorFunctionalTest.java:90-119 → tests/test_sql_params.py)."""

    sql: str
    args: dict[str, Any] = field(default_factory=dict)

    def to_df(self, spark: SparkSession) -> DataFrame:
        q = rewrite_hash_params(self.sql)
        return spark.sql(q, args=self.args) if self.args else spark.sql(q)


@dataclass
class JdbcExtractor:
    """SqlExtractor against a JDBC source (extractor/SqlExtractor.java:54-158):
    the full query pushes down to the database. ``#name`` parameters are bound
    as safely-encoded literals (bind_sql_params) before pushdown — Spark's JDBC
    reader offers no server-side prepared parameters, so literal encoding is
    the injection barrier (same guarantee, different mechanism; binder is
    hermetically tested). JDBC connectivity itself is untestable in this
    sandbox (no database); kept thin over spark.read.jdbc."""

    url: str
    query: str
    properties: dict[str, str] = field(default_factory=dict)
    args: dict[str, Any] = field(default_factory=dict)

    def to_df(self, spark: SparkSession) -> DataFrame:  # pragma: no cover
        q = bind_sql_params(self.query, self.args) if self.args else self.query
        return spark.read.format("jdbc").options(
            url=self.url, query=q, **self.properties
        ).load()


class FileQueueExtractor:
    """Queue-tail source — the SqsExtractor re-expressed over a directory of
    message files (extractor/SqsExtractor.java:58-247).

    Reference semantics preserved:
    - ``batch_size_limit`` caps one run's intake (visibility-timeout
      protection, SqsExtractor.java:124-126 → maxFilesPerTrigger analogue);
    - duplicate deliveries are eliminated by message digest
      (LinkedHashSet dedupe, SqsExtractor.java:190-232);
    - consumed messages are deleted only at ``commit()`` after the batch is
      durably loaded — at-least-once with commit-on-close
      (delete-on-close, SqsExtractor.java:239-247). A crash before commit()
      re-delivers the whole batch; the lake's batch-id fencing makes the
      replay a no-op (lake.py merge).
    """

    def __init__(self, dir_path: str, schema: T.StructType | str, batch_size_limit: int | None = None):
        self.dir_path = dir_path
        self.schema = schema
        self.batch_size_limit = batch_size_limit
        self._claimed: list[str] = []

    def to_df(self, spark: SparkSession) -> DataFrame:
        names = sorted(
            f for f in os.listdir(self.dir_path) if not f.startswith(("_", "."))
        )
        if self.batch_size_limit is not None:
            names = names[: self.batch_size_limit]
        self._claimed = [os.path.join(self.dir_path, f) for f in names]
        if not self._claimed:
            return spark.createDataFrame([], self.schema)
        df = spark.read.schema(self.schema).json(self._claimed)
        # duplicate-delivery elimination: same logical message delivered twice
        # (possibly as two files) collapses to one record
        return df.dropDuplicates()

    def commit(self) -> int:
        """Delete consumed messages (call after the sink commit)."""
        n = 0
        for p in self._claimed:
            try:
                os.remove(p)
                n += 1
            except FileNotFoundError:
                pass
        self._claimed = []
        return n

