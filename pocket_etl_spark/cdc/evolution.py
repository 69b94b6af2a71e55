"""Schema evolution: promote tunnel fields to columns, widen types, conform frames.

The reference's envelope lets new fields "tunnel" through stages untouched
(EtlStreamObject.java:93-107,122-134); schema evolution there is implicit — new map
keys simply appear. In a schema-first lake that becomes an explicit, driver-side step
(SURVEY.md §4.2.4): before each merge we diff the batch schema against the table
schema, ADD new columns and widen conflicting numeric types (int→long→double lattice,
schema.widen), then cast both sides to the unified schema. Existing rows read NULL for
added columns — exactly what Iceberg's ADD COLUMN does."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pocket_etl_spark.schema import widen

EXTRAS_COL = "extras"
PROMOTE_PREFIX = "new_col_"


def promote_extras(df: DataFrame, keys: list[str], extras_col: str = EXTRAS_COL) -> DataFrame:
    """Lift the tunnel fields ``keys`` out of the extras map into real (string)
    columns (``apply_batch`` finds the batch's ``new_col_*`` keys in its stats pass).

    Type refinement happens later via the widen lattice if a typed batch arrives;
    strings are the safe landing type (reference parity: all tunnel values are
    Jackson strings)."""
    if not keys:
        return df
    return df.withColumns({k: F.col(extras_col).getItem(k) for k in keys})


def unify_schemas(table_schema: T.StructType, batch_schema: T.StructType) -> T.StructType:
    """Table schema ∪ batch schema with type widening on conflicts.

    Column order: table columns first (stable layout), then new batch columns in
    batch order — matches Iceberg ALTER TABLE ADD COLUMN semantics."""
    fields: list[T.StructField] = []
    batch_by_name = {f.name: f for f in batch_schema.fields}
    for f in table_schema.fields:
        b = batch_by_name.get(f.name)
        if b is None or b.dataType == f.dataType:
            fields.append(f)
        else:
            fields.append(T.StructField(f.name, widen(f.dataType, b.dataType), True))
    known = {f.name for f in fields}
    for f in batch_schema.fields:
        if f.name not in known:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def as_nullable(t: T.DataType) -> T.DataType:
    """``t`` with every nested field, array element and map value nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, as_nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(as_nullable(t.keyType), as_nullable(t.valueType), True)
    return t


def conform_to(df: DataFrame, schema: T.StructType, keep_extra: list[str] | None = None) -> DataFrame:
    """Project/cast ``df`` to ``schema``: missing columns become typed NULLs,
    conflicting types are cast (safe by construction — widen only widens).
    A column whose type differs only in nested nullability is kept as it is:
    Spark reads every nested field of a stored file as nullable, and it
    refuses a cast to a non-null one. ``keep_extra`` columns (e.g. the op
    column) ride along untouched. A frame that already is ``schema`` (names
    and types, in order) followed by its present ``keep_extra`` columns comes
    back as it is."""
    have = set(df.columns)
    extras = [c for c in keep_extra or [] if c in have]
    if df.columns == schema.names + extras and all(
        df.schema[f.name].dataType == f.dataType for f in schema.fields
    ):
        return df
    cols = []
    for f in schema.fields:
        if f.name in have:
            col = F.col(f.name)
            if as_nullable(df.schema[f.name].dataType) != as_nullable(f.dataType):
                col = col.cast(f.dataType)
            cols.append(col.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols, *extras)
