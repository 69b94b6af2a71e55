"""EtlStream — the reference's fluent pipeline API re-expressed over DataFrames.

pocket-etl's user surface is a fluent, immutable builder:

    EtlStream.extract(extractor)
             .transform(Data.class, t).withThreads(10)
             .load(Data.class, loader)
             .run();                      (README.md:14-35, EtlStream.java:33-40)

This module provides the same surface, Spark-first. The stream IS a DataFrame
lineage: build = logical plan, ``run()`` = action. Parity map (file:line into
/root/reference):

- extract/multi-extract fan-in    → DataFrame / unionByName
  (EtlStream.java:147-181, EtlExtractStage.java:67-72)
- combine()                       → unionByName(allowMissingColumns=True)
  (EtlStream.java:98-118, EtlCombineStage.java:55-61, README.md:81-99)
- transform 1→1 / 1→0 / 1→N      → declarative fn(df)->df, Arrow map_rows,
  explode (Transformer.java:31-61, TransformerEtlConsumer.java:101-107)
- attribute tunnelling            → transforms overwrite only their declared
  view columns; all others are carried untouched (EtlStreamObject.java:98-134)
- FilterTransformer / ContainsFilter(.negate) → filter / broadcast left_semi /
  left_anti (transformer/FilterTransformer.java:32-66,
  transformer/filter/ContainsFilter.java:26-37)
- Lookup                          → broadcast dimension join
  (lookup/CachingLoaderLookup.java:38-144 — the blocking build-side barrier is
  exactly Spark's broadcast exchange)
- load(loader)                    → terminal sink stage; stream is terminated,
  enforced (EtlLoadStage.java:90-92, EtlStream.java:292-296)
- withName / withThreads / withObjectLogger → query naming, repartition hint,
  DLQ payload formatter (EtlConsumerStage.java:58-85)
- error routing: a recoverable per-record failure leaves the stream at the
  stage that failed it (``_compile``) and the stream continues; later stages
  never see it; unrecoverable aborts (TransformerEtlConsumer.java:90-99,
  LoaderEtlConsumer.java:72-80,
  exception/UnrecoverableStreamFailureException.java:27-52,
  functionalTests/StreamFailureTest.java:50-190)
- per-stage recordsProcessed metrics → pyspark Observation per stage
  (MetricsEmissionEtlConsumer.java:44-61, EtlMetrics.java:25-53)

Scale notes: every stage stays declarative (Catalyst sees through the whole
chain — pushdown/pruning cross stage boundaries); Python transforms are
Arrow-vectorized ``mapInPandas`` only (never per-row Python). The per-record
error channel costs one persist per ``map_rows`` stage on a clean batch; a
failing batch is retried by halves. A run's DLQ is one action on
``apply_batch``'s pair (``_route_failed``), and a clean run writes no file.
"""

from __future__ import annotations

import traceback
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pocket_etl_spark.cdc.apply import collect_dlq, write_dlq
from pocket_etl_spark.schema import DLQ_SCHEMA, DlqPayload, check_dlq_payload, dlq_records


class UnrecoverableStreamFailure(Exception):
    """Aborts the whole stream (the reference's
    UnrecoverableStreamFailureException.java:27-52). Any exception raised from a
    declarative stage is unrecoverable by construction; inside ``map_rows`` a
    user fn raises this to abort instead of routing the record to the DLQ."""


# Emitted by map_rows and RowSinkLoader's sink: NULL, or the record's error.
_ERR_COL = "_etl_error"


def _call(fn: Callable[[Any], Any], arg: Any) -> tuple[Any, str | None]:
    """``(fn(arg), None)``, or ``(None, traceback)`` when ``fn`` fails with a
    recoverable error; UnrecoverableStreamFailure propagates."""
    try:
        return fn(arg), None
    except UnrecoverableStreamFailure:
        raise
    except Exception:
        return None, traceback.format_exc(limit=1)


def _route_failed(
    stream: "EtlStream", cached: list[DataFrame], dlq_path: str | None
) -> tuple[pa.Table, int]:
    """The fluent DLQ channel, on ``apply_batch``'s pair: one action counts
    the DLQ records of the ``cached`` frames' failed rows (an
    ``Observation``) and brings them to the driver
    (``cdc.apply.collect_dlq``), filling every cache. When a record failed,
    ``cdc.apply.write_dlq`` writes them to ``dlq_path`` under a fresh
    address; past the driver's bound Spark writes them from the caches.
    Returns the collected records (past the bound, the first
    ``DLQ_DRIVER_ROWS`` of each partition) and the count of all of them."""
    dlq = reduce(DataFrame.unionByName, [
        dlq_records(
            c.filter(F.col(_ERR_COL).isNotNull()), stream._name, _ERR_COL,
            stream._object_logger, stream._dlq_key_cols,
        )
        for c in cached
    ])
    counted = Observation()
    records = collect_dlq(dlq.observe(counted, F.count(F.lit(1)).alias("n")), None)
    n = counted.get["n"]
    if n and dlq_path is not None:
        # past the bound, Spark writes them all from the caches
        write_dlq(records if records.num_rows == n else dlq, dlq_path, stream._name, None)
    return records, n


# ---------------------------------------------------------------------------
# Filters / lookups
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ContainsFilter:
    """Membership filter against a lookup dataset — the reference's only join
    (transformer/filter/ContainsFilter.java:26-37). ``negate()`` flips semi→anti
    (FilterFunctionalTest.java:83-88). The lookup side is broadcast: the
    CachingLoaderLookup "block until build side complete" barrier
    (CachingLoaderLookup.java:130-143) is Spark's broadcast exchange."""

    lookup: DataFrame
    on: str | list[str]
    negated: bool = False

    def negate(self) -> "ContainsFilter":
        return replace(self, negated=not self.negated)

    def apply(self, df: DataFrame) -> DataFrame:
        keys = [self.on] if isinstance(self.on, str) else list(self.on)
        how = "left_anti" if self.negated else "left_semi"
        return df.join(F.broadcast(self.lookup.select(*keys).distinct()), on=keys, how=how)


# ---------------------------------------------------------------------------
# Loaders (sinks)
# ---------------------------------------------------------------------------


class Loader:
    """Sink contract (Loader.java:28-57): receives the final DataFrame once —
    'close()' flush semantics are the sink's single commit."""

    def load(self, df: DataFrame, stream: "EtlStream") -> Any:  # pragma: no cover
        raise NotImplementedError


@dataclass
class BufferLoader(Loader):
    """Collects rows into a driver-side list — the reference's in-memory test
    sink (functionalTests/BufferLoader.java:25-45). Test/demo use only; real
    sinks write distributed."""

    rows: list[dict] = field(default_factory=list)

    def load(self, df: DataFrame, stream: "EtlStream") -> list[dict]:
        self.rows.extend(r.asDict(recursive=True) for r in df.collect())
        return self.rows


@dataclass
class ParquetLoader(Loader):
    """Part-file writer — S3FastLoader + ParallelLoader re-expressed
    (loader/S3FastLoader.java:62-310, loader/ParallelLoader.java:49-168): Spark
    tasks are the thread-affine part writers; ``max_records_per_file`` is the
    128 MiB part-size knob; ``on_close`` runs after all parts commit (the
    withOnCloseCallback stitch step, ParallelLoader.java:130-154)."""

    path: str
    mode: str = "append"
    max_records_per_file: int | None = None
    partition_by: tuple[str, ...] = ()
    on_close: Callable[[bool], None] | None = None

    def load(self, df: DataFrame, stream: "EtlStream") -> str:
        w = df.write.mode(self.mode)
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", self.max_records_per_file)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)
        if self.on_close is not None:
            self.on_close(True)
        return self.path


@dataclass
class CsvLoader(Loader):
    """CSV part files matching the reference's exact serialization contract
    (loader/CsvStringSerializer.java:36-125, byte-asserted by
    MockedS3FunctionalTest.java:48-58): QUOTE-FREE output (withoutQuoteChar —
    values are never wrapped, empty strings stay empty), configurable separator
    (``|`` default for the Redshift path), header on the first row of each part
    when enabled, UTC ISO timestamps."""

    path: str
    sep: str = "|"
    header: bool = False
    mode: str = "append"

    def load(self, df: DataFrame, stream: "EtlStream") -> str:
        (
            df.write.mode(self.mode)
            .option("sep", self.sep)
            .option("header", str(self.header).lower())
            .option("quote", "")  # withoutQuoteChar: never quote
            .option("emptyValue", "")  # empty string stays empty, not '""'
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
            .csv(self.path)
        )
        return self.path


@dataclass
class LakeMergeLoader(Loader):
    """Keyed upsert sink — RedshiftBulkLoader MERGE / DynamoDbLoader put-item
    (loader/RedshiftBulkLoader.java:86-375, loader/DynamoDbLoader.java:45-137)
    re-expressed as the engine's fenced LWW lake merge (lake.py). Invalid
    rows (null key/lsn, unknown op) raise ``ValueError`` before anything is
    written; route them out upstream (``cdc/apply.apply_batch`` has a DLQ)."""

    table: Any  # ParquetLakeTable | IcebergLakeTable
    batch_id: int | None = None
    query_id: str = "default"

    def load(self, df: DataFrame, stream: "EtlStream") -> Any:
        return self.table.merge(df, batch_id=self.batch_id, query_id=self.query_id)


@dataclass
class RowSinkLoader(Loader):
    """Per-record sink with logs-and-continue failure routing — DynamoDbLoader
    parity (loader/DynamoDbLoader.java:45-137: one failed put-item logs the
    record and the batch continues; the whole write never aborts for a
    recoverable per-record error).

    ``write_fn(record: dict)`` runs once per record ON THE EXECUTORS
    (partition-parallel, Arrow-batched transfer) in one action, the run's
    DLQ channel (``_route_failed``), which also counts the returned
    ``records_written``/``records_failed``; a record whose write raises goes
    to the sink DLQ (``dlq_path``). The persisted sink output feeds a DLQ
    past the driver's bound, so no record is written twice. Raise
    UnrecoverableStreamFailure inside ``write_fn`` to abort the run instead.
    The DLQ payload follows the stream's object-logger policy
    (``schema.dlq_records``): PII-safe redacted by default,
    ``with_object_logger('full')`` opts into the whole record; the keys are
    checked by ``EtlStream.run`` before ``write_fn`` runs.

    The per-record Python loop is the SINK's own contract here (a
    row-at-a-time put-item API), not a transform hot path — batch-capable
    sinks use the bulk loaders above. Exactly-once caveat is the reference's
    too: Spark may retry a failed task, so ``write_fn`` must be idempotent
    per record (DynamoDB put-item LWW is)."""

    write_fn: Callable[[dict], None]
    dlq_path: str | None = None

    def load(self, df: DataFrame, stream: "EtlStream") -> dict[str, int]:
        out_schema = T.StructType(df.schema.fields + [T.StructField(_ERR_COL, T.StringType())])
        fn = self.write_fn

        def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pdf.assign(**{_ERR_COL: [_call(fn, r)[1] for r in pdf.to_dict("records")]})

        cached = df.mapInPandas(sink, schema=out_schema).persist()
        written = Observation()
        observed = cached.observe(written, F.count_if(F.col(_ERR_COL).isNull()).alias("n"))
        try:
            _, n_failed = _route_failed(stream, [observed], self.dlq_path)
        finally:
            cached.unpersist()
        return {"records_written": written.get["n"], "records_failed": n_failed}


@dataclass
class MetricsLoader(Loader):
    """Aggregates numeric columns into counters instead of writing rows —
    loader/MetricsLoader.java:47-114. One distributed aggregate; results land in
    RunResult.sink_result."""

    counters: tuple[str, ...] = ()

    def load(self, df: DataFrame, stream: "EtlStream") -> dict[str, int]:
        cols = self.counters or [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.IntegerType, T.LongType, T.ShortType, T.ByteType))
        ]
        if not cols:
            return {"recordsProcessed": df.count()}
        row = df.agg(
            F.count(F.lit(1)).alias("recordsProcessed"),
            *[F.sum(c).alias(c) for c in cols],
        ).collect()[0]
        return {k: (0 if row[k] is None else int(row[k])) for k in row.asDict()}


# ---------------------------------------------------------------------------
# Run result
# ---------------------------------------------------------------------------


@dataclass
class RunResult:
    sink_result: Any
    metrics: dict[str, dict[str, Any]]
    dlq: DataFrame | None
    dlq_count: int


# ---------------------------------------------------------------------------
# The stream
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class _Stage:
    kind: str  # "transform" | "filter" | "observe"
    fn: Callable[[DataFrame], DataFrame] | None = None
    name: str | None = None
    partitions: int | None = None


class EtlStream:
    """Immutable fluent pipeline (EtlStream.java:33-40; immutability tested by
    ImmutabilityTest.java:31-80 — every with-er returns a NEW stream, so a
    prefix can be reused as a component).

    Build with ``EtlStream.extract(...)``, chain ``transform/filter/map_rows``,
    terminate with ``load(...)``, execute with ``run(spark)``.
    """

    def __init__(
        self,
        sources: tuple[Any, ...],
        stages: tuple[_Stage, ...] = (),
        loader: Loader | None = None,
        name: str = "etl",
        object_logger: DlqPayload = "redacted",
        observe_stages: bool = False,
        dlq_key_cols: tuple[str, ...] = (),
    ) -> None:
        self._sources = sources
        self._stages = stages
        self._loader = loader
        self._name = name
        self._object_logger = object_logger
        self._observe_stages = observe_stages
        self._dlq_key_cols = dlq_key_cols

    # ---- construction ----

    @classmethod
    def extract(cls, *sources: Any) -> "EtlStream":
        """One or more sources; several = parallel fan-in union
        (EtlStream.java:162-181). A source is a DataFrame, an unterminated
        EtlStream, or an Extractor from sources/ (anything with
        ``.to_df(spark)``)."""
        if not sources:
            raise ValueError("extract() needs at least one source")
        return cls(tuple(sources))

    @classmethod
    def combine(cls, *streams: "EtlStream") -> "EtlStream":
        """Combine whole streams (EtlStream.java:98-118): all component stages
        run, results union by name (heterogeneous schemas allowed,
        README.md:81-99), later stages apply to the combined stream. Components
        must be unterminated (EtlStream.java:298-300). A component's failed
        records join the combined run's DLQ."""
        for s in streams:
            if s._loader is not None:
                raise ValueError("cannot combine terminated streams")
        return cls(streams)

    def _copy(self, **kw: Any) -> "EtlStream":
        args = dict(
            sources=self._sources,
            stages=self._stages,
            loader=self._loader,
            name=self._name,
            object_logger=self._object_logger,
            observe_stages=self._observe_stages,
            dlq_key_cols=self._dlq_key_cols,
        )
        args.update(kw)
        return EtlStream(**args)

    def _check_open(self) -> None:
        if self._loader is not None:
            # no stages after a sink (EtlLoadStage.java:90-92)
            raise ValueError("stream is terminated by a loader")

    def then(self, stage: "EtlStream") -> "EtlStream":
        """Long-form chaining (README.md:14-21): append another (unterminated)
        stream's stages to this one."""
        self._check_open()
        return self._copy(stages=self._stages + stage._stages, loader=stage._loader)

    def transform(self, fn: Callable[[DataFrame], DataFrame], name: str | None = None) -> "EtlStream":
        """Declarative stage: fn(df) -> df. The Spark-native shape — Catalyst
        optimizes across it (Transformer.java:31-61 generalized from row to
        relation)."""
        self._check_open()
        return self._copy(stages=self._stages + (_Stage("transform", fn, name),))

    def map_rows(
        self,
        fn: Callable[[pd.DataFrame], pd.DataFrame],
        adds: dict[str, str] | None = None,
        drops: tuple[str, ...] = (),
        name: str | None = None,
    ) -> "EtlStream":
        """Arrow-vectorized row transform with attribute tunnelling + per-record
        error routing.

        ``fn`` receives a pandas batch and returns it with any subset of columns
        modified; ``adds`` declares new columns (name -> Spark DDL type);
        ``drops`` removes columns. All other columns tunnel through untouched
        (EtlStreamObject.java:98-134). 1→N fan-out: return more rows than
        received (TransformerFanoutTest.java:47-70); 1→0 filter: return fewer.

        Error semantics (StreamFailureTest.java:50-190): if ``fn`` raises for a
        batch, the engine retries its halves, down to single rows (at most
        2·⌈log₂ b⌉+1 calls per isolated bad row in a batch of b); a row that
        fails alone leaves the stream at this stage (``_compile``) for the
        run's DLQ, with the exception text and the values it had then; later
        stages never see it. ``fn``'s result for a row must not depend on the
        other rows of its batch (Arrow's batch boundaries already impose
        that). Raise UnrecoverableStreamFailure to abort the run instead."""
        self._check_open()

        def make(df: DataFrame) -> DataFrame:
            out_fields = [f for f in df.schema.fields if f.name not in drops]
            schema = T.StructType(out_fields)
            for col, ddl in (adds or {}).items():
                # StructType.add(name, str) JSON-parses the type and rejects DDL
                # shorthands ("int", "array<float>"); fromDDL accepts full DDL.
                schema = schema.add(T.StructType.fromDDL(f"`{col}` {ddl}").fields[0])
            schema = schema.add(_ERR_COL, T.StringType())
            out_cols = [f.name for f in schema.fields]

            def attempt(pdf: pd.DataFrame) -> list[pd.DataFrame]:
                out, error = _call(fn, pdf.copy())
                if error is None:
                    out[_ERR_COL] = None
                    return [out]
                if len(pdf) > 1:
                    half = len(pdf) // 2
                    return attempt(pdf.iloc[:half]) + attempt(pdf.iloc[half:])
                return [pdf.assign(**{_ERR_COL: error})]  # fails alone: leaves here

            def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    parts = attempt(pdf)
                    out = parts[0] if len(parts) == 1 else pd.concat(parts)
                    for col in out_cols:
                        if col not in out.columns:
                            out[col] = None
                    yield out[out_cols]

            return df.mapInPandas(run_batches, schema=schema)

        return self._copy(stages=self._stages + (_Stage("transform", make, name),))

    def filter(self, pred: str | Column | ContainsFilter, name: str | None = None) -> "EtlStream":
        """FilterTransformer (transformer/FilterTransformer.java:32-66):
        predicate, or lookup-backed ContainsFilter (semi/anti join)."""
        self._check_open()
        if isinstance(pred, ContainsFilter):
            fn = pred.apply
        else:
            fn = lambda df: df.filter(pred)  # noqa: E731
        return self._copy(stages=self._stages + (_Stage("filter", fn, name),))

    def explode_to_rows(self, col: str, out: str, name: str | None = None) -> "EtlStream":
        """Declarative 1→N fan-out: one output record per array element
        (Transformer list return, TransformerEtlConsumer.java:101-107)."""
        return self.transform(
            lambda df: df.withColumn(out, F.explode(F.col(col))), name=name
        )

    def load(self, loader: Loader) -> "EtlStream":
        """Terminal sink. No stages may follow (EtlStream.java:292-296)."""
        self._check_open()
        return self._copy(loader=loader)

    # ---- stage decorators (apply to the LAST added stage / whole stream) ----

    def with_name(self, name: str) -> "EtlStream":
        """Metrics/log scoping name (EtlProducerStage.java:79-84)."""
        return self._copy(name=name)

    def with_threads(self, n: int) -> "EtlStream":
        """Reference: n worker threads for the previous stage
        (EtlConsumerStage.java:73-85). Spark: a repartition hint before it —
        parallelism is otherwise free from partitioning."""
        if not self._stages:
            raise ValueError("with_threads follows a stage")
        last = self._stages[-1]
        return self._copy(stages=self._stages[:-1] + (replace(last, partitions=n),))

    def with_object_logger(self, fmt: DlqPayload) -> "EtlStream":
        """Record→string formatter for DLQ payloads (EtlConsumerStage.java:58-63),
        the same payload policy as ``apply_batch(dlq_payload=...)``
        (``schema.dlq_records``).

        The DEFAULT ``"redacted"`` mirrors the reference's PII-safe
        DefaultLoggingStrategy.java:27-36 — class/schema info only, never field
        values: the payload is the record's schema DDL plus any columns opted
        in via ``with_dlq_keys``, plus an undecodable record's ``_raw_value``.
        Full-record payloads are explicit opt-in: pass ``"full"`` for a
        JVM-side to_json of every column, or a ``dict -> str`` callable for
        custom formatting (runs as a Python UDF on the failed rows only — the
        DLQ leg, never the hot path). An unknown mode raises here, not at
        executor runtime."""
        check_dlq_payload(fmt)
        return self._copy(object_logger=fmt)

    def with_dlq_keys(self, *cols: str) -> "EtlStream":
        """Columns the PII-safe default DLQ payload may include (business keys
        an operator needs to find the poisoned record). All other fields stay
        redacted unless with_object_logger('full') opts the stream out. An
        unknown column fails ``run`` before the loader runs."""
        return self._copy(dlq_key_cols=tuple(cols))

    def with_stage_metrics(self, enabled: bool = True) -> "EtlStream":
        """Emit per-stage recordsProcessed counters
        (MetricsEmissionEtlConsumer.java:44-61) via pyspark Observations."""
        return self._copy(observe_stages=enabled)

    # ---- compile & run ----

    def _compile(
        self, spark: SparkSession
    ) -> tuple[DataFrame, list[tuple[str, Observation]], list[DataFrame]]:
        """Compile the stage chain to a DataFrame (logical plan). The reference
        compiles sink-to-source into a consumer graph (EtlStageChain.java:53-69);
        here Catalyst owns physical planning. Returns ``(clean, observations,
        cached)``: the persisted output of every stage (component streams
        included) that emits the error column, whose failed records
        ``_route_failed`` takes."""
        dfs, cached = [], []
        for src in self._sources:
            if isinstance(src, EtlStream):
                cdf, _, caches = src._compile(spark)
                dfs.append(cdf)
                cached += caches
            elif isinstance(src, DataFrame):
                dfs.append(src)
            elif hasattr(src, "to_df"):
                dfs.append(src.to_df(spark))
            else:
                raise TypeError(f"not a source: {src!r}")
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)

        observations: list[tuple[str, Observation]] = []
        if self._observe_stages:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("recordsProcessed"))
            observations.append(("extract", obs))
        for i, st in enumerate(self._stages):
            if st.partitions:
                df = df.repartition(st.partitions)
            df = st.fn(df)
            if self._observe_stages:
                obs = Observation()
                df = df.observe(obs, F.count(F.lit(1)).alias("recordsProcessed"))
                observations.append((st.name or f"{st.kind}_{i}", obs))
            if _ERR_COL in df.columns:
                # a failed record leaves the stream here, with the columns it
                # had then: the next stage and the DLQ read one persisted frame,
                # so the stage runs once and a record lands in exactly one leg
                cached.append(df.persist())
                df = cached[-1].filter(F.col(_ERR_COL).isNull()).drop(_ERR_COL)
        return df, observations, cached

    def run(self, spark: SparkSession, dlq_path: str | None = None) -> RunResult:
        """Execute: compile, route this run's DLQ, drive the sink, collect
        metrics. The DLQ is the union of the failed legs (``schema.dlq_records``
        with a null batch id and the stream name as the stage), each record
        with the columns it had at its failing stage. Before the loader, one
        action (``_route_failed``) fills every stage cache and counts and
        collects the DLQ; a run that failed a record writes it to ``dlq_path``
        as ``dlq-<hash(name)>-<uuid>-<n>.parquet``. ``RunResult.dlq`` is a
        frame over the collected records, so reading it runs no stage again;
        past the driver's bound (``cdc.apply.DLQ_DRIVER_ROWS`` per partition)
        it holds the first ones, and ``dlq_count`` and ``dlq_path`` all of
        them. Each split reads one persisted frame, so the upstream executes
        once and a record lands in exactly one leg."""
        if self._loader is None:
            raise ValueError("stream has no loader; terminate with .load(...)")
        df, observations, cached = self._compile(spark)
        dlq, dlq_count = None, 0
        try:
            # before any loader side effect, even when no record fails
            check_dlq_payload(self._object_logger, self._dlq_key_cols, df.columns)
            if cached:
                records, dlq_count = _route_failed(self, cached, dlq_path)
                dlq = spark.createDataFrame(records, DLQ_SCHEMA)
            sink_result = self._loader.load(df, self)
        finally:
            for c in cached:
                c.unpersist()
        metrics = {name: obs.get for name, obs in observations}
        return RunResult(sink_result=sink_result, metrics=metrics, dlq=dlq, dlq_count=dlq_count)


# Convenience aliases mirroring the reference's static factory style
# (EtlProducerStage.extract / EtlConsumerStage.transform / .load)
def extract(*sources: Any) -> EtlStream:
    return EtlStream.extract(*sources)
