"""Plan auditing: assert that the physical plan is the one we designed for scale.

A query that is correct at sf0.01 but scans every column, misses a broadcast, or
shuffles twice where once suffices will melt at 100 TB. These helpers read the
formatted physical plan (the same text ``df.explain("formatted")`` prints) into a
small fact dict so tests can pin the *plan shape*, not just the result:

- filters/projections must reach the parquet scan (PushedFilters / ReadSchema);
- small dimensions must broadcast (BroadcastHashJoin, no shuffle of the fact);
- aggregates must be hash-based with map-side partial aggregation where we rely
  on it for skew absorption (SURVEY.md §4.2.2);
- exchange (shuffle) count must match the design budget per operator.

The reference has no optimizer to audit (SURVEY.md §4.1); this is the Spark-first
engine's counterpart to its hand-built physical tricks table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class PlanFacts:
    text: str
    exchanges: int
    broadcast_joins: int
    sortmerge_joins: int
    hash_aggregates: int
    object_hash_aggregates: int
    sort_aggregates: int
    pushed_filters: list[str]
    read_schemas: list[str]
    codegen_stages: int

    def read_columns(self) -> set[str]:
        cols: set[str] = set()
        for rs in self.read_schemas:
            cols.update(re.findall(r"(\w+):", rs))
        return cols


def plan_facts(df: DataFrame) -> PlanFacts:
    """Parse the formatted physical plan into auditable facts."""
    text = df._sc._jvm.PythonSQLUtils.explainString(  # same source .explain() uses
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text)
        if m.group(1).strip()
    ]
    schemas = [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text)]

    def nodes(name: str) -> int:
        # formatted explain lists every node once as "(<id>) <Name>" in the
        # detail section — counting those avoids double-counting the tree view
        return len(re.findall(rf"^\(\d+\) {name}\b", text, flags=re.MULTILINE))

    return PlanFacts(
        text=text,
        exchanges=nodes("Exchange"),
        broadcast_joins=nodes("BroadcastHashJoin") + nodes("BroadcastNestedLoopJoin"),
        sortmerge_joins=nodes("SortMergeJoin"),
        hash_aggregates=nodes("HashAggregate"),
        object_hash_aggregates=nodes("ObjectHashAggregate"),
        sort_aggregates=nodes("SortAggregate"),
        pushed_filters=pushed,
        read_schemas=schemas,
        codegen_stages=len(set(re.findall(r"WholeStageCodegen \((\d+)\)", text))),
    )


def compiled_classes(spark: SparkSession) -> int:
    """How many classes Spark's code generators have compiled in this JVM
    (``CodegenMetrics``' compile-time histogram counts every compile). A
    plan whose generated Java is already in the codegen cache compiles none,
    so the difference around an action pins "no compile" beside its plan
    shape. Whole-stage codegen writes literals into that Java: a per-batch
    value in a plan compiles new classes on every batch."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def assert_scan_pruned(facts: PlanFacts, forbidden_cols: set[str]) -> None:
    """The scan must not read columns the query never uses."""
    overlap = facts.read_columns() & forbidden_cols
    assert not overlap, f"scan reads pruned-away columns {overlap}:\n{facts.text[:2000]}"


def assert_filters_pushed(facts: PlanFacts) -> None:
    assert facts.pushed_filters, f"no PushedFilters reached the scan:\n{facts.text[:2000]}"
