"""The facade's two ends for driver-held data: rows enter a plan through
``local_frame`` and every store write leaves through ``capped_checkpoint``;
``append`` joins the two for the INSERT and MERGE writes.

``spark.createDataFrame(list_of_rows, schema)`` produces a LogicalRDD
plan: the rows live in a pickled Python RDD, and the FIRST action on
any plan containing it pays a Python-worker scan measured at 1.7-4.2s
on this machine (subsequent actions ~1s) — a pure driver-side tax on
every bounded metadata frame (version pointers, centroid tables,
query-literal frames, iterative-loop results, INSERT rows, MERGE deltas).

Routing the same rows through a pandas DataFrame converts them at
BUILD time via Arrow into a LocalRelation embedded in the JVM plan:
first action 0.3-0.7s, no Python worker involved, identical schema and
values (verified: ints, strings, doubles, arrays, maps, None cells).
An empty list becomes an empty JVM LocalRelation: zero partitions, so
reads of it schedule no tasks at all (``createDataFrame([])`` would
scan defaultParallelism empty Python partitions), and a size estimate
of 0 bytes. A frame over an empty RDD would also have no partitions,
but Catalyst sizes an RDD scan at Long.MaxValue bytes, and every store
that starts from it carries that estimate through each checkpoint
(localCheckpoint keeps its origin plan's statistics). A store that
starts from a LocalRelation keeps a true estimate instead, so joins on
it broadcast and ``capped_checkpoint`` can fit its partition count to
it. This is guide §5 ("the driver should do almost no data work")
applied to plan construction.

Only bounded frames belong here — every caller already holds the rows
in driver memory by construction (collected scalars, literal configs,
loop outputs), so this changes HOW they enter the plan, never how much
data the driver holds.
"""

from __future__ import annotations

from typing import Any, Iterable

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` that yields a JVM
    LocalRelation (pandas/Arrow fast path) instead of a Python-RDD scan.
    ``rows`` must be a list of tuples/lists mapped POSITIONALLY onto
    ``schema`` (the same contract as createDataFrame with a list).
    Falls back to the plain path for inputs pandas can't round-trip."""
    import pandas as pd

    rows = list(rows)
    if not rows:
        return _empty_frame(spark, schema)
    if isinstance(rows[0], dict):
        # dict rows map by KEY in createDataFrame but from_records would
        # order columns by first-seen key — a silent positional mismatch
        # against the schema. Take the plain path (pyspark Row is a tuple
        # subclass, so it stays on the fast path).
        return spark.createDataFrame(rows, schema)
    try:
        pdf = pd.DataFrame.from_records(rows)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        # dtype pandas/Arrow cannot represent (Decimal edge cases, raw
        # Row objects with nested Rows, ...): correctness over speed
        return spark.createDataFrame(rows, schema)


def _empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty LocalRelation of ``schema`` (a DDL string or StructType),
    built on the JVM: no partitions, and a size estimate of 0 bytes."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    jschema = spark._jsparkSession.parseDataType(schema.json())
    jdf = spark._jsparkSession.createDataFrame(
        spark._jvm.java.util.ArrayList(), jschema
    )
    return DataFrame(jdf, spark)


def _partitions_for(df: DataFrame) -> int:
    """``ceil(sizeInBytes / advisoryPartitionSizeInBytes)`` clamped to
    [1, defaultParallelism]: the AQE coalescing target applied to the
    plan's own size estimate, a driver-side statistic (no job).
    defaultParallelism when the estimate cannot be read."""
    spark = df.sparkSession
    cap = spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
        utils = spark._jvm.org.apache.spark.network.util.JavaUtils
        target = utils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
    except (Py4JError, PySparkException):
        return cap
    return max(1, min(cap, -(-size // max(1, target))))


def capped_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize a facade store write (KV fold, SQL INSERT/UPDATE,
    Cypher MERGE) and cut its lineage, so a long session keeps a flat
    plan. localCheckpoint preserves the physical partitioning, and each
    union-style write appends its own partition(s) — measured +1
    partition PER WRITE surviving every checkpoint, so every later read
    and write would run ever more tasks. So the write coalesces first,
    to as many partitions as its size estimate fills at
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` each, between 1
    and defaultParallelism (the clamp of ``codecs.spread_ids``). A
    KB-sized store is then one partition: localCheckpoint keeps that
    layout as SinglePartition, so a group by, a distinct or INSERT's
    max(id) on it runs without an exchange, and a scan of it is one
    task. A large table keeps a defaultParallelism-wide layout. When the
    estimate cannot be read the count is defaultParallelism, which is
    also what an RDD-scan estimate (Long.MaxValue) gives. coalesce is
    narrow (no shuffle) and a no-op when already at or under the count,
    so it also runs the final stage of the write (the union with its
    anti-join or new rows) in that many tasks."""
    return df.coalesce(_partitions_for(df)).localCheckpoint()


def append(store: DataFrame, rows: list, schema) -> DataFrame:
    """``store`` plus ``rows`` by column name, checkpointed; ``store``
    itself when there are no rows. The rows are one partition: a
    LocalRelation scans as one per row, each a task on every later read."""
    if not rows:
        return store
    new = local_frame(store.sparkSession, rows, schema).coalesce(1)
    return capped_checkpoint(store.unionByName(new, allowMissingColumns=True))
