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
An empty list becomes a frame over an empty RDD: zero partitions, so
reads of it schedule no tasks at all (``createDataFrame([])`` would
scan defaultParallelism empty Python partitions). This is guide §5
("the driver should do almost no data work") applied to plan
construction.

Only bounded frames belong here — every caller already holds the rows
in driver memory by construction (collected scalars, literal configs,
loop outputs), so this changes HOW they enter the plan, never how much
data the driver holds.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession


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
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
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


def capped_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize a facade store write (KV fold, SQL INSERT/UPDATE,
    Cypher MERGE) and cut its lineage, so a long session keeps a flat
    plan. localCheckpoint preserves the physical partitioning, and each
    union-style write appends its own partition(s) — measured +1
    partition PER WRITE surviving every checkpoint, so every later read
    and write would run ever more tasks. coalesce is narrow (no shuffle)
    and a no-op when already at or under the cap, so a genuinely large
    table on a cluster keeps a defaultParallelism-wide layout while an
    interactive store stays flat. Being narrow, it also runs the final
    stage of the write (the union with its anti-join or new rows) in at
    most defaultParallelism tasks, not only the persisted layout."""
    cap = df.sparkSession.sparkContext.defaultParallelism
    return df.coalesce(cap).localCheckpoint()


def append(store: DataFrame, rows: list, schema) -> DataFrame:
    """``store`` plus ``rows`` by column name, checkpointed; ``store``
    itself when there are no rows. The rows are one partition: a
    LocalRelation scans as one per row, each a task on every later read."""
    if not rows:
        return store
    new = local_frame(store.sparkSession, rows, schema).coalesce(1)
    return capped_checkpoint(store.unionByName(new, allowMissingColumns=True))
