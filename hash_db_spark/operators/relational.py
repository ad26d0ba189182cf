"""Relational operators (SURVEY.md §2.2, R1-R14).

The reference executes SQL by scanning trie keyspaces (R. rows, C. columns,
S. value index, FTS. postings — /root/reference/client.py:290-355), running
dict-based hash joins (/root/reference/client.py:384-427), then patching
cross-node rows over HTTP ("networkjoin", /root/reference/server.py:922-1064).

Here every operator is a declarative DataFrame expression, so Catalyst gives
us what the reference hand-rolled or lacked:

- R1 scan + row assembly  = the Parquet vectorized reader (row-group pivot);
- R3/R4 WHERE index semi-joins = predicate pushdown into the scan;
- R6/R7 hash joins        = broadcast/shuffled hash join chosen by AQE from
                            real sizes (the reference hardcodes build side,
                            client.py:301,388-393);
- R8 networkjoin          = the shuffle exchange (co-location by key);
- R13 scatter-gather      = the Spark scheduler.

Semantics choices (SURVEY §2.1/§2.2 caveats): typed equality rather than the
reference's string-prefix equality; projection keeps the reference's
"skip rows missing a selected field" rule (client.py:655-661) via dropna.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F


def project(df: DataFrame, cols: Sequence[str], skip_missing: bool = True) -> DataFrame:
    """R2: projection. The reference drops rows that lack a selected field
    (/root/reference/client.py:655-661) — under a dynamic schema a missing
    field is a NULL, so ``skip_missing`` maps to dropna on the selection."""
    out = df.select(*cols)
    return out.dropna(how="any") if skip_missing else out


def filter_eq(df: DataFrame, field: str, value) -> DataFrame:
    """R3: WHERE f = v. The reference runs this as an S.-keyspace prefix scan
    + rowid semi-join (/root/reference/client.py:711-727) with accidental
    prefix-equality; we use true typed equality, pushed to the scan."""
    return df.filter(F.col(field) == F.lit(value))


def filter_all(df: DataFrame, *predicates: Column) -> DataFrame:
    """R4: AND-conjunction of predicates
    (/root/reference/server.py:483-485, client.py:730-736)."""
    out = df
    for p in predicates:
        out = out.filter(p)
    return out


def hash_join(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """R6: equi hash join. Duplicate join keys multiply (the reference's
    build dict holds lists per key, /root/reference/client.py:396-410) —
    identical to SQL join semantics. Build-side choice is AQE's job."""
    return left.join(right, on=on, how=how)


def multi_join(base: DataFrame, *joins: tuple[DataFrame, Column]) -> DataFrame:
    """R7: left-deep join chain — each spec consumes the previous result,
    as the reference's ``rewrite_joins``/"previous" mechanism does
    (/root/reference/client.py:472-480). Catalyst/AQE may reorder."""
    out = base
    for right, cond in joins:
        out = out.join(right, on=cond, how="inner")
    return out


def group_count(df: DataFrame, *keys: str) -> DataFrame:
    """R10: GROUP BY + count(*) — the only aggregate the reference interprets
    (/root/reference/server.py:897-920, client.py:579-602; broken as written
    there — this is the documented intent). Partial aggregation (map-side
    combine) comes free from Catalyst."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def insert_rows(table: DataFrame, new_rows: DataFrame, id_col: str = "id") -> DataFrame:
    """R11: INSERT with dynamic/emergent schema and auto-increment ids.

    The reference has no DDL — a table's schema is the union of fields ever
    inserted (/root/reference/README.md:175), and ids come from a per-table
    counter (/root/reference/server.py:757-771). Here:

    - novel columns in ``new_rows`` widen the schema (unionByName with
      allowMissingColumns — absent fields become NULL on old rows);
    - ids are max(id) + a deterministic dense rank over the new batch's
      natural order, not a single counter bottleneck. This is the batch
      path; the dialect's one-row INSERT takes max(id) + 1 directly.

    Id assignment is distributed via the shared rank machinery
    (operators/rank._ranged_with_rn): range partition on the batch's
    natural order, per-partition row_number, per-partition offsets
    BROADCAST-JOINED back (not a coalesce/when literal chain — at
    cluster-scale partition counts that blows past codegen's 64KB
    method limit and costs a linear branch scan per row, exactly the
    formulation rank.py's docstring rejects). Equal global ids to a
    global row_number whenever the order is total; ties within equal
    keys land in the same range partition, so id *sets* are
    deterministic either way. The max(id) lookup is a single-row
    aggregate (not a scale concern); on Delta-backed storage this whole
    function is an append with an id-service column.
    """
    from hash_db_spark.operators.rank import _ranged_with_rn

    start = (table.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m")).collect()[0]["m"])
    order_cols = [F.col(c) for c in new_rows.columns if c != id_col]
    ranked, _ = _ranged_with_rn(new_rows, order_cols, "__rn")
    withid = (
        ranked.withColumn(
            id_col, (F.lit(start) + F.col("__rn")).cast("long")
        )
        .drop("__rn", "__pid")
    )
    return table.unionByName(withid, allowMissingColumns=True)


def update_where(df: DataFrame, condition: Column, assignments: dict[str, Column]) -> DataFrame:
    """R12: UPDATE t SET f = v WHERE p, as a recompute over immutable data
    (the reference deindexes and rewrites trie keys in place,
    /root/reference/client.py:483-546; on Delta-backed storage this becomes
    a MERGE — semantics identical). Setting a column the table doesn't
    have yet WIDENS the schema (emergent-schema contract,
    /root/reference/README.md:175): non-matching rows read NULL for the
    new field, matching the reference's union-of-fields table model."""
    out = df
    for col_name, new_val in assignments.items():
        prev = F.col(col_name) if col_name in out.columns else F.lit(None)
        out = out.withColumn(col_name, F.when(condition, new_val).otherwise(prev))
    return out


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """ORDER BY … LIMIT k (absent from the reference SQL — SURVEY §2.2
    "free wins"). Spark runs this as TakeOrderedAndProject: per-partition
    top-k then a k-sized merge on the driver — no global sort at scale."""
    return df.orderBy(*order).limit(k)


def rank_per_group(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Window top-k per group (free win). row_number over a deterministic
    order; requires a total tie-break in ``order`` for reproducibility."""
    w = Window.partitionBy(*partition).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
