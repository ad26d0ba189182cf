"""DynamoDB-style KV operators (SURVEY.md §2.1, K1-K9).

The reference implements these with a CharTrie + unbalanced-BST walk on a
coordinator, then one network GET per matching key
(/root/reference/server.py:113-168, /root/reference/hash-db.py:51-83,
/root/reference/datastructures.py:25-31). Here each operator is a single
declarative DataFrame expression over a ``kv(pk, sk, value)`` table:

- pk-equality predicates push down to the Parquet scan (partition-prunable
  when kv is written partitioned/bucketed by pk);
- ``startswith`` compiles to Catalyst ``StartsWith`` which pushes to Parquet
  as a string range filter;
- the ``K.*`` batch verbs sort distributed (range-partitioned sort-merge);
  the ``HashDb`` facade instead filters with the same predicate, collects
  the few matching rows and sorts them on the driver, as the reference's
  final ``sorted(...)`` does (/root/reference/server.py:126).

Each range verb's predicate is defined once, as a ``Where``: the Column the
distributed plan filters with, plus a Python twin that gives the same
answer on a driver-held (pk, sk) pair, so the facade can apply it to its
pending delta.

Semantics note (SURVEY §2.1 caveats): the reference's equality-by-prefix and
lexicographic ranges are bugs-as-features of its trie encoding; we keep true
string semantics — exact pk equality, closed [lo, hi] ranges — which match
the documented intent in /root/reference/README.md and hash-db.py's demo.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


class Where(NamedTuple):
    """A KV read predicate in two forms that agree on every (pk, sk)
    pair: ``col`` for a DataFrame filter and ``match`` for a pair held on
    the driver. SQL three-valued logic is part of the contract — a NULL
    key or a NULL bound never matches ``=``, ``startswith`` or a range —
    and Spark compares strings by UTF-8 bytes, which orders them as
    Python orders code points."""

    col: Column
    match: Callable[[str | None, str | None], bool]


def _eq(x, v) -> bool:
    return x is not None and v is not None and x == v


def _starts(x, prefix) -> bool:
    return x is not None and prefix is not None and x.startswith(prefix)


def _within(x, lo, hi) -> bool:
    return x is not None and lo is not None and hi is not None and lo <= x <= hi


def _ordered(df: DataFrame, desc: bool) -> DataFrame:
    """K8: every KV query emits rows ordered by (pk, sk) asc or desc
    (reference sorts the gathered result on the coordinator,
    /root/reference/server.py:126; /root/reference/hash-db.py:55)."""
    cols = [F.col("pk"), F.col("sk")]
    return df.orderBy(*[c.desc() if desc else c.asc() for c in cols])


def _without_keys(kv: DataFrame, keys: DataFrame) -> DataFrame:
    """Rows of ``kv`` whose (pk, sk) is not among ``keys``. Null-safe:
    with a plain ``=`` join a NULL-keyed row never matches itself, so
    re-writing it would keep the old row beside the new one."""
    k = keys.select(F.col("pk").alias("_pk"), F.col("sk").alias("_sk"))
    return kv.join(
        k,
        F.col("pk").eqNullSafe(F.col("_pk")) & F.col("sk").eqNullSafe(F.col("_sk")),
        "left_anti",
    )


def kv_set(kv: DataFrame, rows: DataFrame) -> DataFrame:
    """K1: point upsert. Last-writer-wins per (pk, sk): new rows replace
    existing ones (reference overwrites the dict entry,
    /root/reference/client.py:183). Anti-join + union keeps it shuffle-light;
    on a real deployment this is a Delta MERGE.

    A batch is a SET of rows (DataFrames carry no insertion order), so an
    intra-batch key collision has no "last" writer — it resolves
    deterministically to max(value), and the unique-(pk, sk) invariant
    holds regardless of batch contents (without the collapse, both
    duplicate rows would survive the anti-join and every later get/query
    would emit the key twice)."""
    rows = rows.groupBy("pk", "sk").agg(F.max("value").alias("value"))
    return _without_keys(kv, rows).unionByName(rows)


def kv_apply(kv: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta into ``kv``: ``delta`` holds each (pk, sk) at most
    once, and a NULL value marks a tombstone. Every delta key replaces
    its stored rows; the upserts are added back. Same anti-join as
    ``kv_set``, without its collapse, which a key-unique delta does not
    need."""
    return _without_keys(kv, delta).unionByName(
        delta.filter(F.col("value").isNotNull())
    )


def kv_get(kv: DataFrame, pk: str, sk: str) -> DataFrame:
    """K2: point read (/root/reference/client.py:59-64)."""
    return kv.filter((F.col("pk") == pk) & (F.col("sk") == sk))


def kv_clear(kv: DataFrame, pk: str, sk: str) -> DataFrame:
    """K9: point delete (/root/reference/client.py:204-212). Null-safe:
    with a plain ``==`` a NULL-keyed row makes the conjunction NULL,
    NOT(NULL) is NULL, and the filter would silently delete that
    unrelated row along with the targeted key."""
    return kv.filter(
        ~(F.col("pk").eqNullSafe(F.lit(pk)) & F.col("sk").eqNullSafe(F.lit(sk)))
    )


def where_begins(pk: str, sk_prefix: str) -> Where:
    """K3's predicate: pk exact, sk begins-with."""
    return Where(
        (F.col("pk") == pk) & F.col("sk").startswith(sk_prefix),
        lambda p, s: _eq(p, pk) and _starts(s, sk_prefix),
    )


def where_pk_sk_begins(pk_prefix: str, sk_prefix: str) -> Where:
    """K4's predicate: both keys begins-with."""
    return Where(
        F.col("pk").startswith(pk_prefix) & F.col("sk").startswith(sk_prefix),
        lambda p, s: _starts(p, pk_prefix) and _starts(s, sk_prefix),
    )


def where_between(pk: str, sk_lo: str, sk_hi: str) -> Where:
    """K5's predicate: pk exact, sk in closed [lo, hi]."""
    return Where(
        (F.col("pk") == pk) & F.col("sk").between(sk_lo, sk_hi),
        lambda p, s: _eq(p, pk) and _within(s, sk_lo, sk_hi),
    )


def where_both_between(pk_lo: str, pk_hi: str, sk_lo: str, sk_hi: str) -> Where:
    """K6's predicate: closed pk range x closed sk range."""
    return Where(
        F.col("pk").between(pk_lo, pk_hi) & F.col("sk").between(sk_lo, sk_hi),
        lambda p, s: _within(p, pk_lo, pk_hi) and _within(s, sk_lo, sk_hi),
    )


def where_before(pk: str, sk_prefix: str, bound: str) -> Where:
    """K7a's predicate: pk exact, sk in the prefix and strictly before
    ``bound``."""
    return Where(
        (F.col("pk") == pk)
        & F.col("sk").startswith(sk_prefix)
        & (F.col("sk") < bound),
        lambda p, s: _eq(p, pk) and _starts(s, sk_prefix)
        and bound is not None and s < bound,
    )


def where_after(pk: str, sk_prefix: str, bound: str) -> Where:
    """K7b's predicate: pk exact, sk in the prefix and strictly after
    ``bound``."""
    return Where(
        (F.col("pk") == pk)
        & F.col("sk").startswith(sk_prefix)
        & (F.col("sk") > bound),
        lambda p, s: _eq(p, pk) and _starts(s, sk_prefix)
        and bound is not None and s > bound,
    )


def query_begins(kv: DataFrame, pk: str, sk_prefix: str, desc: bool = False) -> DataFrame:
    """K3: pk exact, sk begins-with, globally sorted
    (/root/reference/server.py:113-126, client.py:223-242)."""
    return _ordered(kv.filter(where_begins(pk, sk_prefix).col), desc)


def query_pk_sk_begins(
    kv: DataFrame, pk_prefix: str, sk_prefix: str, desc: bool = False
) -> DataFrame:
    """K4: both keys begins-with (/root/reference/server.py:128-140,
    hash-db.py:58-63 — nested trie iteration there, two pushed filters here)."""
    return _ordered(kv.filter(where_pk_sk_begins(pk_prefix, sk_prefix).col), desc)


def query_between(
    kv: DataFrame, pk: str, sk_lo: str, sk_hi: str, desc: bool = False
) -> DataFrame:
    """K5: pk exact, sk in closed [lo, hi] (BST range walk in the reference,
    /root/reference/server.py:143-154, datastructures.py:25-31)."""
    return _ordered(kv.filter(where_between(pk, sk_lo, sk_hi).col), desc)


def both_between(
    kv: DataFrame,
    pk_lo: str,
    pk_hi: str,
    sk_lo: str,
    sk_hi: str,
    desc: bool = False,
) -> DataFrame:
    """K6: closed range over pks x closed range over sks (PartitionTree walk,
    /root/reference/server.py:156-168, datastructures.py:77-83)."""
    return _ordered(
        kv.filter(where_both_between(pk_lo, pk_hi, sk_lo, sk_hi).col), desc
    )


def query_before_than(
    kv: DataFrame, pk: str, sk_prefix: str, bound: str, desc: bool = False
) -> DataFrame:
    """K7a: within sk prefix, strictly before ``bound``
    (/root/reference/hash-db.py:71-76)."""
    return _ordered(kv.filter(where_before(pk, sk_prefix, bound).col), desc)


def query_greater_than(
    kv: DataFrame, pk: str, sk_prefix: str, bound: str, desc: bool = False
) -> DataFrame:
    """K7b: within sk prefix, strictly after ``bound``
    (/root/reference/hash-db.py:78-83)."""
    return _ordered(kv.filter(where_after(pk, sk_prefix, bound).col), desc)
