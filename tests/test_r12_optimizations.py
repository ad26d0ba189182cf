"""Focused tests for the round-12 optimization internals.

Each optimization that changed an operator's execution PATH (driver
fast-paths, LocalRelation frames, checkpoint compaction) is pinned here
by an equality check against the unchanged semantics: the driver path
must produce exactly what the distributed path produces, and the
fast-path frames must carry exactly the rows/schema of the slow ones.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hash_db_spark.localframe import local_frame


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- local_frame ------------------------------------------------------------


def test_local_frame_matches_createdataframe(spark):
    rows = [(1, "a", [1.0, 2.0], None), (2, "b", [3.0], 5)]
    schema = "id int, name string, vec array<double>, opt long"
    fast = local_frame(spark, rows, schema)
    slow = spark.createDataFrame(rows, schema)
    assert fast.schema == slow.schema
    assert _rows(fast) == _rows(slow)
    # the point of the helper: a JVM-embedded LocalRelation, not a
    # Python-RDD-backed plan
    assert (
        fast._jdf.queryExecution().optimizedPlan().nodeName()
        == "LocalRelation"
    )


def test_local_frame_empty_and_dict_rows(spark):
    schema = "a int, b string"
    assert _rows(local_frame(spark, [], schema)) == []
    # dict rows map by KEY; local_frame must not reorder them
    # positionally through pandas
    rows = [{"b": "x", "a": 1}]
    assert _rows(local_frame(spark, rows, schema)) == [(1, "x")]


def test_local_frame_empty_has_no_partitions(spark):
    """An empty frame is an empty JVM LocalRelation: zero partitions, so
    a read of a fresh facade store schedules no tasks, and it still
    carries the given schema."""
    schema = "id string, attrs map<string,string>"
    empty = local_frame(spark, [], schema)
    assert empty.rdd.getNumPartitions() == 0
    assert empty.schema == spark.createDataFrame([], schema).schema


# --- graph loop driver fast-paths --------------------------------------------


def _toy_graph(spark):
    edges = local_frame(
        spark,
        [
            ("a", "b"),
            ("b", "c"),
            ("c", "a"),
            ("c", "d"),
            ("d", "e"),
            ("e", "d"),
            ("x", "a"),
            # parallel edge: multiplicity must count identically on
            # both paths (lpa counts, hits sums)
            ("c", "d"),
        ],
        "src string, dst string",
    )
    nodes = local_frame(
        spark,
        [(i,) for i in ["a", "b", "c", "d", "e", "x", "lonely"]],
        "id string",
    )
    return nodes, edges


def test_pagerank_driver_matches_distributed(spark):
    from hash_db_spark.operators.graph import pagerank

    nodes, edges = _toy_graph(spark)
    fast = pagerank(nodes, edges, iterations=4)
    slow = pagerank(nodes, edges, iterations=4, driver_cap=0)
    assert _rows(fast) == _rows(slow)


def test_ppr_driver_matches_distributed(spark):
    from hash_db_spark.operators.graph import personalized_pagerank

    nodes, edges = _toy_graph(spark)
    seeds = local_frame(spark, [("a",), ("d",)], "id string")
    fast = personalized_pagerank(nodes, edges, seeds, iterations=4)
    slow = personalized_pagerank(
        nodes, edges, seeds, iterations=4, driver_cap=0
    )
    assert _rows(fast) == _rows(slow)


def test_hits_driver_matches_distributed(spark):
    from hash_db_spark.operators.graph import hits

    nodes, edges = _toy_graph(spark)
    fast = hits(nodes, edges, iterations=2)
    slow = hits(nodes, edges, iterations=2, driver_cap=0)
    assert _rows(fast) == _rows(slow)


def test_lpa_driver_matches_distributed(spark):
    from hash_db_spark.operators.graph import lpa_communities

    nodes, edges = _toy_graph(spark)
    fast = lpa_communities(nodes, edges, iterations=3)
    slow = lpa_communities(nodes, edges, iterations=3, driver_cap=0)
    assert _rows(fast) == _rows(slow)


def test_graph_loops_derive_nodes_from_edges(spark):
    """nodes=None must equal the explicit union-of-endpoints node set
    on BOTH paths (the 'lonely' node exists only in the explicit set,
    so compare against endpoint-derived nodes)."""
    from hash_db_spark.operators.graph import hits, pagerank

    _, edges = _toy_graph(spark)
    derived = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    for cap in (100_000, 0):
        assert _rows(pagerank(None, edges, iterations=3, driver_cap=cap)) == _rows(
            pagerank(derived, edges, iterations=3, driver_cap=cap)
        )
        assert _rows(hits(None, edges, iterations=2, driver_cap=cap)) == _rows(
            hits(derived, edges, iterations=2, driver_cap=cap)
        )


# --- compact_hashes -----------------------------------------------------------


def test_compact_hashes_preserves_rows_and_narrows_layout(spark):
    from hash_db_spark.operators.codecs import compact_hashes

    wide = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") * 37 % 997).alias("dhash")
    ).repartition(16, "id")
    out = compact_hashes(wide)
    assert _rows(out) == _rows(wide)
    # the skinny frame's stats (~32 KB) must coalesce well below the
    # decode fan-out; exact count depends on the size estimate, so pin
    # the bound, not the value
    assert out.rdd.getNumPartitions() < 16


# --- bm25 single-scan contract ------------------------------------------------


def test_bm25_empty_terms_returns_empty(spark):
    from hash_db_spark.operators.ranking import bm25_rank

    docs = local_frame(
        spark, [(1, "a b c"), (2, "c d")], "doc_id long, text string"
    )
    out = bm25_rank(docs, "text", "doc_id", [])
    assert out.columns == ["id", "score"]
    assert out.count() == 0


def test_bm25_zero_tf_terms_do_not_shift_scores(spark):
    """A query term absent from the whole corpus contributes exactly
    0.0 to every matched doc: scores with and without the dead term
    must be identical (the fixed-order per-term sum property the
    single-scan restructure relies on)."""
    from hash_db_spark.operators.ranking import bm25_rank

    docs = local_frame(
        spark,
        [(1, "hash join hash"), (2, "join spark"), (3, "nothing here")],
        "doc_id long, text string",
    )
    base = _rows(bm25_rank(docs, "text", "doc_id", ["hash", "join"]))
    with_dead = _rows(
        bm25_rank(docs, "text", "doc_id", ["hash", "join", "zzz_absent"])
    )
    assert base == with_dead


# --- connected_components driver probe ----------------------------------------


def test_connected_components_driver_matches_distributed(spark):
    from hash_db_spark.operators.dedup import connected_components

    pairs = local_frame(
        spark,
        [(1, 2), (2, 3), (10, 11), (5, 5), (3, 1)],
        "id_a long, id_b long",
    )
    fast = connected_components(pairs)
    slow = connected_components(pairs, driver_threshold=0)
    assert _rows(fast) == _rows(slow)
