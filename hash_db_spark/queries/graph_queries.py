"""Driver-checkable queries: graph/Cypher operators (SURVEY §2.4) over the
fixture-derived property graph (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from hash_db_spark.catalog import load_table
from hash_db_spark.cypher.compiler import EDGES_SCHEMA, NODES_SCHEMA, CypherCompiler
from hash_db_spark.operators.graph import (
    GRAPH_ORACLE_CTES,
    SQL_TRIANGLE_COUNT,
    graph_edges,
    graph_nodes,
)
from hash_db_spark.queries import Query


def _compiler(spark: SparkSession, sf_dir: str) -> CypherCompiler:
    return CypherCompiler(graph_nodes(spark, sf_dir), graph_edges(spark, sf_dir))


def q_graph_node_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: node scan by label + attribute."""
    return _compiler(spark, sf_dir).run(
        "match (n:Nation {name: 'NATION_7'}) return n"
    )


def q_cypher_1hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: 1-hop traversal — customers of one nation."""
    return _compiler(spark, sf_dir).run(
        "match (c:Customer)-[:FROM]->(n:Nation {name: 'NATION_7'}) return c, n"
    )


def q_cypher_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH (free-win grammar extension): every Nation with
    its suppliers, nations without suppliers kept with NULL — compiles
    to a left join of the optional pattern on the shared variable."""
    return _compiler(spark, sf_dir).run(
        "match (n:Nation) optional match (s:Supplier)-[:FROM]->(n) "
        "return n, s"
    )


def q_cypher_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE clause (free-win grammar extension — the reference only has
    inline {attr: value} maps): the predicate folds into candidate
    generation, sitting UNDER the pattern joins."""
    return _compiler(spark, sf_dir).run(
        "match (c:Customer)-[:FROM]->(n:Nation) "
        "where n.name = 'NATION_7' return c, n"
    )


def q_cypher_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETURN count(var) (free-win aggregate return): distinct matches
    of the counted variable."""
    return _compiler(spark, sf_dir).run(
        "match (c:Customer)-[:FROM]->(n:Nation {name: 'NATION_7'}) "
        "return count(c)"
    )


def q_cypher_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: 2-hop chain with intermediate variable."""
    return _compiler(spark, sf_dir).run(
        "match (s:Supplier)-[:FROM]->(n:Nation)-[:IN]->(r:Region {name: 'ASIA'}) "
        "return s, n, r"
    )


def q_cypher_shared_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: variable re-binding across comma patterns — supplier and
    customer from the *same* nation (example.py:273's 4-triple shape)."""
    return _compiler(spark, sf_dir).run(
        "match (s:Supplier)-[:FROM]->(n:Nation), "
        "(c:Customer {name: 'Customer#000000042'})-[:FROM]->(n) "
        "return s, c, n"
    )


def q_cypher_left_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 with reversed arrow: (n)<-[:FROM]-(s) ≡ (s)-[:FROM]->(n)."""
    return _compiler(spark, sf_dir).run(
        "match (n:Nation {name: 'NATION_3'})<-[:FROM]-(s:Supplier) return s, n"
    )


def q_cypher_merge_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G3: MERGE new nodes + edge, then MATCH them back (merge is an
    immutable upsert returning new node/edge frames)."""
    comp = _compiler(spark, sf_dir)
    nodes2, edges2 = comp.run(
        "merge (p:Person {name: 'Samuel'})-[:FRIEND]->(q:Person {name: 'Tasya'})"
    )
    comp2 = CypherCompiler(nodes2, edges2)
    return comp2.run("match (a:Person)-[:FRIEND]->(b:Person) return a, b")


def q_cypher_return_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 with node-object projection: returned vars carry their name
    attribute (the reference emits whole node dicts)."""
    from hash_db_spark.cypher import CypherParser

    comp = _compiler(spark, sf_dir)
    p = CypherParser().parse(
        "match (n:Nation)-[:IN]->(r:Region {name: 'EUROPE'}) return n, r"
    )
    return comp.match(p, with_names=True)


def q_cypher_attr_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 generic attributes: match on non-name attrs via the node attrs
    map (reference finds nodes through its inverted attribute index,
    client.py:876-891)."""
    return _compiler(spark, sf_dir).run(
        "match (c:Customer {segment: 'BUILDING'})-[:FROM]->"
        "(n:Nation {region: 'ASIA'}) return c, n"
    )


def q_cypher_return_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 whole-node objects: id + name + full attribute dict per returned
    var (reference returns node dicts incl. attributes,
    client.py:1198-1219); attrs render canonically as sorted 'k=v;k=v'."""
    from hash_db_spark.cypher import CypherParser

    comp = _compiler(spark, sf_dir)
    p = CypherParser().parse(
        "match (s:Supplier)-[:FROM]->(n:Nation {region: 'EUROPE'}) "
        "return s, n"
    )
    return comp.match(p, with_names=True, with_attrs=True)


def _empty_graph(spark: SparkSession) -> CypherCompiler:
    nodes = spark.createDataFrame([], NODES_SCHEMA)
    edges = spark.createDataFrame([], EDGES_SCHEMA)
    return CypherCompiler(nodes, edges)


def q_cypher_merge_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 with attribute storage: MERGE persists non-name attributes on the
    node; MATCH finds the node by that attribute alone and returns the
    whole node object."""
    from hash_db_spark.cypher import CypherParser

    comp = _empty_graph(spark)
    nodes2, edges2 = comp.run(
        "merge (p:Person {name: 'Sally', age: '30'})-[:KNOWS]->"
        "(q:Person {name: 'Bob', age: '40'})"
    )
    p = CypherParser().parse("match (p:Person {age: '30'}) return p")
    return CypherCompiler(nodes2, edges2).match(p, with_names=True, with_attrs=True)


# example.py:241-261 social graph, verbatim statement order.
SOCIAL_MERGES = [
    "merge (person:Person {'name': 'Samuel'})-[:FRIEND]->(tasya:Person {'name': 'Tasya'})",
    "merge (person:Person {'name': 'Tasya'})-[:FRIEND]->(obj:Person {'name': 'Samuel'})",
    "merge (person:Person {'name': 'Samuel'})-[:FRIEND]->(obj:Person {'name': 'Simon'})",
    "merge (person:Person {'name': 'Simon'})-[:FRIEND]->(obj:Person {'name': 'Samuel'})",
    "merge (person:Person {'name': 'Samuel'})-[:FRIEND]->(obj:Person {'name': 'John'})",
    "merge (person:Person {'name': 'Simon'})-[:FRIEND]->(obj:Person {'name': 'Sally'})",
    "merge (person:Person {'name': 'Sally'})-[:FRIEND]->(obj:Person {'name': 'Simon'})",
    "merge (person:Person {'name': 'Tasya'})-[:FRIEND]->(obj:Person {'name': 'Margaret'})",
    "merge (person:Person {'name': 'Margaret'})-[:FRIEND]->(obj:Person {'name': 'Tasya'})",
    "merge (person:Person {'name': 'Samuel'})-[:LIKES]->(obj:Post {'name': 'Ideas'})",
    "merge (person:Person {'name': 'Tasya'})-[:POSTED]->(obj:Post {'name': 'Ideas'})",
    "merge (person:Person {'name': 'Tasya'})-[:POSTED]->(obj:Post {'name': 'Lamentations'})",
    "merge (person:Person {'name': 'Tasya'})-[:POSTED]->(obj:Post {'name': 'Love'})",
    "merge (person:Person {'name': 'Tasya'})-[:POSTED]->(obj:Post {'name': 'Thoughts'})",
    "merge (person:Person {'name': 'Samuel'})-[:LIKES]->(obj:Post {'name': 'Thoughts'})",
    "merge (person:Person {'name': 'Tasya'})-[:LIKES]->(obj:Food {'name': 'Pocky'})",
    "merge (person:Post {'name': 'Ideas'})-[:REFERS]->(obj:Person {'name': 'Margaret'})",
    "merge (person:Post {'name': 'Thoughts'})-[:REFERS]->(obj:Person {'name': 'John'})",
    "merge (person:Post {'name': 'Samuel'})-[:LIKES]->(obj:Post {'name': 'Love'})",
]

SOCIAL_MATCH = (
    "match (start:Person)-[:FRIEND]->(end:Person), "
    "(start)-[:LIKES]->(post:Post), "
    "(end)-[:POSTED]->(post:Post), "
    "(post:Post)-[:REFERS]->(person:Person) "
    "return start, end, post, person"
)


def q_cypher_var_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length path syntax (*1..k) compiled to bounded-hop
    edge-composition joins: friends-and-friends-of-friends of Samuel over
    the example.py social graph (a grammar extension — the reference's
    '*' token is only the SQL wildcard, /root/reference/cypher.py:41-43)."""
    comp = _empty_graph(spark)
    nodes, edges = comp.merge_many(SOCIAL_MERGES)
    return CypherCompiler(nodes, edges).run(
        "match (a:Person {name: 'Samuel'})-[:FRIEND*1..2]->(b:Person) "
        "return a, b"
    )


def q_cypher_social_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """example.py:241-281 end-to-end: the 19 MERGE statements applied in
    order to an empty graph, then the 4-triple MATCH. Labels keep Post
    'Samuel' distinct from Person 'Samuel' (documented divergence — the
    reference's attribute-only lookup merges them)."""
    comp = _empty_graph(spark)
    # One batched upsert — result-identical to sequential statements (merge
    # is monotone insert-if-absent; tests/test_cypher.py proves the
    # sequential path) and one shuffle instead of 19.
    nodes, edges = comp.merge_many(SOCIAL_MERGES)
    return CypherCompiler(nodes, edges).run(SOCIAL_MATCH)


def _g(sql: str) -> str:
    return f"WITH {GRAPH_ORACLE_CTES} {sql}"


def q_graph_n_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length reachability (free win — the reference Cypher has
    no ``*1..k`` paths): everything within 2 reverse hops of ASIA —
    its nations (hop 1) and their customers/suppliers (hop 2)."""
    from hash_db_spark.operators.graph import n_hop_reach

    return n_hop_reach(
        graph_edges(spark, sf_dir), "region:ASIA", max_hops=2, reverse=True
    )


def _n_hop_oracle() -> str:
    from hash_db_spark.operators.graph import sql_n_hop_reach

    return (
        f"WITH RECURSIVE {GRAPH_ORACLE_CTES}, "
        f"{sql_n_hop_reach('region:ASIA', max_hops=2, reverse=True)}"
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the embedding near-dup graph (sparse by
    construction) via degree-oriented compact-forward enumeration (free
    win — bounds wedge candidates by O(m^1.5) under hub skew)."""
    from hash_db_spark.operators.dedup import embedding_near_dup_pairs
    from hash_db_spark.operators.graph import triangle_count

    pairs = embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))
    return triangle_count(
        pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )


def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the embedding near-dup graph (free win —
    the skew census for the wedge/triangle joins)."""
    from hash_db_spark.operators.dedup import embedding_near_dup_pairs
    from hash_db_spark.operators.graph import degree_histogram

    pairs = embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))
    return degree_histogram(
        pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )


SQL_DEGREE_HIST = """
WITH e AS (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(
          a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
),
degs AS (
  SELECT n, count(*) AS deg FROM (
    SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e
  ) GROUP BY n
)
SELECT deg, count(*) AS n_nodes FROM degs GROUP BY deg
"""


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the property graph (edges
    undirected): min-label propagation / driver union-find hybrid from
    the dedup pipeline, reused verbatim — string node ids label
    components by lexicographic min."""
    from hash_db_spark.operators.dedup import connected_components

    e = graph_edges(spark, sf_dir).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    return connected_components(e)


def _components_oracle() -> str:
    from hash_db_spark.operators.dedup import sql_connected_components

    inner = sql_connected_components(
        "SELECT src AS id_a, dst AS id_b FROM gedges"
    )
    return inner.replace(
        "WITH RECURSIVE", f"WITH RECURSIVE {GRAPH_ORACLE_CTES},", 1
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the fixture property graph (free win —
    dataflow power iteration in DataFrames, GraphX-style)."""
    from hash_db_spark.operators.graph import pagerank

    return pagerank(
        graph_nodes(spark, sf_dir), graph_edges(spark, sf_dir), iterations=3
    )


def _pagerank_oracle() -> str:
    from hash_db_spark.operators.graph import sql_pagerank

    return f"WITH {GRAPH_ORACLE_CTES}, {sql_pagerank(iterations=3)}"


QUERIES = {
    "graph_node_scan": Query(
        q_graph_node_scan,
        _g("SELECT id AS n FROM gnodes WHERE label='Nation' AND name='NATION_7'"),
    ),
    "graph_n_hop": Query(q_graph_n_hop, _n_hop_oracle()),
    "graph_pagerank": Query(q_graph_pagerank, _pagerank_oracle()),
    "graph_triangles": Query(q_graph_triangles, SQL_TRIANGLE_COUNT),
    "graph_degree_hist": Query(q_graph_degree_hist, SQL_DEGREE_HIST),
    "graph_components": Query(q_graph_components, _components_oracle()),
    "cypher_1hop": Query(
        q_cypher_1hop,
        _g(
            "SELECT DISTINCT e.src AS c, e.dst AS n FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Customer' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Nation' AND b.name = 'NATION_7' "
            "WHERE e.rel = 'FROM'"
        ),
    ),
    "cypher_optional": Query(
        q_cypher_optional,
        _g(
            "SELECT DISTINCT n.id AS n, o.s AS s "
            "FROM gnodes n LEFT JOIN ("
            "  SELECT e.src AS s, e.dst AS d FROM gedges e "
            "  JOIN gnodes sn ON sn.id = e.src AND sn.label = 'Supplier' "
            "  WHERE e.rel = 'FROM'"
            ") o ON o.d = n.id "
            "WHERE n.label = 'Nation'"
        ),
    ),
    "cypher_where": Query(
        q_cypher_where,
        _g(
            "SELECT DISTINCT e.src AS c, e.dst AS n FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Customer' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Nation' AND b.name = 'NATION_7' "
            "WHERE e.rel = 'FROM'"
        ),
    ),
    "cypher_count": Query(
        q_cypher_count,
        _g(
            "SELECT count(DISTINCT e.src) AS cnt FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Customer' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Nation' AND b.name = 'NATION_7' "
            "WHERE e.rel = 'FROM'"
        ),
    ),
    "cypher_chain": Query(
        q_cypher_chain,
        _g(
            "SELECT DISTINCT e1.src AS s, e1.dst AS n, e2.dst AS r "
            "FROM gedges e1 "
            "JOIN gedges e2 ON e2.src = e1.dst AND e2.rel = 'IN' "
            "JOIN gnodes a ON a.id = e1.src AND a.label = 'Supplier' "
            "JOIN gnodes b ON b.id = e1.dst AND b.label = 'Nation' "
            "JOIN gnodes c ON c.id = e2.dst AND c.label = 'Region' AND c.name = 'ASIA' "
            "WHERE e1.rel = 'FROM'"
        ),
    ),
    "cypher_shared_var": Query(
        q_cypher_shared_var,
        _g(
            "SELECT DISTINCT e1.src AS s, e2.src AS c, e1.dst AS n "
            "FROM gedges e1 "
            "JOIN gedges e2 ON e2.dst = e1.dst AND e2.rel = 'FROM' "
            "JOIN gnodes a ON a.id = e1.src AND a.label = 'Supplier' "
            "JOIN gnodes b ON b.id = e2.src AND b.label = 'Customer' "
            "  AND b.name = 'Customer#000000042' "
            "JOIN gnodes nn ON nn.id = e1.dst AND nn.label = 'Nation' "
            "WHERE e1.rel = 'FROM'"
        ),
    ),
    "cypher_left_arrow": Query(
        q_cypher_left_arrow,
        _g(
            "SELECT DISTINCT e.src AS s, e.dst AS n FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Supplier' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Nation' AND b.name = 'NATION_3' "
            "WHERE e.rel = 'FROM'"
        ),
    ),
    "cypher_merge_match": Query(
        q_cypher_merge_match,
        "SELECT 'person:Samuel' AS a, 'person:Tasya' AS b",
    ),
    "cypher_return_names": Query(
        q_cypher_return_names,
        _g(
            "SELECT DISTINCT e.src AS n, a.name AS n_name, "
            "e.dst AS r, b.name AS r_name "
            "FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Nation' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Region' "
            "  AND b.name = 'EUROPE' "
            "WHERE e.rel = 'IN'"
        ),
    ),
    "cypher_attr_match": Query(
        q_cypher_attr_match,
        _g(
            "SELECT DISTINCT e.src AS c, e.dst AS n FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Customer' "
            "  AND a.a_segment = 'BUILDING' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Nation' "
            "  AND b.a_region = 'ASIA' "
            "WHERE e.rel = 'FROM'"
        ),
    ),
    "cypher_return_attrs": Query(
        q_cypher_return_attrs,
        _g(
            "SELECT DISTINCT e.src AS s, a.name AS s_name, "
            "a.attrs_str AS s_attrs, e.dst AS n, b.name AS n_name, "
            "b.attrs_str AS n_attrs "
            "FROM gedges e "
            "JOIN gnodes a ON a.id = e.src AND a.label = 'Supplier' "
            "JOIN gnodes b ON b.id = e.dst AND b.label = 'Nation' "
            "  AND b.a_region = 'EUROPE' "
            "WHERE e.rel = 'FROM'"
        ),
    ),
    "cypher_merge_attrs": Query(
        q_cypher_merge_attrs,
        "SELECT 'person:Sally' AS p, 'Sally' AS p_name, 'age=30' AS p_attrs",
    ),
    "cypher_var_length": Query(
        q_cypher_var_length,
        # FRIEND edges of the social graph; b = dst reachable from Samuel
        # in 1 or 2 FRIEND hops (pair-exists semantics, DISTINCT output).
        """
        WITH e(src, dst, rel) AS (VALUES
          ('person:Samuel','person:Tasya','FRIEND'),
          ('person:Tasya','person:Samuel','FRIEND'),
          ('person:Samuel','person:Simon','FRIEND'),
          ('person:Simon','person:Samuel','FRIEND'),
          ('person:Samuel','person:John','FRIEND'),
          ('person:Simon','person:Sally','FRIEND'),
          ('person:Sally','person:Simon','FRIEND'),
          ('person:Tasya','person:Margaret','FRIEND'),
          ('person:Margaret','person:Tasya','FRIEND')),
        f AS (SELECT src, dst FROM e WHERE rel = 'FRIEND')
        SELECT DISTINCT a, b FROM (
          SELECT src AS a, dst AS b FROM f
          UNION ALL
          SELECT x.src, y.dst FROM f x JOIN f y ON y.src = x.dst
        )
        WHERE a = 'person:Samuel'
          AND b LIKE 'person:%'
        """,
    ),
    "cypher_social_graph": Query(
        q_cypher_social_graph,
        # The 19 merges produce exactly these directed edges; the oracle
        # replays the 4-triple join over them (label = id prefix).
        """
        WITH e(src, dst, rel) AS (VALUES
          ('person:Samuel','person:Tasya','FRIEND'),
          ('person:Tasya','person:Samuel','FRIEND'),
          ('person:Samuel','person:Simon','FRIEND'),
          ('person:Simon','person:Samuel','FRIEND'),
          ('person:Samuel','person:John','FRIEND'),
          ('person:Simon','person:Sally','FRIEND'),
          ('person:Sally','person:Simon','FRIEND'),
          ('person:Tasya','person:Margaret','FRIEND'),
          ('person:Margaret','person:Tasya','FRIEND'),
          ('person:Samuel','post:Ideas','LIKES'),
          ('person:Tasya','post:Ideas','POSTED'),
          ('person:Tasya','post:Lamentations','POSTED'),
          ('person:Tasya','post:Love','POSTED'),
          ('person:Tasya','post:Thoughts','POSTED'),
          ('person:Samuel','post:Thoughts','LIKES'),
          ('person:Tasya','food:Pocky','LIKES'),
          ('post:Ideas','person:Margaret','REFERS'),
          ('post:Thoughts','person:John','REFERS'),
          ('post:Samuel','post:Love','LIKES'))
        SELECT DISTINCT f.src AS start, f.dst AS "end",
               l.dst AS post, r.dst AS person
        FROM e f
        JOIN e l ON l.src = f.src AND l.rel = 'LIKES'
        JOIN e p2 ON p2.src = f.dst AND p2.dst = l.dst AND p2.rel = 'POSTED'
        JOIN e r ON r.src = l.dst AND r.rel = 'REFERS'
        WHERE f.rel = 'FRIEND'
          AND f.src LIKE 'person:%' AND f.dst LIKE 'person:%'
          AND l.dst LIKE 'post:%' AND r.dst LIKE 'person:%'
        """,
    ),
}
