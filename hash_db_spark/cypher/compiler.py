"""Cypher → DataFrame compiler (SURVEY §2.4 G2-G7).

The reference executes MATCH with per-node numpy adjacency-matrix matmuls
and candidate-chain intersection on ONE data node
(/root/reference/client.py:894-1186, placement server.py:1146-1156). Here a
pattern compiles to a join DAG over two DataFrames:

    nodes(id, label, name, attrs map<string,string>)
    edges(src, dst, rel)

- each pattern variable becomes one join of ``nodes`` (filtered by label /
  attributes; non-name attributes probe the free-form ``attrs`` map the
  way the reference consults its inverted attribute index,
  client.py:772-778, 876-891) — G4;
- each relationship becomes one join of ``edges`` on (src, dst) according
  to arrow direction — G5 (1-hop matmul ≡ edge equijoin);
- a variable appearing in several triples is *bound*: all constraints join
  on the same column, which is exactly the reference's candidate-set
  intersection (client.py:978-1082) — G6;
- RETURN projects the bound node-id columns — G7.

Node identity is (label, name) — the reference finds nodes by attributes
alone (client.py:876-891), which silently merges same-named nodes across
labels (example.py's Post 'Samuel' collides with Person 'Samuel'); we keep
labels distinct and document the divergence.

Scale: node/edge tables partition like any DataFrame; label+attribute
filters push into the scan, AQE broadcasts small frontiers. No single-node
graph placement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from hash_db_spark.cypher.parser import CypherParser, Edge, Node
from hash_db_spark.localframe import capped_checkpoint, local_frame


class CypherCompiler:
    def __init__(self, nodes: DataFrame, edges: DataFrame) -> None:
        self.nodes = nodes
        self.edges = edges

    # -- MATCH --------------------------------------------------------------

    def match(
        self,
        parser: CypherParser,
        with_names: bool = False,
        with_attrs: bool = False,
    ) -> DataFrame:
        """Compile chains to a join DAG; returns one column per returned
        variable (node id). With ``with_names`` each returned variable
        also projects a ``<var>_name`` column; with ``with_attrs`` it also
        projects ``<var>_attrs``, the node's full attribute dict rendered
        canonically as 'k=v;k=v' with keys sorted (the reference returns
        whole node objects incl. the attribute dict, client.py:1198-1219)."""
        # Merge per-variable constraints across all occurrences.
        constraints: dict[str, Node] = {}
        # Variables whose merged constraints are contradictory (the same
        # attribute equal to two different values): conjunction semantics
        # — the pattern matches nothing, which is a valid empty result,
        # not an error. Plain dict.update would silently keep the LAST
        # value and return wrong rows.
        impossible: set[str] = set()

        def merge_attrs(var: str, target: dict, incoming: dict) -> None:
            for k, v in incoming.items():
                if k in target and target[k] != v:
                    impossible.add(var)
                target[k] = v

        anon_count = 0

        def normalize(
            raw_chains, cons: dict[str, Node]
        ) -> list[list[tuple]]:
            nonlocal anon_count
            out = []
            for chain in raw_chains:
                normalized = []
                for item in chain:
                    if isinstance(item, Node):
                        var = item.variable
                        if var is None:
                            var = f"__anon{anon_count}"
                            anon_count += 1
                        c = cons.setdefault(var, Node(variable=var))
                        if item.label:
                            if c.label and c.label != item.label:
                                raise ValueError(
                                    f"variable {var} bound to labels "
                                    f"{c.label} and {item.label}"
                                )
                            c.label = item.label
                        merge_attrs(var, c.attributes, item.attributes)
                        normalized.append(("node", var))
                    else:
                        normalized.append(("edge", item))
                out.append(normalized)
            return out

        chains = normalize(parser.chains, constraints)
        # OPTIONAL MATCH: its own constraint scope — a label/attr stated
        # in the optional pattern must not filter the mandatory rows.
        opt_constraints: dict[str, Node] = {}
        opt_chains = normalize(
            getattr(parser, "optional_chains", []), opt_constraints
        )
        shared_vars = sorted(constraints.keys() & opt_constraints.keys())
        for v in shared_vars:
            oc = opt_constraints[v]
            if oc.label or oc.attributes:
                raise ValueError(
                    f"optional match: shared variable {v!r} must be bare "
                    "(constraints on it belong in the mandatory pattern)"
                )
        if opt_chains and not shared_vars:
            raise ValueError(
                "optional match must share at least one variable with match"
            )

        # WHERE var.attr = 'v' folds into the same per-variable attribute
        # constraints as inline {attr: 'v'} maps — identical semantics,
        # applied at candidate generation (so the filter sits UNDER the
        # pattern joins, not over the joined result).
        for var, attr, value in getattr(parser, "where_clause", []):
            if var not in constraints:
                raise ValueError(f"where references unbound variable {var!r}")
            merge_attrs(var, constraints[var].attributes, {attr: value})

        def candidates(var: str, cons: dict[str, Node] | None = None) -> DataFrame:
            c = (cons if cons is not None else constraints)[var]
            df = self.nodes
            if var in impossible:
                return df.filter(F.lit(False)).select(
                    F.col("id").alias(var)
                )
            if c.label:
                df = df.filter(F.col("label") == c.label)
            for k, v in c.attributes.items():
                if k == "name":
                    df = df.filter(F.col("name") == v)
                else:
                    # Free-form attribute: map probe (missing key -> NULL
                    # -> row filtered), the reference's attribute-index
                    # lookup (client.py:876-891).
                    df = df.filter(F.element_at(F.col("attrs"), k) == v)
            return df.select(F.col("id").alias(var))

        def edge_relation(edge: Edge) -> DataFrame:
            """(src, dst) pairs the edge pattern relates. A plain edge is
            the rel-filtered edge list; a variable-length edge
            (-[:R*lo..hi]->) is the union of its h-fold self-compositions
            for h in [lo, hi] — pair-EXISTS semantics (one row per
            reachable pair, not per path), which is indistinguishable
            from path-multiplicity semantics here because MATCH output is
            DISTINCT over the bound variables. Bounded hops = bounded
            joins; each composition level is deduplicated so a dense
            clique can't multiply intermediate rows. The n-hop BFS with
            distances lives in operators/graph.n_hop_reach."""
            e = self.edges.filter(F.col("rel") == edge.name).select("src", "dst")
            if edge.min_hops == 1 and edge.max_hops == 1:
                return e
            e = e.distinct()
            reach: DataFrame | None = None
            cur = e
            for h in range(1, edge.max_hops + 1):
                if h >= edge.min_hops:
                    reach = cur if reach is None else reach.unionByName(cur)
                if h < edge.max_hops:
                    cur = (
                        cur.alias("l")
                        .join(e.alias("r"), F.col("l.dst") == F.col("r.src"))
                        .select(
                            F.col("l.src").alias("src"),
                            F.col("r.dst").alias("dst"),
                        )
                        .distinct()
                    )
            return reach.distinct()

        edge_idx = 0

        def compile_chains(
            norm_chains, cons: dict[str, Node]
        ) -> tuple[DataFrame | None, set[str]]:
            nonlocal edge_idx
            result: DataFrame | None = None
            bound: set[str] = set()
            for chain in norm_chains:
                if len(chain) == 1:
                    # Lone-node chain in a (possibly multi-chain) MATCH:
                    # bind it via cross product with the rest — the
                    # Cypher contract for comma-separated disconnected
                    # patterns. Without this the chain was silently
                    # dropped (or its RETURN raised 'unbound').
                    _, v = chain[0]
                    if v not in bound:
                        c = candidates(v, cons)
                        result = c if result is None else result.crossJoin(c)
                        bound.add(v)
                    continue
                for i in range(0, len(chain) - 2, 2):
                    (_, v1), (_, edge), (_, v2) = (
                        chain[i], chain[i + 1], chain[i + 2]
                    )
                    src_var, dst_var = (
                        (v1, v2) if edge.direction == "right" else (v2, v1)
                    )
                    e = edge_relation(edge).select(
                        F.col("src").alias(f"__src{edge_idx}"),
                        F.col("dst").alias(f"__dst{edge_idx}"),
                    )
                    if result is None:
                        result = candidates(src_var, cons).join(
                            e, F.col(src_var) == F.col(f"__src{edge_idx}")
                        )
                        bound.add(src_var)
                    else:
                        if src_var in bound:
                            result = result.join(
                                e, F.col(src_var) == F.col(f"__src{edge_idx}")
                            )
                        else:
                            result = result.crossJoin(
                                candidates(src_var, cons)
                            ).join(
                                e, F.col(src_var) == F.col(f"__src{edge_idx}")
                            )
                            bound.add(src_var)
                    if dst_var in bound:
                        result = result.filter(
                            F.col(dst_var) == F.col(f"__dst{edge_idx}")
                        )
                    else:
                        result = result.join(
                            candidates(dst_var, cons),
                            F.col(dst_var) == F.col(f"__dst{edge_idx}"),
                        )
                        bound.add(dst_var)
                    result = result.drop(
                        f"__src{edge_idx}", f"__dst{edge_idx}"
                    )
                    edge_idx += 1
            return result, bound

        result, bound = compile_chains(chains, constraints)
        if result is None:  # single-node pattern, no edges
            only = next(iter(constraints))
            result = candidates(only)
            bound.add(only)

        if opt_chains:
            # Left-join the optional pattern's matches on the shared
            # variables: rows of the mandatory result with no optional
            # match keep NULLs for the optional-only variables — the
            # standard OPTIONAL MATCH contract. Shared vars inside the
            # optional compile use bare candidates (all ids); the join
            # narrows them, and Catalyst pushes the equi-condition down.
            opt_result, opt_bound = compile_chains(opt_chains, opt_constraints)
            if opt_result is None:
                raise ValueError("optional match requires an edge pattern")
            opt_result = opt_result.select(
                *sorted(opt_bound)
            ).distinct()
            result = result.join(opt_result, shared_vars, "left")
            bound |= opt_bound

        count_var = getattr(parser, "return_count", None)
        if count_var is not None:
            if count_var not in bound:
                raise ValueError(f"count() of unbound variable {count_var!r}")
            # count(v) = number of DISTINCT matches of v (match output is
            # set-semantics over bound variables). F.count(col), not
            # count(1): an OPTIONAL MATCH variable contributes a NULL for
            # unmatched rows, and Cypher count(expr) skips NULLs.
            return (
                result.select(count_var)
                .distinct()
                .agg(F.count(F.col(count_var)).alias("cnt"))
            )
        # Default projection (no RETURN): named variables only — the
        # __anonN synthetics backing anonymous pattern nodes are
        # internal and must not leak into the result schema.
        out_vars = parser.return_clause or sorted(
            v for v in bound if not v.startswith("__anon")
        )
        if not out_vars:
            raise ValueError(
                "match binds no named variables — add a RETURN clause "
                "or name a pattern node"
            )
        missing = [v for v in out_vars if v not in bound]
        if missing:
            raise ValueError(f"return of unbound variables: {missing}")
        out = result.select(*out_vars).distinct()
        if with_names or with_attrs:
            proj = [F.col("id")]
            if with_names:
                proj.append(F.col("name"))
            if with_attrs:
                # Canonical sorted 'k=v;k=v' rendering — deterministic
                # across engines (map iteration order is not).
                proj.append(
                    F.concat_ws(
                        ";",
                        F.array_sort(
                            F.transform(
                                F.map_entries(F.col("attrs")),
                                lambda e: F.concat(
                                    e["key"], F.lit("="), e["value"]
                                ),
                            )
                        ),
                    ).alias("attrs_str")
                )
            node_proj = self.nodes.select(*proj)
            for v in out_vars:
                cols = [F.col("id").alias(v)]
                if with_names:
                    cols.append(F.col("name").alias(f"{v}_name"))
                if with_attrs:
                    cols.append(F.col("attrs_str").alias(f"{v}_attrs"))
                # left: an OPTIONAL MATCH variable can be NULL — an inner
                # join here would silently drop those rows.
                out = out.join(node_proj.select(*cols), v, "left")
        return out

    # -- MERGE --------------------------------------------------------------

    def merge(self, parser: CypherParser) -> tuple[DataFrame, DataFrame]:
        """Upsert pattern nodes and edges; returns (nodes', edges').

        Node upsert is find-by-(label, name)-else-create
        (reference: find by attributes else create, client.py:876-891);
        edge upsert is idempotent append (G2/G3). Implemented as anti-join
        + union — on Delta-backed storage this is a MERGE INTO.

        Both outputs leave through capped_checkpoint. The checkpoint cuts
        the lineage: each merge's plan references the previous nodes frame
        twice (union + anti-join), so chained merges would otherwise grow
        the logical plan 2^n and OOM the driver during analysis. The cap
        keeps the layout flat: each union appends the delta's partitions,
        so without it a graph would gain partitions on every merge and
        every later MATCH and MERGE would run more tasks. A materialized
        upsert per batch is also what the Delta path does.
        """
        spark = self.nodes.sparkSession
        # Driver-side first-wins dedupe: a pattern mentioning the same
        # (label, name) node in several chains (or repeating an edge) must
        # contribute ONE delta row — the anti-join only filters against
        # pre-existing frames, and first-occurrence-wins matches the
        # reference's find-else-create (the second mention finds the first).
        new_nodes: dict[str, tuple] = {}
        new_edges: dict[tuple, tuple] = {}
        for chain in parser.chains:
            seq: list[Node | Edge] = list(chain)
            for item in seq:
                if isinstance(item, Node):
                    name = item.attributes.get("name")
                    if name is None:
                        raise ValueError("merge nodes need a name attribute")
                    label = item.label or "Node"
                    attrs = {
                        k: v for k, v in item.attributes.items() if k != "name"
                    }
                    nid = f"{label.lower()}:{name}"
                    new_nodes.setdefault(nid, (nid, label, name, attrs))
            for i in range(0, len(seq) - 2, 2):
                n1, edge, n2 = seq[i], seq[i + 1], seq[i + 2]
                assert isinstance(edge, Edge)
                id1 = f"{(n1.label or 'Node').lower()}:{n1.attributes['name']}"
                id2 = f"{(n2.label or 'Node').lower()}:{n2.attributes['name']}"
                src, dst = (id1, id2) if edge.direction == "right" else (id2, id1)
                new_edges.setdefault((src, dst, edge.name), (src, dst, edge.name))

        nodes_delta = local_frame(
            spark,
            new_nodes.values(),
            "id string, label string, name string, attrs map<string,string>",
        )
        edges_delta = local_frame(
            spark, new_edges.values(), "src string, dst string, rel string"
        )
        # Node identity is lower(label):name (reference id scheme; MATCH
        # still compares labels case-sensitively). A merge whose id
        # collides with an existing node of a DIFFERENT label would be
        # silently anti-joined away and never created — refuse loudly.
        conflict = (
            nodes_delta.alias("n")
            .join(self.nodes.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .select("id", F.col("n.label").alias("new_label"),
                    F.col("o.label").alias("old_label"))
            .limit(1)
            .collect()
        )
        if conflict:
            c = conflict[0]
            raise ValueError(
                f"merge label conflict on node id {c['id']!r}: existing "
                f"label {c['old_label']!r} vs merged {c['new_label']!r} "
                "(node identity is case-insensitive on the label)"
            )
        nodes_out = self.nodes.unionByName(
            nodes_delta.join(self.nodes.select("id"), "id", "left_anti"),
            allowMissingColumns=True,
        )
        edges_out = self.edges.unionByName(
            edges_delta.join(self.edges, ["src", "dst", "rel"], "left_anti")
        )
        return capped_checkpoint(nodes_out), capped_checkpoint(edges_out)

    def merge_many(self, statements: list[str]) -> tuple[DataFrame, DataFrame]:
        """Apply a sequence of MERGE statements as ONE batched upsert.

        Sequential MERGEs are monotone insert-if-absent (find-else-create,
        first occurrence's attributes win), so folding all statement deltas
        driver-side in order and applying a single anti-join + union +
        checkpoint is result-identical to running them one by one — and one
        shuffle instead of N (the bulk-ingest shape for scale).
        """
        merged = CypherParser()
        merged.kind = "merge"
        for stmt in statements:
            p = CypherParser().parse(stmt)
            if p.kind != "merge":
                raise ValueError(f"merge_many got non-merge: {stmt!r}")
            merged.chains.extend(p.chains)
        return self.merge(merged)

    # -- entry --------------------------------------------------------------

    def run(self, statement: str):
        p = CypherParser().parse(statement)
        if p.kind == "match":
            return self.match(p)
        return self.merge(p)
