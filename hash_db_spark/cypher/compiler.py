"""Cypher → DataFrame compiler (SURVEY §2.4 G2-G7).

The reference executes MATCH with per-node numpy adjacency-matrix matmuls
and candidate-chain intersection on ONE data node
(/root/reference/client.py:894-1186, placement server.py:1146-1156). Here a
pattern compiles to a join DAG over two DataFrames, of NODES_SCHEMA and
EDGES_SCHEMA:

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
filters push into the scan. The facade's stores start as empty
LocalRelations and keep a true size estimate through every checkpoint
(localframe.py), so Catalyst plans the joins of a small graph as
broadcast joins up front, shipping the small side to the other as GraphX
ships vertices to edges, where an unknown size would plan sort-merge
joins for AQE to re-plan after their shuffles. No single-node graph
placement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from hash_db_spark.cypher.parser import CypherParser, Edge, Node
from hash_db_spark.localframe import append

NODES_SCHEMA = "id string, label string, name string, attrs map<string,string>"
EDGES_SCHEMA = "src string, dst string, rel string"


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
        edge upsert is idempotent append (G2/G3). It decides on the
        driver from two collects and no join: the stored labels of the
        pattern's node ids, and the stored edges from its source nodes.
        On Delta-backed storage this is a MERGE INTO.

        The new rows leave through localframe.append: one capped
        checkpoint per store that gains rows, none otherwise. It cuts the
        union chain, so a long session keeps a flat plan, and caps the
        partitions, so later MATCHes and MERGEs run no more tasks.
        """
        # Pattern order: the first mention of a node wins (the reference's
        # find-else-create: a second mention finds the first).
        mentions: list[tuple] = []
        new_edges: dict[tuple, None] = {}  # an ordered set
        for chain in parser.chains:
            ids = []
            for node in chain[::2]:
                name = node.attributes.get("name")
                if name is None:
                    raise ValueError("merge nodes need a name attribute")
                label = node.label or "Node"
                attrs = {k: v for k, v in node.attributes.items() if k != "name"}
                ids.append(f"{label.lower()}:{name}")
                mentions.append((ids[-1], label, name, attrs))
            for i, edge in enumerate(chain[1::2]):
                src, dst = ids[i], ids[i + 1]
                if edge.direction != "right":
                    src, dst = dst, src
                new_edges[(src, dst, edge.name)] = None

        # Node identity is lower(label):name (reference id scheme; MATCH
        # still compares labels case-sensitively). An id met with another
        # label, stored or earlier in the pattern, would be silently
        # dropped as existing — refuse loudly instead.
        known = F.col("id").isin([m[0] for m in mentions])
        labels = dict(self.nodes.select("id", "label").filter(known).collect())
        new_nodes = []
        for row in mentions:
            nid, label = row[:2]
            if nid not in labels:
                labels[nid] = label
                new_nodes.append(row)
            elif labels[nid] != label:
                raise ValueError(
                    f"merge label conflict on node id {nid!r}: existing "
                    f"label {labels[nid]!r} vs merged {label!r} "
                    "(node identity is case-insensitive on the label)"
                )
        srcs = list({e[0] for e in new_edges})
        probe = self.edges.select("src", "dst", "rel").filter(F.col("src").isin(srcs))
        stored = set(map(tuple, probe.collect())) if srcs else set()
        return (
            append(self.nodes, new_nodes, NODES_SCHEMA),
            append(self.edges, [e for e in new_edges if e not in stored],
                   EDGES_SCHEMA),
        )

    def merge_many(self, statements: list[str]) -> tuple[DataFrame, DataFrame]:
        """Apply a sequence of MERGE statements as ONE batched upsert.

        Sequential MERGEs are monotone insert-if-absent (find-else-create,
        first occurrence's attributes win), so folding all statement
        patterns driver-side in order and deciding them in one merge is
        result-identical to running them one by one, a label conflict
        between two statements included. It runs no shuffle at all: one
        probe and at most one append per store, not one per statement.
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
