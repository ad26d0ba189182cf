"""Cypher → Spark SQL compiler (SURVEY §2.4 G2-G7).

The reference executes MATCH with per-node numpy adjacency-matrix matmuls
and candidate-chain intersection on ONE data node
(/root/reference/client.py:894-1186, placement server.py:1146-1156). Here a
pattern compiles to ONE SQL statement over two DataFrames, of NODES_SCHEMA
and EDGES_SCHEMA:

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

The statement is a WITH list of small named tables (each variable's
candidates, each edge pattern's pairs) and one SELECT over their joins,
run as ``spark.sql(text, args=params, nodes=..., edges=...)``. One call
analyses the plan once, where building the same joins through DataFrame
calls analyses the growing plan again at each of about 30 calls, 34-72
ms per MATCH before any job runs. Every label, relationship
name, attribute key and value is a named parameter (``:p0``, ...), so a
value is data, never SQL: a name holding a quote, a brace or ``--``
matches itself and cannot change the statement. Variable names become
backquoted identifiers; the store DataFrames enter as ``{nodes}`` and
``{edges}``, which spark.sql formats to temporary views for the call.

Node identity is (label, name) — the reference finds nodes by attributes
alone (client.py:876-891), which silently merges same-named nodes across
labels (example.py's Post 'Samuel' collides with Person 'Samuel'); we keep
labels distinct and document the divergence.

Scale: node/edge tables partition like any DataFrame; label+attribute
filters push into the scan, and Catalyst inlines each named table where
it is used, so the statement plans exactly as the same joins built
through the DataFrame API would. The facade's stores start as empty
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


def _ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier. Braces double as well:
    spark.sql formats its text with str.format when it is given
    DataFrames to refer to."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


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
        """Compile the pattern to one SQL statement; returns one column
        per returned variable (node id). With ``with_names`` each returned
        variable also projects a ``<var>_name`` column; with ``with_attrs``
        it also projects ``<var>_attrs``, the node's full attribute dict
        rendered canonically as 'k=v;k=v' with keys sorted (the reference
        returns whole node objects incl. the attribute dict,
        client.py:1198-1219)."""
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
        opt_chains = normalize(parser.optional_chains, opt_constraints)
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
        for var, attr, value in parser.where_clause:
            if var not in constraints:
                raise ValueError(f"where references unbound variable {var!r}")
            merge_attrs(var, constraints[var].attributes, {attr: value})

        # The statement's WITH list, and the values of its parameters.
        tables: list[str] = []
        params: dict[str, str] = {}

        def param(value: str) -> str:
            params[f"p{len(params)}"] = value
            return f":p{len(params) - 1}"

        def table(body: str) -> str:
            tables.append(f"__t{len(tables)} AS ({body})")
            return f"__t{len(tables) - 1}"

        def candidates(var: str, cons: dict[str, Node]) -> str:
            """A table of the ids that may bind ``var``. A non-name
            attribute probes the free-form ``attrs`` map (missing key ->
            NULL -> row filtered), the reference's attribute-index lookup
            (client.py:876-891)."""
            c = cons[var]
            where = []
            if var in impossible:
                where.append("false")
            else:
                if c.label:
                    where.append(f"label = {param(c.label)}")
                for k, v in c.attributes.items():
                    col = ("name" if k == "name"
                           else f"element_at(attrs, {param(k)})")
                    where.append(f"{col} = {param(v)}")
            sql = "SELECT id FROM {nodes}"
            if where:
                sql += " WHERE " + " AND ".join(where)
            return table(sql)

        def edge_relation(edge: Edge) -> str:
            """A table of the (src, dst) pairs the edge pattern relates.
            A plain edge is the rel-filtered edge list; a variable-length
            edge (-[:R*lo..hi]->) is the union of its h-fold
            self-compositions for h in [lo, hi] — pair-EXISTS semantics
            (one row per reachable pair, not per path), which is
            indistinguishable from path-multiplicity semantics here
            because MATCH output is DISTINCT over the bound variables.
            Bounded hops = bounded joins; each composition level is
            deduplicated so a dense clique can't multiply intermediate
            rows. The n-hop BFS with distances lives in
            operators/graph.n_hop_reach."""
            rel = f"src, dst FROM {{edges}} WHERE rel = {param(edge.name)}"
            if edge.min_hops == edge.max_hops == 1:
                return table("SELECT " + rel)
            levels = [table("SELECT DISTINCT " + rel)]
            for _ in range(1, edge.max_hops):
                levels.append(table(
                    f"SELECT DISTINCT l.src, r.dst FROM {levels[-1]} l "
                    f"JOIN {levels[0]} r ON l.dst = r.src"))
            return table(" UNION ".join(
                f"SELECT src, dst FROM {t}"
                for t in levels[edge.min_hops - 1:]))

        def compile_chains(
            norm_chains, cons: dict[str, Node]
        ) -> tuple[str, dict[str, str]]:
            """The FROM clause of the chains' joins, and the column that
            binds each variable. A variable met again is *bound*: its
            later constraints join on the same column."""
            joins: list[str] = []
            bound: dict[str, str] = {}

            def join(t: str, on: str | None = None) -> None:
                if not joins:
                    joins.append(t)
                elif on is None:
                    joins.append(f"CROSS JOIN {t}")
                else:
                    joins.append(f"JOIN {t} ON {on}")

            def bind(var: str, on_id: str | None = None) -> None:
                t = candidates(var, cons)
                join(t, on_id and f"{t}.id = {on_id}")
                bound[var] = f"{t}.id"

            for chain in norm_chains:
                if len(chain) == 1:
                    # Lone-node chain in a (possibly multi-chain) MATCH:
                    # bind it via cross product with the rest — the
                    # Cypher contract for comma-separated disconnected
                    # patterns.
                    _, v = chain[0]
                    if v not in bound:
                        bind(v)
                    continue
                for i in range(0, len(chain) - 2, 2):
                    (_, v1), (_, edge), (_, v2) = (
                        chain[i], chain[i + 1], chain[i + 2]
                    )
                    src_var, dst_var = (
                        (v1, v2) if edge.direction == "right" else (v2, v1)
                    )
                    if src_var not in bound:
                        bind(src_var)
                    e = edge_relation(edge)
                    on = f"{bound[src_var]} = {e}.src"
                    if dst_var in bound:
                        join(e, f"{on} AND {bound[dst_var]} = {e}.dst")
                    else:
                        join(e, on)
                        bind(dst_var, f"{e}.dst")
            return " ".join(joins), bound

        frm, bound = compile_chains(chains, constraints)
        if opt_chains:
            # Left-join the optional pattern's matches on the shared
            # variables: rows of the mandatory result with no optional
            # match keep NULLs for the optional-only variables — the
            # standard OPTIONAL MATCH contract. Shared vars inside the
            # optional compile use bare candidates (all ids); the join
            # narrows them.
            opt_frm, opt_bound = compile_chains(opt_chains, opt_constraints)
            o = table("SELECT DISTINCT " + ", ".join(
                f"{opt_bound[v]} AS {_ident(v)}" for v in sorted(opt_bound)
            ) + f" FROM {opt_frm}")
            frm += f" LEFT JOIN {o} ON " + " AND ".join(
                f"{bound[v]} = {o}.{_ident(v)}" for v in shared_vars)
            for v in opt_bound.keys() - bound.keys():
                bound[v] = f"{o}.{_ident(v)}"

        count_var = parser.return_count
        if count_var is not None:
            if count_var not in bound:
                raise ValueError(f"count() of unbound variable {count_var!r}")
            # count(v) = number of DISTINCT matches of v (match output is
            # set-semantics over bound variables). count(v), not
            # count(1): an OPTIONAL MATCH variable contributes a NULL for
            # unmatched rows, and Cypher count(expr) skips NULLs.
            select = (f"SELECT count(DISTINCT {bound[count_var]}) AS cnt "
                      f"FROM {frm}")
        else:
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
            select = "SELECT DISTINCT " + ", ".join(
                f"{bound[v]} AS {_ident(v)}" for v in out_vars
            ) + f" FROM {frm}"
        if count_var is None and (with_names or with_attrs):
            # Whole-node objects: each returned variable left-joins its
            # node (an OPTIONAL MATCH variable can be NULL — an inner
            # join here would silently drop those rows). The attribute
            # dict renders as canonical sorted 'k=v;k=v', deterministic
            # across engines (map iteration order is not).
            proj = ["id"]
            if with_names:
                proj.append("name")
            if with_attrs:
                proj.append(
                    "concat_ws(';', array_sort(transform(map_entries(attrs),"
                    " e -> concat(e.key, '=', e.value)))) AS attrs"
                )
            m = table(select)
            cols = [f"{m}.{_ident(v)}" for v in out_vars]
            joins = ""
            for v in out_vars:
                n = table(f"SELECT {', '.join(proj)} FROM {{nodes}}")
                joins += f" LEFT JOIN {n} ON {n}.id = {m}.{_ident(v)}"
                if with_names:
                    cols.append(f"{n}.name AS {_ident(v + '_name')}")
                if with_attrs:
                    cols.append(f"{n}.attrs AS {_ident(v + '_attrs')}")
            select = f"SELECT {', '.join(cols)} FROM {m}{joins}"
        return self.nodes.sparkSession.sql(
            f"WITH {', '.join(tables)} {select}",
            args=params, nodes=self.nodes, edges=self.edges,
        )

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
