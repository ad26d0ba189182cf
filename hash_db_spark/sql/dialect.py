"""Reference-dialect SQL engine (SURVEY §3.1).

The reference parses its SQL with a hand-written char tokenizer +
recursive descent into parser fields, then if/elif-dispatches executors
over trie keyspaces (/root/reference/server.py:350-555,672-1074). Here the
same dialect parses into a tiny spec and *compiles to DataFrame
operations*, so Catalyst plans every statement.

Supported surface (everything example.py exercises):

    select [distinct] <cols|*> from <t>
        [inner join <t2> on <a.x> = <b.y>]...
        [where <t.f> <=|!=|<|<=|>|>=> <v> [and ...]]
            [<t.f> ~ '<tok> & <tok> | <tok>']   (comparisons: free win)
        [group by <t.f>]                          (count(*) aggregate)
        [order by <t.f> [asc|desc][, ...]] [limit <n>]   (free win, §2.2)
    insert into <t> (<f>, ...) values (<v>, ...)  (dynamic schema, auto-id)
    update <t> set <t.f> = <v>[, ...] where ...
    create join inner join <t2> on <a.x> = <b.y> ...   (materialized join)

Semantic choices vs the reference (SURVEY §2 caveats): typed equality
(int literals compare numerically, not string-prefix); UPDATE recomputes
immutable frames (Delta MERGE in production); ``create join`` registers an
incrementally-computable view instead of re-joining on every insert
(README.md:31 calls the reference's eager write-time join "not very
efficient" — the streaming materialization in streaming/windows.py is the
scalable equivalent).

Tables live in a mutable name→DataFrame catalog. An INSERT reads
max(id) in one aggregate and appends its row with id max + 1 through
localframe.append; an UPDATE recomputes the table. Either way the new
table leaves through capped_checkpoint before it replaces the catalog
entry, so a statement that raises changes nothing.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from hash_db_spark.localframe import append, capped_checkpoint, local_frame
from hash_db_spark.operators.fts import compile_fts, compile_phrase
# insert_rows is unused here but stays importable: perfbench's tracer
# patches it by name in this module when it installs.
from hash_db_spark.operators.relational import insert_rows, update_where  # noqa: F401

_STR = r"'([^']*)'"
_TYPES = {str: T.StringType(), int: T.LongType(), float: T.DoubleType()}
_REF = r"([A-Za-z_][\w]*)\.([\w~\[\]]+)"


def _normalize_ws(text: str) -> str:
    """Collapse whitespace runs to single spaces OUTSIDE single-quoted
    literals. A bare ``' '.join(text.split())`` would rewrite string
    VALUES — `'A  B'` silently stored as `'A B'`, phrase queries with
    tabs altered — corrupting data with no error."""
    out: list[str] = []
    in_str = False
    pending = False
    for ch in text:
        if ch == "'":
            in_str = not in_str
        if not in_str and ch.isspace():
            pending = True
            continue
        if pending and out:
            out.append(" ")
        pending = False
        out.append(ch)
    return "".join(out)


def _split_outside_quotes(s: str, pattern: str) -> list[str]:
    """Split ``s`` on regex ``pattern`` matches that fall outside
    single-quoted literals — `where name = 'rock and roll'` must not
    split at the quoted 'and', and an UPDATE set list must not split at
    a comma inside a value."""
    parts, last = [], 0
    for m in re.finditer(pattern, s, re.IGNORECASE):
        if s.count("'", 0, m.start()) % 2 == 0:
            parts.append(s[last : m.start()])
            last = m.end()
    parts.append(s[last:])
    return parts


def _fts_or_phrase(fld: str, q: str):
    """``~ '"a b"'`` (inner double quotes) = adjacency phrase match;
    otherwise the reference's &/| term fold."""
    if len(q) >= 2 and q.startswith('"') and q.endswith('"'):
        return compile_phrase(fld, q[1:-1])
    return compile_fts(fld, q)


def _lit(token: str):
    """Reference literal typing: [0-9.]+ coerces to int
    (/root/reference/server.py:477-478), else string."""
    token = token.strip()
    if m := re.fullmatch(_STR, token):
        return m.group(1)
    if re.fullmatch(r"[0-9]+", token):
        return int(token)
    if re.fullmatch(r"[0-9.]+", token):
        try:
            return float(token)
        except ValueError as exc:  # e.g. '1.2.3'
            raise ValueError(f"dialect: malformed numeric literal {token!r}") from exc
    return token


class SqlEngine:
    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables: dict[str, DataFrame] = dict(tables)
        # table -> list of (right_table, left_ref, right_ref) join specs
        # registered by `create join` (reference server.py:674-696).
        self.joins: dict[str, list[tuple[str, str, str]]] = {}

    # ------------------------------------------------------------------ api

    def sql(self, text: str) -> DataFrame | None:
        text = _normalize_ws(text)
        low = text.lower()
        if low.startswith("create join"):
            return self._create_join(text)
        if low.startswith("insert into"):
            return self._insert(text)
        if low.startswith("update "):
            return self._update(text)
        if low.startswith("select "):
            return self._select(text)
        raise ValueError(f"unsupported statement: {text[:60]!r}")

    def materialized_view(self, table: str) -> DataFrame:
        """The queryable result of a registered `create join`: the driving
        table joined through every spec. Computed lazily — Catalyst plans
        it per query; a production deployment materializes it with
        streaming/windows.materialized_view_stream."""
        df = self.tables[table]
        for right, lref, rref in self.joins.get(table, []):
            df = self._merge_join(
                df, lref.split(".", 1)[1], self.tables[right], rref.split(".", 1)[1]
            )
        return df

    # -------------------------------------------------------------- helpers

    def _resolve(self, scope: dict[str, DataFrame], ref: str, allow_any=False) -> Column:
        """table.field → Column in scope (bare field names; the join
        output merges columns like the reference's dict-merge row model,
        client.py:418)."""
        t, f = ref.split(".", 1)
        if t not in scope and not allow_any:
            raise ValueError(f"unknown table in reference {ref!r}")
        return F.col(f)

    def _merge_join(
        self, left: DataFrame, lfield: str, right: DataFrame, rfield: str
    ) -> DataFrame:
        """Inner equijoin with the reference's row-merge semantics: on
        column-name collision (notably the auto `id`) the right side wins
        ({**build_row, **probe_row}, /root/reference/client.py:418)."""
        dup = [c for c in left.columns if c in right.columns]
        lkey = F.col(lfield)
        if lfield in dup:
            left = left.withColumn("__lkey", lkey)
            lkey = F.col("__lkey")
        left = left.drop(*dup)
        return left.join(right, lkey == F.col(rfield)).drop("__lkey")

    # ----------------------------------------------------------- statements

    def _create_join(self, text: str):
        specs = re.findall(
            rf"inner join (\w+) on {_REF} = {_REF}", text, re.IGNORECASE
        )
        if not specs:
            raise ValueError(f"create join: no specs in {text!r}")
        n_joins = len(re.findall(r"\binner join\b", text, re.IGNORECASE))
        if len(specs) != n_joins:
            # Unqualified refs match the statement router but not _REF;
            # silently registering a subset would materialize a partial
            # join with no error.
            raise ValueError(
                f"create join: every spec needs table.field = "
                f"table.field refs: {text!r}"
            )
        # The driving table is the one that appears in specs but is never
        # the joined (right) table — e.g. items in the README example.
        rights = {s[0] for s in specs}
        mentioned = {s[1] for s in specs} | {s[3] for s in specs}
        driving_cands = mentioned - rights
        if not driving_cands:
            raise ValueError("create join: cannot infer driving table")
        if len(driving_cands) > 1:
            # Two disconnected chains in one statement: set.pop() would
            # pick a driving table hash-order-nondeterministically and
            # register specs under a table one chain never touches.
            raise ValueError(
                f"create join: ambiguous driving table {sorted(driving_cands)}"
                " — register one chain per statement"
            )
        driving = driving_cands.pop()
        registered = []
        for right, lt, lf, rt, rf in specs:
            # Normalize so left ref belongs to the driving side.
            if lt == right:
                lt, lf, rt, rf = rt, rf, lt, lf
            registered.append((right, f"{lt}.{lf}", f"{right}.{rf}"))
        self.joins[driving] = registered
        return None

    def _insert(self, text: str):
        m = re.match(
            r"insert into (\w+) \(([^)]*)\) values \((.*)\)", text, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"bad insert: {text!r}")
        table, fields_s, values_s = m.groups()
        fields = [f.strip() for f in fields_s.split(",")]
        values = self._split_values(values_s)
        if len(fields) != len(values):
            raise ValueError(f"insert arity mismatch: {fields} vs {values}")
        cells = dict(zip(fields, values))
        cells.pop("id", None)  # the engine assigns ids
        base = self.tables.get(table)
        # The reference's per-table counter (server.py:757-771), read off
        # the table, so a table replaced from outside needs no reset.
        top = 0 if base is None else base.agg(F.max("id")).first()[0] or 0
        row = [*sorted(cells.items()), ("id", top + 1)]
        schema = T.StructType([T.StructField(f, _TYPES[type(v)]) for f, v in row])
        rows = [tuple(v for _, v in row)]
        # A first insert creates the table (emergent schema, README.md:175)
        # by appending its row to an empty table of the row's schema.
        if base is None:
            base = local_frame(self.spark, [], schema)
        self.tables[table] = append(base, rows, schema)
        return None

    def _split_values(self, s: str) -> list:
        out, i, n = [], 0, len(s)
        while i < n:
            while i < n and s[i] in " ,":
                i += 1
            if i >= n:
                break
            if s[i] == "'":
                j = s.index("'", i + 1)
                out.append(s[i + 1 : j])
                i = j + 1
            else:
                j = i
                while j < n and s[j] != ",":
                    j += 1
                out.append(_lit(s[i:j]))
                i = j
        return out

    def _parse_wheres(self, clause: str):
        """-> (predicate list [(ref, op, value)], fts list [(ref, query)]).
        op ∈ {=, !=, <, <=, >, >=} — comparison operators are a free-win
        extension (§2.2; the reference grammar only has ``=``,
        /root/reference/server.py SQL tests)."""
        preds, fts = [], []
        for part in _split_outside_quotes(clause, r"\band\b"):
            part = part.strip()
            if not part:
                continue
            if m := re.fullmatch(rf"{_REF} ~ {_STR}", part):
                fts.append((f"{m.group(1)}.{m.group(2)}", m.group(3)))
            elif m := re.fullmatch(
                # value lookahead: 'age >< 3' must not parse as '>'
                # with literal '< 3'
                rf"{_REF}\s*(<=|>=|!=|<>|=|<|>)\s*(?![<>=!])(.+)", part
            ):
                op = "!=" if m.group(3) == "<>" else m.group(3)
                preds.append(
                    (f"{m.group(1)}.{m.group(2)}", op, _lit(m.group(4)))
                )
            else:
                raise ValueError(f"bad where predicate: {part!r}")
        return preds, fts

    @staticmethod
    def _cmp(col: Column, op: str, val) -> Column:
        lit = F.lit(val)
        return {
            "=": col == lit,
            "!=": col != lit,
            "<": col < lit,
            "<=": col <= lit,
            ">": col > lit,
            ">=": col >= lit,
        }[op]

    def _update(self, text: str):
        m = re.match(
            r"update (\w+) set (.+?)(?: where (.+))?$", text, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"bad update: {text!r}")
        table, sets_s, where_s = m.groups()
        assignments: dict[str, Column] = {}
        # comma split honors quotes: set people.name = 'Smith, John'
        for part in _split_outside_quotes(sets_s, ","):
            sm = re.fullmatch(rf"\s*{_REF} = (.+?)\s*", part)
            if not sm:
                raise ValueError(f"bad set clause: {part!r}")
            assignments[sm.group(2)] = F.lit(_lit(sm.group(3)))
        df = self.tables[table]
        cond = F.lit(True)
        if where_s:
            preds, fts = self._parse_wheres(where_s)
            for ref, op, val in preds:
                if ref.split(".", 1)[1].startswith("~"):
                    raise ValueError(
                        "document-path predicates are not supported in "
                        "UPDATE (select them, then save() the changed "
                        "documents)"
                    )
                cond = cond & self._cmp(
                    self._resolve({table: df}, ref), op, val
                )
            for ref, q in fts:
                _, fld = ref.split(".", 1)
                cond = cond & _fts_or_phrase(fld, q)
        self.tables[table] = capped_checkpoint(update_where(df, cond, assignments))
        return None

    def _select(self, text: str):
        m = re.match(
            r"select (distinct )?(.+?) from (\w+)"
            r"((?: inner join \w+ on \S+ = \S+)*)"
            r"(?: where (.+?))?"
            r"(?: group by (\S+))?"
            r"(?: order by (.+?))?"
            r"(?: limit (\d+))?$",
            text,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"bad select: {text!r}")
        (distinct_s, cols_s, table, joins_s, where_s, group_s, order_s,
         limit_s) = m.groups()

        scope = {table: self.tables[table]}
        df = self.tables[table]
        join_specs = re.findall(
            rf"inner join (\w+) on {_REF} = {_REF}", joins_s or "", re.IGNORECASE
        )
        n_joins = len(re.findall(r"\binner join\b", joins_s or "", re.IGNORECASE))
        if len(join_specs) != n_joins:
            # The outer select regex accepts `on \S+ = \S+`; a join whose
            # refs aren't table.field would otherwise be silently DROPPED
            # and the query would run un-joined on the base table.
            raise ValueError(
                f"join requires table.field = table.field refs: {joins_s!r}"
            )
        for right, lt, lf, rt, rf in join_specs:
            lref, rref = (f"{lt}.{lf}", f"{rt}.{rf}")
            if lt == right:
                lref, rref = rref, lref
            df = self._merge_join(
                df,
                lref.split(".", 1)[1],
                self.tables[right],
                rref.split(".", 1)[1],
            )
            scope[right] = self.tables[right]

        if where_s:
            preds, fts = self._parse_wheres(where_s)
            for ref, op, val in preds:
                _, fld = ref.split(".", 1)
                if fld.startswith("~"):
                    if op != "=":
                        raise ValueError(
                            f"document-path predicates support '=' only, "
                            f"got {op!r}"
                        )
                    # Document path predicate: t.~hobbies[]~name = v
                    # (example.py:324-335) — explode the path, filter the
                    # leaf, keep one row per matching element.
                    from hash_db_spark.operators.documents import filter_path

                    leaf = fld.split("~")[-1]
                    keep = [c for c in df.columns]
                    df = filter_path(
                        df, fld.lstrip("~"), val, *keep, leaf_alias=f"__m_{leaf}"
                    ).drop(f"__m_{leaf}")
                else:
                    df = df.filter(
                        self._cmp(self._resolve(scope, ref), op, val)
                    )
            for ref, q in fts:
                _, fld = ref.split(".", 1)
                df = df.filter(_fts_or_phrase(fld, q))

        if group_s:
            key = group_s.split(".", 1)[1] if "." in group_s else group_s
            # Aggregate list: count(*) (reference semantics, R10) plus
            # sum/avg/min/max(t.f) as free-win extensions (§2.2; aliased
            # <fn>_<field> so the name is stable and oracle-matchable).
            aggs = []
            if "count(*)" in cols_s.lower():
                aggs.append(F.count(F.lit(1)).alias("cnt"))
            for fn, _t, fld in re.findall(
                r"\b(sum|avg|min|max)\((\w+)\.(\w+)\)", cols_s, re.IGNORECASE
            ):
                fn = fn.lower()
                aggs.append(getattr(F, fn)(fld).alias(f"{fn}_{fld}"))
            # Every function-call-looking token in the select list must
            # have parsed into an aggregate: an unqualified sum(value) or
            # spaced count ( * ) would otherwise silently degrade the
            # whole query to DISTINCT keys with no aggregate column.
            called = re.findall(r"\b(\w+)\s*\(", cols_s)
            if len(called) != len(aggs):
                raise ValueError(
                    f"group by: unsupported aggregate in {cols_s!r} — "
                    "supported: count(*), sum/avg/min/max(table.field)"
                )
            if aggs:
                out = df.groupBy(key).agg(*aggs)
            else:
                # GROUP BY with no aggregate in the select list = distinct
                # keys (GroupedData.agg() with zero expressions is a
                # runtime error in pyspark).
                out = df.select(key).distinct()
            return self._order_limit(out, order_s, limit_s)

        if cols_s.strip() == "*":
            out = df
        else:
            out_cols = []
            for c in cols_s.split(","):
                c = c.strip()
                if "." in c:
                    c = c.split(".", 1)[1]
                if c.startswith("~"):
                    # Document path projection: select
                    # people.~hobbies[]~name (example.py:341-344) — one
                    # output row per leaf.
                    from hash_db_spark.operators.documents import compile_path

                    leaf = c.split("~")[-1]
                    df, col = compile_path(df, c.lstrip("~"), leaf)
                    df = df.withColumn(leaf, col)
                    c = leaf
                out_cols.append(c)
            # Projection skips rows missing a selected field
            # (client.py:655-661) — under our schema: dropna on selection.
            out = df.select(*out_cols).dropna(how="any")
        if distinct_s:
            out = out.distinct()
        return self._order_limit(out, order_s, limit_s)

    @staticmethod
    def _order_limit(df: DataFrame, order_s: str | None, limit_s: str | None):
        """Free-win clauses the reference lacks (SURVEY §2.2: sorting
        exists only in the KV API K8). ORDER BY compiles to a distributed
        sort; with LIMIT, Spark plans TakeOrderedAndProject — a per-
        partition top-k + size-k driver merge, no global sort, so the
        combination is scale-safe even on a 100 TB scan."""
        if order_s:
            keys = []
            for part in order_s.split(","):
                toks = part.strip().split()
                ref = toks[0]
                fld = ref.split(".", 1)[1] if "." in ref else ref
                desc = len(toks) > 1 and toks[1].lower() == "desc"
                keys.append(F.col(fld).desc() if desc else F.col(fld).asc())
            df = df.orderBy(*keys)
        if limit_s:
            df = df.limit(int(limit_s))
        return df
