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

The front end does each step once, for every statement:

- ``mask`` replaces the i-th single-quoted literal with ``'i'`` and keeps
  the literal strings in a list. Everything after it parses the masked
  text, so no clause regex or split ever sees a keyword, comma, ``;`` or
  whitespace run inside a value, and ``_lit`` resolves ``'i'`` back to
  its string. It is the dialect's only quote-aware code; ``statements``
  splits a script with it.
- ``_join_specs`` parses and orients every ``inner join T on a.x = b.y``
  (``select`` and ``create join``); ``SqlEngine._joined`` is the one
  merge-join loop (``select`` and ``materialized_view``).
- ``_where`` compiles a WHERE clause into one ANDed Column plus the
  document-path predicates (``select`` and ``update``).

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

from functools import reduce
import operator
import re

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from hash_db_spark.localframe import append, capped_checkpoint, local_frame
from hash_db_spark.operators.documents import compile_path, filter_path
from hash_db_spark.operators.fts import compile_fts, compile_phrase
# insert_rows is unused here but stays importable: perfbench's tracer
# patches it by name in this module when it installs.
from hash_db_spark.operators.relational import insert_rows, update_where  # noqa: F401

_TYPES = {str: T.StringType(), int: T.LongType(), float: T.DoubleType()}
_REF = r"([A-Za-z_][\w]*)\.([\w~\[\]]+)"
_MASKED = r"'(\d+)'"  # a masked literal: its index in the literal list
_JOIN = rf"inner join (\w+) on {_REF} = {_REF}"
_OPS = {"=": operator.eq, "!=": operator.ne, "<>": operator.ne,
        "<": operator.lt, "<=": operator.le, ">": operator.gt,
        ">=": operator.ge}


def mask(text: str) -> tuple[str, list[str]]:
    """-> (text with the i-th ``'...'`` literal replaced by ``'i'`` and
    whitespace runs collapsed to one space, the literal strings). The
    dialect has no escapes: a literal runs to the next quote, and a quote
    left over raises."""
    literals: list[str] = []

    def index(m: re.Match) -> str:
        literals.append(m.group(1))
        return f"'{len(literals) - 1}'"

    masked = re.sub(r"'([^']*)'", index, text)
    if masked.count("'") != 2 * len(literals):
        raise ValueError(f"unterminated string literal in {text!r}")
    return " ".join(masked.split()), literals


def statements(script: str) -> list[str]:
    """The non-empty statements of a script: split on every ``;`` outside
    a literal, each with its literals restored."""
    masked, literals = mask(script)
    restore = lambda m: f"'{literals[int(m.group(1))]}'"  # noqa: E731
    return [re.sub(_MASKED, restore, s).strip()
            for s in masked.split(";") if s.strip()]


def _fts_or_phrase(fld: str, q: str):
    """``~ '"a b"'`` (inner double quotes) = adjacency phrase match;
    otherwise the reference's &/| term fold."""
    if len(q) >= 2 and q.startswith('"') and q.endswith('"'):
        return compile_phrase(fld, q[1:-1])
    return compile_fts(fld, q)


def _lit(token: str, literals: list[str]):
    """Reference literal typing: a masked ``'i'`` is its string,
    [0-9.]+ coerces to int (/root/reference/server.py:477-478), and any
    other token stays a string."""
    token = token.strip()
    if m := re.fullmatch(_MASKED, token):
        return literals[int(m.group(1))]
    if re.fullmatch(r"[0-9]+", token):
        return int(token)
    if re.fullmatch(r"[0-9.]+", token):
        try:
            return float(token)
        except ValueError as exc:  # e.g. '1.2.3'
            raise ValueError(f"dialect: malformed numeric literal {token!r}") from exc
    return token


def _join_specs(text: str) -> list[tuple[str, str, str, str]]:
    """Every ``inner join T on a.x = b.y`` in masked ``text`` as
    (left table, left field, T, T's field): exactly one side of the ON
    clause must name T, and that side becomes the right one."""
    specs = []
    for right, lt, lf, rt, rf in re.findall(_JOIN, text, re.IGNORECASE):
        if (lt == right) == (rt == right):
            raise ValueError(
                f"join {right}: exactly one side of the ON clause must "
                f"name {right}: {text!r}"
            )
        specs.append((rt, rf, lt, lf) if lt == right else (lt, lf, rt, rf))
    if len(specs) != len(re.findall(r"\binner join\b", text, re.IGNORECASE)):
        # A join whose refs aren't table.field would otherwise be
        # silently dropped and the query run un-joined.
        raise ValueError(f"join requires table.field = table.field refs: {text!r}")
    return specs


def _where(scope: set[str], clause: str, literals: list[str]):
    """Compile a masked WHERE clause -> (comparisons ANDed before FTS
    terms as one Column, or None if it has neither; [(document path,
    value)]). op ∈ {=, !=, <>, <, <=, >, >=} — comparison operators are a
    free-win extension (§2.2; the reference grammar only has ``=``,
    /root/reference/server.py SQL tests)."""
    cmps, fts, paths = [], [], []
    for part in re.split(r" and ", clause, flags=re.IGNORECASE):
        fts_m = re.fullmatch(rf"{_REF} ~ {_MASKED}", part)
        # value lookahead: 'age >< 3' must not parse as '>' with literal '< 3'
        m = fts_m or re.fullmatch(
            rf"{_REF} ?(<=|>=|!=|<>|=|<|>) ?(?![<>=!])(.+)", part
        )
        if not m:
            raise ValueError(f"bad where predicate: {part!r}")
        if m.group(1) not in scope:
            raise ValueError(f"unknown table in reference {m.group(1)}.{m.group(2)}")
        if fts_m:
            fts.append(_fts_or_phrase(m.group(2), literals[int(m.group(3))]))
            continue
        _, fld, op, value = m.groups()
        value = _lit(value, literals)
        if not fld.startswith("~"):
            cmps.append(_OPS[op](F.col(fld), F.lit(value)))
        elif op == "=":
            paths.append((fld.lstrip("~"), value))
        else:
            raise ValueError(
                f"document-path predicates support '=' only, got {op!r}"
            )
    # Comparisons first: they are cheap, and the tokenizing FTS terms
    # then run only on the rows that pass them.
    conds = cmps + fts
    return (reduce(operator.and_, conds) if conds else None), paths


class SqlEngine:
    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables: dict[str, DataFrame] = dict(tables)
        # driving table -> its `create join` specs as _join_specs returns
        # them (reference server.py:674-696).
        self.joins: dict[str, list[tuple[str, str, str, str]]] = {}

    # ------------------------------------------------------------------ api

    def sql(self, text: str) -> DataFrame | None:
        masked, literals = mask(text)
        low = masked.lower()
        if low.startswith("create join"):
            return self._create_join(masked)
        if low.startswith("insert into"):
            return self._insert(masked, literals)
        if low.startswith("update "):
            return self._update(masked, literals)
        if low.startswith("select "):
            return self._select(masked, literals)
        raise ValueError(f"unsupported statement: {text[:60]!r}")

    def materialized_view(self, table: str) -> DataFrame:
        """The queryable result of a registered `create join`: the driving
        table joined through every spec. Computed lazily — Catalyst plans
        it per query; a production deployment materializes it with
        streaming/windows.materialized_view_stream."""
        return self._joined(self.tables[table], self.joins.get(table, []))

    def _joined(self, df: DataFrame, specs) -> DataFrame:
        """``df`` inner-equijoined through each _join_specs spec, with the
        reference's row-merge semantics: output columns are bare field
        names, and on a name collision (notably the auto `id`) the right
        side wins ({**build_row, **probe_row},
        /root/reference/client.py:418)."""
        for _, lfield, right, rfield in specs:
            rdf = self.tables[right]
            dup = [c for c in df.columns if c in rdf.columns]
            lkey = F.col(lfield)
            if lfield in dup:
                df = df.withColumn("__lkey", lkey)
                lkey = F.col("__lkey")
            df = df.drop(*dup).join(rdf, lkey == F.col(rfield)).drop("__lkey")
        return df

    # ----------------------------------------------------------- statements

    def _create_join(self, text: str):
        specs = _join_specs(text)
        if not specs:
            raise ValueError(f"create join: no specs in {text!r}")
        # The driving table is the one the specs join from but never join
        # to — e.g. items in the README example.
        driving = {s[0] for s in specs} - {s[2] for s in specs}
        if not driving:
            raise ValueError("create join: cannot infer driving table")
        if len(driving) > 1:
            # Two disconnected chains in one statement: set.pop() would
            # pick a driving table hash-order-nondeterministically and
            # register specs under a table one chain never touches.
            raise ValueError(
                f"create join: ambiguous driving table {sorted(driving)}"
                " — register one chain per statement"
            )
        self.joins[driving.pop()] = specs
        return None

    def _insert(self, text: str, literals: list[str]):
        m = re.match(
            r"insert into (\w+) \(([^)]*)\) values \((.*)\)", text, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"bad insert: {text!r}")
        table, fields_s, values_s = m.groups()
        fields = [f.strip() for f in fields_s.split(",")]
        values = [v.strip() for v in values_s.split(",")]
        if "" in values:
            raise ValueError(f"insert: empty value in ({values_s})")
        if len(fields) != len(values):
            raise ValueError(f"insert arity mismatch: {fields} vs {values}")
        cells = {f: _lit(v, literals) for f, v in zip(fields, values)}
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

    def _update(self, text: str, literals: list[str]):
        m = re.match(
            r"update (\w+) set (.+?)(?: where (.+))?$", text, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"bad update: {text!r}")
        table, sets_s, where_s = m.groups()
        assignments: dict[str, Column] = {}
        for part in sets_s.split(","):
            sm = re.fullmatch(rf"{_REF} = (.+)", part.strip())
            if not sm:
                raise ValueError(f"bad set clause: {part!r}")
            assignments[sm.group(2)] = F.lit(_lit(sm.group(3), literals))
        df = self.tables[table]
        cond, paths = (
            _where({table}, where_s, literals) if where_s else (F.lit(True), [])
        )
        if paths:
            raise ValueError(
                "document-path predicates are not supported in UPDATE "
                "(select them, then save() the changed documents)"
            )
        self.tables[table] = capped_checkpoint(update_where(df, cond, assignments))
        return None

    def _select(self, text: str, literals: list[str]):
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

        specs = _join_specs(joins_s)
        df = self._joined(self.tables[table], specs)
        if where_s:
            cond, paths = _where({table, *(s[2] for s in specs)}, where_s, literals)
            for path, value in paths:
                # Document path predicate: t.~hobbies[]~name = v
                # (example.py:324-335) — explode the path, filter the
                # leaf, keep one row per matching element.
                leaf = f"__m_{path.split('~')[-1]}"
                df = filter_path(df, path, value, *df.columns, leaf_alias=leaf).drop(leaf)
            if cond is not None:
                df = df.filter(cond)

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
