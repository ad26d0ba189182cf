"""Property-based tests (hypothesis): each operator family checked
against an independent pure-Python model on randomized inputs. Slow
Spark round-trips are bounded with small example counts; determinism
(derandomize) keeps CI stable."""

from __future__ import annotations

import json
from collections import Counter, defaultdict

from hypothesis import given, settings, strategies as st, HealthCheck
from hypothesis.stateful import (
    Bundle,
    RuleBasedStateMachine,
    initialize,
    invariant,
    multiple,
    precondition,
    rule,
    run_state_machine_as_test,
)

import pyspark.sql.functions as F
import pytest

from hash_db_spark.operators import kv as K
from hash_db_spark.operators.fts import fts_filter
from hash_db_spark.operators import dedup as D

# SPARK_GRAFT_HYP_EXAMPLES raises the per-test example budget for an
# extended fuzz pass (each example is a Spark round-trip, so the default
# stays small); SPARK_GRAFT_HYP_RANDOM=1 disables derandomize so repeated
# fuzz passes explore fresh inputs (hypothesis prints any failing example,
# which is all a repro needs).
import os

SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
    deadline=None,
    derandomize=os.environ.get("SPARK_GRAFT_HYP_RANDOM", "") == "",
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.sampled_from(
    ["spark", "join", "merge", "table", "row", "scan", "fast", "slow", "key"]
)
texts = st.lists(words, min_size=1, max_size=12).map(" ".join)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.text(alphabet="abcd#0123", min_size=1, max_size=6),
            st.integers(0, 99).map(str),
        ),
        min_size=1,
        max_size=20,
    ),
    pk=st.sampled_from(["a", "b", "c"]),
    lo=st.text(alphabet="abcd#0123", min_size=1, max_size=3),
    hi=st.text(alphabet="abcd#0123", min_size=1, max_size=3),
)
def test_kv_between_matches_model(spark, rows, pk, lo, hi):
    # dedupe (pk, sk) last-wins like a KV store
    dedup = {}
    for p, s, v in rows:
        dedup[(p, s)] = v
    data = [(p, s, v) for (p, s), v in dedup.items()]
    kv = spark.createDataFrame(data, ["pk", "sk", "value"])
    got = [
        (r.pk, r.sk, r.value)
        for r in K.query_between(kv, pk, lo, hi).collect()
    ]
    model = sorted(
        (p, s, v) for p, s, v in data if p == pk and lo <= s <= hi
    )
    assert sorted(got) == model
    # emission order is (pk, sk) ascending (K8)
    assert got == sorted(got)


# Few keys, so writes hit stored keys and reads find them; "z" < "é" <
# "😀" checks that Spark's UTF-8 byte order and Python's code-point order
# agree, and an occasional None checks that a NULL key matches no read
# yet is stored, replaced and cleared like any other key. Ranges are drawn
# ordered, so most of them select rows.
kv_keys = st.sampled_from(["a", "z", "é", "é😀", "😀", None])
kv_values = st.sampled_from(["0", "1", "é"])
kv_bounds = st.sampled_from(["", "a", "z", "é", "😀", "😀😀"])
kv_ranges = st.tuples(kv_bounds, kv_bounds).map(sorted)

# Each range verb from one draw of a key, two prefixes, two closed ranges
# and a strict bound: the facade call's arguments, and the model's
# predicate on a non-NULL (pk, sk).
KV_RANGE_READS = {
    "query_begins": lambda k, p, q, r, t, b: (
        (k, p), lambda pk, sk: pk == k and sk.startswith(p)),
    "query_pk_sk_begins": lambda k, p, q, r, t, b: (
        (p, q), lambda pk, sk: pk.startswith(p) and sk.startswith(q)),
    "query_between": lambda k, p, q, r, t, b: (
        (k, *r), lambda pk, sk: pk == k and r[0] <= sk <= r[1]),
    "both_between": lambda k, p, q, r, t, b: (
        (*r, *t), lambda pk, sk: r[0] <= pk <= r[1] and t[0] <= sk <= t[1]),
    "query_before_than": lambda k, p, q, r, t, b: (
        (k, p, b), lambda pk, sk: pk == k and sk.startswith(p) and sk < b),
    "query_greater_than": lambda k, p, q, r, t, b: (
        (k, p, b), lambda pk, sk: pk == k and sk.startswith(p) and sk > b),
}


class HashDbKvMachine(RuleBasedStateMachine):
    """The HashDb KV verbs against a dict model. Every read is compared
    with the model as it runs; the whole table at teardown. With
    _CHECKPOINT_EVERY patched to 3, a run crosses several folds, and
    overwrite/clear/get draw keys already written, so an answer that
    depends on whether a key has been folded shows up."""

    spark = None  # set by the test before the run
    written = Bundle("written")

    def __init__(self):
        super().__init__()
        from hash_db_spark.api import HashDb

        self.db = HashDb(self.spark)
        self.model: dict = {}

    @initialize(
        target=written,
        rows=st.dictionaries(st.tuples(kv_keys, kv_keys), kv_values, max_size=8),
    )
    def load(self, rows):
        """Start from a stored table, assigned through ``db.kv``."""
        self.db.kv = self.spark.createDataFrame(
            [(*k, v) for k, v in rows.items()], "pk string, sk string, value string"
        ).localCheckpoint()
        self.model.update(rows)
        return multiple(*rows)

    @rule(target=written, pk=kv_keys, sk=kv_keys, value=kv_values)
    def set(self, pk, sk, value):
        self.db.set(pk, sk, value)
        self.model[(pk, sk)] = value
        return (pk, sk)

    @rule(key=written, value=kv_values)
    def overwrite(self, key, value):
        self.db.set(*key, value)
        self.model[key] = value

    @rule(key=written)
    def clear(self, key):
        self.db.clear(*key)
        self.model.pop(key, None)

    @rule(key=written)
    def get(self, key):
        want = None if None in key else self.model.get(key)
        assert self.db.get(*key) == want

    @rule(
        verb=st.sampled_from(sorted(KV_RANGE_READS)),
        key=kv_keys,
        bounds=st.tuples(kv_bounds, kv_bounds, kv_ranges, kv_ranges, kv_bounds),
        desc=st.booleans(),
    )
    def range_read(self, verb, key, bounds, desc):
        args, match = KV_RANGE_READS[verb](key, *bounds)
        want = sorted(
            (
                (p, s, v)
                for (p, s), v in self.model.items()
                if p is not None and s is not None and match(p, s)
            ),
            reverse=desc,
        )
        assert getattr(self.db, verb)(*args, desc=desc) == want

    @rule(desc=st.booleans())
    def scan(self, desc):
        """Every non-NULL key: a read that shows any stored row the
        pending writes should hide."""
        self.range_read("query_pk_sk_begins", None, ("", "", None, None, None), desc)

    @rule(key=written, desc=st.booleans())
    def key_ranges(self, key, desc):
        """Ranges ending at a written key: a closed end includes it, a
        strict end excludes it."""
        pk, sk = key
        want = [] if None in key or key not in self.model else [
            (pk, sk, self.model[key])
        ]
        assert self.db.query_between(pk, sk, sk, desc) == want
        assert self.db.both_between(pk, pk, sk, sk, desc) == want
        strict = self.db.query_before_than(pk, "", sk, desc)
        strict += self.db.query_greater_than(pk, "", sk, desc)
        assert key not in [r[:2] for r in strict]

    @rule(key=written)
    def null_key_reads(self, key):
        """A NULL key or bound matches nothing, pending or stored."""
        pk, sk = key
        assert self.db.get(None, sk) is None and self.db.get(pk, None) is None
        assert self.db.query_begins(None, "") == []
        assert self.db.query_between(None, "", "😀😀") == []

    @invariant()
    def delta_stays_bounded(self):
        from hash_db_spark import api

        assert len(self.db._kv_delta) < api._CHECKPOINT_EVERY

    def teardown(self):
        got = Counter((r.pk, r.sk, r.value) for r in self.db.kv.collect())
        assert got == Counter((p, s, v) for (p, s), v in self.model.items())


def test_hashdb_kv_matches_dict_model(spark, monkeypatch):
    from hash_db_spark import api

    monkeypatch.setattr(api, "_CHECKPOINT_EVERY", 3)
    monkeypatch.setattr(HashDbKvMachine, "spark", spark)
    run_state_machine_as_test(
        HashDbKvMachine, settings=settings(**SETTINGS, stateful_step_count=50)
    )


# Two tables and three typed columns, so inserts land in existing tables
# and widen them; values mix ASCII, non-ASCII and astral characters. The
# nodes share two names across Person, PERSON and Post: Person and PERSON
# map to one node id, which a MERGE must refuse.
write_tables = st.sampled_from(["folks", "gear"])
write_texts = st.one_of(
    st.text(alphabet="aZ é😀,;()", max_size=4),
    st.sampled_from(["a where b", "x order by y", "rock and roll",
                     "g group by h", "n limit 5", "p; q", "(s, t)"]),
)
write_cells = st.fixed_dictionaries(
    {}, optional={"name": write_texts, "age": st.integers(0, 99),
                  "city": write_texts},
).filter(bool)
merge_nodes = st.tuples(
    st.sampled_from(["Person", "PERSON", "Post"]),
    st.sampled_from(["Ann", "Bø"]),
    st.sampled_from([{}, {"age": "1"}, {"age": "2"}]),
)
merge_edges = st.tuples(st.sampled_from(["KNOWS", "LIKES"]), st.booleans())
write_updates = st.one_of(
    st.tuples(st.just("age"), st.integers(0, 99)),
    st.tuples(st.just("city"), write_texts),
)
write_rows = st.integers(1, 4)


def _sql_lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


class WriteModel:
    """Plain-Python model of the facade's write verbs: tables of row
    dicts with ids from a per-table counter, and the graph as
    id -> (label, name, attrs) plus a set of (src, dst, rel) edges."""

    def __init__(self):
        self.tables: dict[str, list[dict]] = {}
        self.nodes: dict[str, tuple] = {}
        self.edges: set[tuple[str, str, str]] = set()

    def insert(self, table: str, cells: dict) -> None:
        rows = self.tables.setdefault(table, [])
        rows.append({**cells, "id": len(rows) + 1})

    def update(self, table: str, col: str, value, where: tuple) -> None:
        key, want = where
        for row in self.tables[table]:  # the column exists even if no row matches
            row[col] = value if row.get(key) == want else row.get(col)

    def select_all(self, table: str) -> list[dict]:
        cols = {c for row in self.tables[table] for c in row}
        return [{c: row.get(c) for c in cols} for row in self.tables[table]]

    def merge(self, chain: list) -> bool:
        """Apply one MERGE chain [node, (rel, right), node, ...]; False,
        with nothing changed, on a label conflict."""
        nodes = dict(self.nodes)
        ids = []
        for label, name, attrs in chain[::2]:
            nid = f"{label.lower()}:{name}"
            if nid in nodes and nodes[nid][0] != label:
                return False
            nodes.setdefault(nid, (label, name, attrs))
            ids.append(nid)
        for i, (rel, right) in enumerate(chain[1::2]):
            src, dst = ids[i], ids[i + 1]
            self.edges.add((src, dst, rel) if right else (dst, src, rel))
        self.nodes = nodes
        return True


class HashDbWriteMachine(RuleBasedStateMachine):
    """Dialect INSERT and UPDATE and Cypher MERGE through one HashDb
    against WriteModel. Each rule compares the store it wrote; teardown
    compares every store."""

    spark = None  # set by the test before the run

    def __init__(self):
        super().__init__()
        from hash_db_spark.api import HashDb

        self.db = HashDb(self.spark)
        self.model = WriteModel()

    def check_table(self, table: str) -> None:
        got = sorted(self.db.sql(f"select * from {table}"), key=lambda r: r["id"])
        assert got == self.model.select_all(table)

    def check_graph(self) -> None:
        got = sorted(
            (r.id, r.label, r.name, sorted(r.attrs.items()))
            for r in self.db.nodes.collect()
        )
        want = sorted(
            (i, label, name, sorted(attrs.items()))
            for i, (label, name, attrs) in self.model.nodes.items()
        )
        assert got == want
        edges = [tuple(r) for r in self.db.edges.collect()]
        assert sorted(edges) == sorted(self.model.edges)

    def insert_stmt(self, table: str, cells: dict) -> str:
        self.model.insert(table, cells)
        vals = ", ".join(_sql_lit(v) for v in cells.values())
        return f"insert into {table} ({', '.join(cells)}) values ({vals})"

    def update_stmt(self, table: str, update: tuple, row: int) -> str:
        """'' when the table does not exist yet."""
        if table not in self.model.tables:
            return ""
        col, value = update
        self.model.update(table, col, value, ("id", row))
        return (f"update {table} set {table}.{col} = {_sql_lit(value)} "
                f"where {table}.id = {row}")

    @rule(table=write_tables, cells=write_cells)
    def insert(self, table, cells):
        self.db.sql(self.insert_stmt(table, cells))
        self.check_table(table)

    @rule(table=write_tables, update=write_updates, row=write_rows)
    def update(self, table, update, row):
        if stmt := self.update_stmt(table, update, row):
            self.db.sql(stmt)
            self.check_table(table)

    @rule(writes=st.lists(
        st.one_of(st.tuples(write_tables, write_cells),
                  st.tuples(write_tables, write_updates, write_rows)),
        min_size=2, max_size=3))
    def script(self, writes):
        """Two or three writes as one sql_script."""
        stmts = [self.insert_stmt(*w) if len(w) == 2 else self.update_stmt(*w)
                 for w in writes]
        assert self.db.sql_script("; ".join(stmts)) is None
        for table in {w[0] for w in writes} & self.model.tables.keys():
            self.check_table(table)

    @rule(first=merge_nodes,
          rest=st.lists(st.tuples(merge_edges, merge_nodes), max_size=2))
    def merge(self, first, rest):
        chain = [first] + [x for pair in rest for x in pair]
        text = "merge "
        for i, item in enumerate(chain):
            if i % 2 == 0:
                label, name, attrs = item
                props = {"name": name, **attrs}.items()
                text += f"(:{label} {{{', '.join(f'{k}: {v!r}' for k, v in props)}}})"
            else:
                rel, right = item
                text += f"-[:{rel}]->" if right else f"<-[:{rel}]-"
        if self.model.merge(chain):
            self.db.cypher(text)
        else:
            with pytest.raises(ValueError, match="label conflict"):
                self.db.cypher(text)
        self.check_graph()

    def teardown(self):
        for table in self.model.tables:
            self.check_table(table)
        self.check_graph()


def test_hashdb_writes_match_model(spark, monkeypatch):
    monkeypatch.setattr(HashDbWriteMachine, "spark", spark)
    run_state_machine_as_test(
        HashDbWriteMachine, settings=settings(**SETTINGS, stateful_step_count=12)
    )


# JSON documents for schema inference: nested objects, arrays of structs,
# int/float/string/bool conflicts on one key, nulls and missing keys, and
# non-ASCII keys and values.
json_keys = st.sampled_from(["a", "b", "nom", "città", "年齢"])
json_leaves = st.one_of(
    st.none(), st.booleans(), st.integers(-10**6, 10**6),
    st.floats(-1e6, 1e6, allow_nan=False), st.text("aé年😀 ", max_size=4),
)
json_values = st.recursive(
    json_leaves,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(json_keys, inner, max_size=3),
        st.lists(st.dictionaries(json_keys, inner, max_size=3), max_size=3),
    ),
    max_leaves=8,
)
json_docs = st.lists(
    st.dictionaries(json_keys, json_values, max_size=4), min_size=1, max_size=6
)


@settings(**SETTINGS)
@given(docs=json_docs, sample=st.integers(1, 4))
def test_infer_schema_matches_python_rdd_inference(spark, docs, sample):
    """infer_schema reads the JSON on the JVM; its schema equals what
    ``read.json`` infers from a Python RDD of the same strings, and
    ``sample`` bounds the documents it reads: with one distinct key per
    document, the schema holds min(sample, documents) fields."""
    from hash_db_spark.localframe import local_frame
    from hash_db_spark.operators.documents import infer_schema

    strings = [json.dumps(d, ensure_ascii=False) for d in docs]
    frame = local_frame(spark, [(x,) for x in strings], "json string")
    oracle = spark.read.json(spark.sparkContext.parallelize(strings)).schema
    assert infer_schema(frame, "json") == oracle

    keyed = local_frame(
        spark, [(json.dumps({f"k{i}": i}),) for i in range(len(docs))],
        "json string",
    )
    fields = infer_schema(keyed, "json", sample=sample).fields
    assert len(fields) == min(sample, len(docs))


# The session model of the benchmark's example_session workload, carried
# here so tier-1 checks the same answers: tables of row dicts with ids
# from a per-table counter, the graph's edges and Person ids, and the
# documents by id.
def _canon(rows) -> list:
    """Order-insensitive form of a list of row dicts (nested values
    serialised so dicts and lists compare by content)."""
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


class SessionModel:
    def __init__(self):
        self.tables: dict[str, list[dict]] = defaultdict(list)
        self.edges: set[tuple[str, str, str]] = set()
        self.persons: set[str] = set()
        self.docs: dict[str, dict] = {}

    def insert(self, table: str, row: dict) -> None:
        rows = self.tables[table]
        rows.append({**row, "id": len(rows) + 1})

    def succ(self, node: str, rel: str) -> set[str]:
        return {d for s, d, r in self.edges if s == node and r == rel}


# Few names, so MERGE chains share nodes and a pattern has several paths
# to one pair; one name is full of SQL and format syntax, which a MATCH
# must bind and never splice; lowercase ASCII search words, since the
# FTS tokenizer is the subject of test_fts_matches_model. Documents
# change their inferred schema as they arrive: age is an int, a float, a
# string or null; the nested address and the non-ASCII key come and go;
# hobby levels mix ints and floats.
_SESSION_NAMES = ["Ada", "Bo", "Cy", "Dé", 'Q"{:p0}`--;\\ü']
session_names = st.sampled_from(_SESSION_NAMES)
session_chains = st.tuples(
    st.permutations(_SESSION_NAMES), st.integers(2, 3)
).map(lambda t: t[0][:t[1]])
session_word = st.sampled_from(["spark", "join", "row", "fast"])
session_words = st.lists(session_word, min_size=1, max_size=4).map(" ".join)
session_hobbies = ("chess", "music", "films")
session_docs = st.fixed_dictionaries(
    {"name": session_names,
     "hobbies": st.lists(st.fixed_dictionaries(
         {"name": st.sampled_from(session_hobbies)},
         optional={"level": st.integers(0, 9) | st.floats(0, 9)},
     ), min_size=1, max_size=3)},
    optional={
        "age": st.none() | st.integers(18, 70) | st.floats(18, 70)
        | st.sampled_from(["18", "vingt"]),
        "address": st.fixed_dictionaries(
            {"city": st.sampled_from(["Oslo", "Zürich"])},
            optional={"zip": st.integers(0, 99)}),
        "città": st.sampled_from(["Roma", "東京"]),
    },
)


class HashDbReadMachine(RuleBasedStateMachine):
    """The facade's read verbs against SessionModel, over state that
    the write verbs build as the run goes: dialect SELECT (where, FTS,
    join, group by, order by + limit, distinct), the three MATCH shapes
    of the benchmark, and documents (save, document, path selects, and
    the view's columns as the inferred schema changes). Each read is
    compared with the model when it runs."""

    spark = None  # set by the test before the run

    def __init__(self):
        super().__init__()
        from hash_db_spark.api import HashDb

        self.db = HashDb(self.spark)
        self.model = SessionModel()
        self.n = 0

    def check(self, stmt: str, want: list[dict]) -> None:
        assert _canon(self.db.sql(stmt)) == _canon(want), stmt

    # -- writes -----------------------------------------------------------

    @initialize(people=st.lists(st.tuples(session_names, st.integers(18, 22)),
                                min_size=3, max_size=4),
                items=st.lists(session_words, min_size=3, max_size=4),
                chains=st.lists(session_chains, min_size=3, max_size=4),
                doc=session_docs)
    def seed(self, people, items, chains, doc):
        """Rows in each table, a document, and a FRIENDS graph that
        often has two paths between a pair of nodes."""
        for i, (name, age) in enumerate(people):
            self.insert_people(name, age)
            self.insert_item(items[i % len(items)], i + 1, i % 2 + 1)
        self.insert_product(people[0][0], 5)
        for chain in chains:
            self.merge(chain, "FRIENDS")
        self.save(0, doc)

    @rule(name=session_names, age=st.integers(18, 22))
    def insert_people(self, name, age):
        self.n += 1
        row = {"people_name": f"{name}-{self.n}", "age": age}
        self.db.sql("insert into people (people_name, age) values "
                    f"('{row['people_name']}', {age})")
        self.model.insert("people", row)

    @rule(name=session_names, price=st.integers(5, 9))
    def insert_product(self, name, price):
        self.db.sql("insert into products (name, price) values "
                    f"('{name}', {price})")
        self.model.insert("products", {"name": name, "price": price})

    @rule(words=session_words, people=st.integers(1, 4),
          product=st.integers(1, 3))
    def insert_item(self, words, people, product):
        self.db.sql("insert into items (search, people, product) values "
                    f"('{words}', {people}, {product})")
        self.model.insert("items", {"search": words, "people": people,
                                    "product": product})

    @rule(chain=session_chains,
          rel=st.sampled_from(["FRIENDS", "FRIENDS", "FOLLOWS"]))
    def merge(self, chain, rel):
        self.db.cypher("merge " + f"-[:{rel}]->".join(
            f"(n{i}:Person {{'name': '{c}'}})" for i, c in enumerate(chain)))
        ids = [f"person:{c}" for c in chain]
        self.model.persons |= set(ids)
        self.model.edges |= {(a, b, rel) for a, b in zip(ids, ids[1:])}

    @rule(doc_id=st.integers(0, 3), doc=session_docs)
    def save(self, doc_id, doc):
        self.db.save("pdocs", str(doc_id), doc)
        self.model.docs[str(doc_id)] = doc

    # -- SQL reads --------------------------------------------------------

    @rule(age=st.integers(17, 23), cmp=st.booleans())
    def select_where(self, age, cmp):
        rows = self.model.tables["people"]
        if cmp:
            self.check("select people.people_name, people.age from people "
                       f"where people.age > {age}",
                       [{"people_name": r["people_name"], "age": r["age"]}
                        for r in rows if r["age"] > age])
        else:
            self.check(f"select * from people where people.age = {age}",
                       [r for r in rows if r["age"] == age])

    @rule(a=session_word, b=session_word,
          mode=st.sampled_from(["|", "&", "phrase"]))
    def fts(self, a, b, mode):
        if mode == "|":
            q, ok = f"{a} | {b}", lambda ws: a in ws or b in ws
        elif mode == "&":
            q, ok = f"{a} & {b}", lambda ws: a in ws and b in ws
        else:
            q = f'"{a} {b}"'
            ok = lambda ws: any(ws[i:i + 2] == [a, b]  # noqa: E731
                                for i in range(len(ws) - 1))
        self.check(f"select * from items where items.search ~ '{q}'",
                   [r for r in self.model.tables["items"]
                    if ok(r["search"].split(" "))])

    @rule()
    def join(self):
        people = {p["id"]: p for p in self.model.tables["people"]}
        prods = {p["id"]: p for p in self.model.tables["products"]}
        self.check(
            "select people.people_name, items.search, products.price "
            "from items inner join people on items.people = people.id "
            "inner join products on items.product = products.id",
            [{"people_name": people[i["people"]]["people_name"],
              "search": i["search"], "price": prods[i["product"]]["price"]}
             for i in self.model.tables["items"]
             if i["people"] in people and i["product"] in prods])

    @rule()
    def group_by(self):
        counts = Counter(r["age"] for r in self.model.tables["people"])
        self.check("select people.age, count(*) from people group by people.age",
                   [{"age": a, "cnt": c} for a, c in counts.items()])

    @rule(k=st.integers(1, 4))
    def order_limit(self, k):
        top = sorted(self.model.tables["people"],
                     key=lambda r: (-r["age"], r["people_name"]))
        got = self.db.sql("select people.people_name, people.age from people "
                          f"order by people.age desc, people.people_name "
                          f"limit {k}")
        assert got == [{"people_name": r["people_name"], "age": r["age"]}
                       for r in top[:k]]

    @rule()
    def distinct(self):
        self.check("select distinct items.people from items",
                   [{"people": p} for p in
                    {r["people"] for r in self.model.tables["items"]}])

    # -- MATCH ------------------------------------------------------------

    @rule(name=session_names,
          mode=st.sampled_from(["chain", "var", "optional"]))
    def match(self, name, mode):
        """The benchmark's three MATCH shapes. The chain also runs from
        every node, returning its two ends, which two paths can join: a
        MATCH returns each row once."""
        m, start = self.model, f"person:{name}"
        if mode == "chain":
            chain = "-[:FRIENDS]->(f:Person)-[:FRIENDS]->(g:Person) return "
            self.check_match(
                f"match (p:Person {{'name': '{name}'}})" + chain + "f, g",
                ("f", "g"), {(f, g) for f in m.succ(start, "FRIENDS")
                             for g in m.succ(f, "FRIENDS")})
            self.check_match(
                "match (p:Person)" + chain + "p, g", ("p", "g"),
                {(p, g) for p in m.persons for f in m.succ(p, "FRIENDS")
                 for g in m.succ(f, "FRIENDS")})
        elif mode == "var":
            reach, frontier = set(), {start}
            for _ in range(3):
                frontier = {d for s in frontier for d in m.succ(s, "FRIENDS")}
                reach |= frontier
            self.check_match(f"match (a:Person {{'name': '{name}'}})"
                             "-[:FRIENDS*1..3]->(b:Person) return a, b",
                             ("a", "b"), {(start, b) for b in reach})
        else:
            self.check_match("match (p:Person) optional match "
                             "(p)-[:FOLLOWS]->(q:Person) return p, q",
                             ("p", "q"),
                             {(p, q) for p in m.persons
                              for q in (m.succ(p, "FOLLOWS") or {None})})

    def check_match(self, stmt: str, cols: tuple, want: set) -> None:
        got = [tuple(r[c] for c in cols) for r in self.db.cypher(stmt)]
        key = lambda t: tuple(x or "" for x in t)  # noqa: E731
        assert sorted(got, key=key) == sorted(want, key=key), stmt

    # -- documents --------------------------------------------------------

    @rule(doc_id=st.integers(0, 4))
    def document(self, doc_id):
        got = self.db.document("pdocs", str(doc_id))
        assert got == self.model.docs.get(str(doc_id))

    @rule(hobby=st.sampled_from(session_hobbies))
    def doc_where(self, hobby):
        got = self.db.sql(
            f"select * from pdocs where pdocs.~hobbies[]~name = '{hobby}'")
        assert Counter(r["doc_id"] for r in got) == Counter(
            i for i, d in self.model.docs.items()
            for h in d["hobbies"] if h["name"] == hobby)

    @rule()
    def doc_leaves(self):
        self.check("select pdocs.doc_id, pdocs.~hobbies[]~name from pdocs",
                   [{"doc_id": i, "name": h["name"]}
                    for i, d in self.model.docs.items() for h in d["hobbies"]])

    @rule()
    def doc_view(self):
        """The view's columns follow every saved document's keys."""
        got = self.db.sql("select * from pdocs")
        keys = {k for d in self.model.docs.values() for k in d}
        assert all(r.keys() == {"doc_id", *keys} for r in got)
        assert sorted((r["doc_id"], r["name"]) for r in got) == sorted(
            (i, d["name"]) for i, d in self.model.docs.items())


def test_hashdb_reads_match_session_model(spark, monkeypatch):
    monkeypatch.setattr(HashDbReadMachine, "spark", spark)
    run_state_machine_as_test(
        HashDbReadMachine, settings=settings(**SETTINGS, stateful_step_count=20)
    )


def _fts_model(text: str, query: str) -> bool:
    tokens = text.replace(",", "").split(" ")
    pred, mode = None, "and"
    for tok in query.split(" "):
        if not tok:
            continue
        if tok in ("&", "|"):
            mode = "and" if tok == "&" else "or"
            continue
        term = tok in tokens
        if pred is None:
            pred = term
        elif mode == "and":
            pred = pred and term
        else:
            pred = pred or term
    return bool(pred)


@settings(**SETTINGS)
@given(
    docs=st.lists(texts, min_size=1, max_size=10),
    q_words=st.lists(words, min_size=1, max_size=4),
    ops=st.lists(st.sampled_from(["&", "|"]), min_size=0, max_size=3),
)
def test_fts_matches_model(spark, docs, q_words, ops):
    parts = [q_words[0]]
    for i, w in enumerate(q_words[1:]):
        parts.append(ops[i % len(ops)] if ops else "&")
        parts.append(w)
    query = " ".join(parts)
    df = spark.createDataFrame(list(enumerate(docs)), ["id", "t"])
    got = {r.id for r in fts_filter(df, "t", query).collect()}
    want = {i for i, t in enumerate(docs) if _fts_model(t, query)}
    assert got == want


@settings(**SETTINGS)
@given(docs=st.lists(texts, min_size=2, max_size=8))
def test_jaccard_pairs_match_model(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jac
        for r in D.ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.0
        ).collect()
    }

    def sh(t):
        toks = [x for x in t.replace(",", "").split(" ") if x]
        return {
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        }

    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i]), sh(docs[j])
            inter = len(a & b)
            if not a or not b or inter == 0:
                assert (i, j) not in got
            else:
                assert round(inter / len(a | b), 6) == got[(i, j)]


@settings(**SETTINGS)
@given(docs=st.lists(texts, min_size=1, max_size=8))
def test_simhash_permutation_invariant_for_identical_bags(spark, docs):
    # Identical documents always get identical simhash; and simhash is a
    # function of the token multiset (order-invariant).
    rows = [(i, d) for i, d in enumerate(docs)]
    rows += [(100 + i, " ".join(reversed(d.split(" ")))) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = {r.id: r.simhash for r in D.simhash(df, "text", "doc_id")
            .withColumnRenamed("id", "id").collect()}
    for i in range(len(docs)):
        assert sims[i] == sims[100 + i]


@settings(**SETTINGS)
@given(
    docs=st.lists(texts, min_size=1, max_size=5),
    size=st.integers(min_value=2, max_value=8),
)
def test_chunking_reconstructs_tokens(spark, docs, size):
    """With overlap=0 the chunk texts concatenate back to the exact token
    stream of each document; every chunk except the last is full."""
    from hash_db_spark.operators.chunking import token_chunks

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "id long, t string"
    )
    out = token_chunks(df, "t", "id", size=size, overlap=0).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    for i, t in enumerate(docs):
        toks = t.split()
        rows = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        rebuilt = " ".join(r.chunk_text for r in rows).split()
        assert rebuilt == toks
        for r in rows[:-1]:
            assert r.n_tokens == size
        if rows:
            assert 1 <= rows[-1].n_tokens <= size


@settings(**SETTINGS)
@given(
    docs=st.lists(texts, min_size=2, max_size=8),
    n=st.integers(2, 4),
)
def test_strip_hot_spans_matches_model(spark, docs, n):
    """strip_hot_spans == a direct python model: tokens covered by any
    n-gram occurring in >= 2 distinct docs are removed; order preserved."""
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.id: r.text_clean
        for r in D.strip_hot_spans(df, "text", "doc_id", n=n).collect()
    }

    toks = {i: t.replace(",", "").split() for i, t in rows}
    gram_docs: dict[tuple, set] = {}
    for i, ts in toks.items():
        for p in range(len(ts) - n + 1):
            gram_docs.setdefault(tuple(ts[p : p + n]), set()).add(i)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    model = {}
    for i, ts in toks.items():
        covered = set()
        for p in range(len(ts) - n + 1):
            if tuple(ts[p : p + n]) in hot:
                covered.update(range(p, p + n))
        model[i] = " ".join(
            t for p, t in enumerate(ts) if p not in covered
        )
    assert got == model


@settings(**SETTINGS)
@given(
    weights=st.lists(st.integers(1, 9), min_size=1, max_size=25),
    budget=st.integers(0, 120),
    n=st.integers(1, 9),
)
def test_rank_and_budget_match_python_model(spark, weights, budget, n):
    """row_number/ntile/take_to_budget vs a direct python model over a
    random total order — catches offset/boundary bugs the fixed-fixture
    tests can't."""
    import pyspark.sql.functions as F

    from hash_db_spark.operators.rank import ntile_global, take_to_budget

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w long")
    order = [F.col("id").asc()]

    got = {
        r["id"]: (r["rn"], r["b"])
        for r in ntile_global(
            df, order, n=n, out="b", rn_col="rn"
        ).collect()
    }
    total = len(weights)
    size, rem = divmod(total, n)
    for rank, (i, _) in enumerate(sorted(rows), start=1):
        if size == 0:
            bucket = rank
        elif rank <= rem * (size + 1):
            bucket = -(-rank // (size + 1))
        else:
            bucket = rem + -(-(rank - rem * (size + 1)) // size)
        assert got[i] == (rank, bucket), (i, rank, bucket, got[i])

    kept = {
        r["id"]: r["cum_weight"]
        for r in take_to_budget(df, order, "w", budget).collect()
    }
    cum = 0
    for i, w in rows:
        cum += w
        if cum <= budget:
            assert kept.get(i) == cum, (i, cum, kept.get(i))
        else:
            assert i not in kept, i


@settings(**SETTINGS)
@given(
    iv=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(0, 40),
            st.integers(1, 15),
        ),
        min_size=1,
        max_size=18,
    )
)
def test_merge_intervals_matches_python_model(spark, iv):
    """Island merging vs a direct sweep over sorted intervals."""
    from datetime import datetime, timedelta

    from hash_db_spark.operators.temporal import merge_intervals

    base = datetime(2024, 1, 1)
    rows = [
        (k, i, base + timedelta(minutes=s), base + timedelta(minutes=s + d))
        for i, (k, s, d) in enumerate(iv)
    ]
    df = spark.createDataFrame(rows, ["k", "tid", "s", "e"])
    got = sorted(
        (r["k"], r["merged_start"], r["merged_end"], r["n_intervals"])
        for r in merge_intervals(df, "k", "s", "e", "tid").collect()
    )
    # python sweep: per key, sort by (s, e, tid); merge while s <= max_e
    want = []
    bykey: dict = {}
    for k, tid, s, e in rows:
        bykey.setdefault(k, []).append((s, e, tid))
    for k, items in bykey.items():
        items.sort()
        cur_s, cur_e, cnt = None, None, 0
        for s, e, _ in items:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    want.append((k, cur_s, cur_e, cnt))
                cur_s, cur_e, cnt = s, e, 1
            else:
                cur_e = max(cur_e, e)
                cnt += 1
        want.append((k, cur_s, cur_e, cnt))
    assert got == sorted(want)


@settings(**SETTINGS)
@given(docs=st.lists(texts, min_size=1, max_size=8))
def test_bpe_pair_counts_match_model(spark, docs):
    """Adjacent-pair frequencies vs a direct python count: total pair
    mass per doc is len(tokens) - 1, and every count matches."""
    from collections import Counter

    from hash_db_spark.operators.dedup import adjacent_token_pairs

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               ["doc_id", "text"])
    got = {
        r["pair"]: r["n"]
        for r in df.select(F.explode(adjacent_token_pairs("text")).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want: Counter = Counter()
    for t in docs:
        ts = [x for x in t.replace(",", "").split(" ") if x]
        for a, b in zip(ts, ts[1:]):
            want[f"{a} {b}"] += 1
    assert got == dict(want)


@settings(**SETTINGS)
@given(
    iv=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(0, 40),
            st.integers(1, 10),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_interval_coverage_bounds_and_model(spark, iv):
    """Covered time per key: equals the python sweep; bounded below by
    the longest single interval and above by the sum of durations."""
    from datetime import datetime, timedelta

    from hash_db_spark.operators.temporal import merge_intervals

    base = datetime(2024, 1, 1)
    rows = [
        (k, i, base + timedelta(minutes=s), base + timedelta(minutes=s + d))
        for i, (k, s, d) in enumerate(iv)
    ]
    df = spark.createDataFrame(rows, ["k", "tid", "s", "e"])
    merged = merge_intervals(df, "k", "s", "e", "tid")
    got = {
        r["k"]: r["covered_min"]
        for r in merged.groupBy("k")
        .agg(
            (
                F.sum(
                    F.unix_micros(F.col("merged_end").cast("timestamp"))
                    - F.unix_micros(F.col("merged_start").cast("timestamp"))
                )
                / 60_000_000
            ).alias("covered_min")
        )
        .collect()
    }
    # python sweep per key
    bykey: dict = {}
    for k, _, s, e in rows:
        bykey.setdefault(k, []).append((s, e))
    for k, items in bykey.items():
        items.sort()
        covered = 0.0
        cur_s, cur_e = None, None
        for s, e in items:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    covered += (cur_e - cur_s).total_seconds() / 60
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += (cur_e - cur_s).total_seconds() / 60
        assert abs(got[k] - covered) < 1e-9, (k, got[k], covered)
        longest = max((e - s).total_seconds() / 60 for s, e in items)
        total = sum((e - s).total_seconds() / 60 for s, e in items)
        assert longest - 1e-9 <= got[k] <= total + 1e-9


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    rights=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(0, 50),
            st.integers(0, 9),
        ),
        min_size=1,
        max_size=12,
    ),
    direction=st.sampled_from(["backward", "forward"]),
)
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights, direction):
    """Independent model: pandas.merge_asof on the same data. Rights are
    pre-collapsed to max payload per (key, time) so both sides share one
    tie rule (ours: greatest payload tuple)."""
    from datetime import datetime, timedelta

    import pandas as pd

    from hash_db_spark.operators.temporal import asof_join

    base = datetime(2024, 1, 1)
    collapsed: dict = {}
    for k, t, v in rights:
        collapsed[(k, t)] = max(collapsed.get((k, t), -1), v)
    lrows = [
        (i, k, base + timedelta(seconds=t)) for i, (k, t) in enumerate(lefts)
    ]
    rrows = [
        (k, base + timedelta(seconds=t), v)
        for (k, t), v in sorted(collapsed.items())
    ]
    ldf = spark.createDataFrame(lrows, ["lid", "k", "ts"])
    rdf = spark.createDataFrame(rrows, ["k", "ts", "val"])
    got = {
        r["lid"]: r["asof_val"]
        for r in asof_join(
            ldf, rdf, key="k", left_time="ts", right_time="ts",
            right_payload=["val"], direction=direction,
        ).collect()
    }
    lpd = pd.DataFrame(lrows, columns=["lid", "k", "ts"]).sort_values("ts", kind="mergesort")
    rpd = pd.DataFrame(rrows, columns=["k", "ts", "val"]).sort_values("ts", kind="mergesort")
    merged = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction=direction
    )
    want = {
        int(r.lid): (None if pd.isna(r.val) else int(r.val))
        for r in merged.itertuples()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    changes=st.lists(
        st.tuples(
            st.integers(1, 3),            # key
            st.integers(1, 6),            # version
            st.booleans(),                # upsert?
            st.integers(0, 9),            # payload
        ),
        min_size=0,
        max_size=12,
    )
)
def test_scd2_history_matches_python_model(spark, changes):
    """scd2_history vs a direct replay: per key, sort versions, every
    upsert opens an interval closed by the NEXT version that touched
    the key (delete closes without contributing a row)."""
    from hash_db_spark.operators import cdc

    # distinct versions per key (the documented contract)
    seen, uniq = set(), []
    for k, v, up, p in changes:
        if (k, v) not in seen:
            seen.add((k, v))
            uniq.append((k, v, "upsert" if up else "delete", p))
    base = spark.createDataFrame(
        [(k, 100 + k) for k in (1, 2, 3)], "k long, payload long"
    )
    ch = spark.createDataFrame(
        uniq or [(99, 1, "delete", 0)],  # createDataFrame needs >=1 row
        "k long, version long, op string, payload long",
    )
    got = {
        (r.k, r.valid_from): (r.valid_to, r.is_current, r.payload)
        for r in cdc.scd2_history(base, ch, "k").collect()
    }
    model = {}
    events = {k: [(0, "upsert", 100 + k)] for k in (1, 2, 3)}
    for k, v, op, p in (uniq or [(99, 1, "delete", 0)]):
        events.setdefault(k, []).append((v, op, p))
    for k, evs in events.items():
        evs.sort()
        for i, (v, op, p) in enumerate(evs):
            if op != "upsert":
                continue
            nxt = evs[i + 1][0] if i + 1 < len(evs) else None
            model[(k, v)] = (nxt, nxt is None, p)
    assert got == model


@settings(**SETTINGS)
@given(docs=st.lists(texts, min_size=1, max_size=6))
def test_bpe_train_merges_match_model(spark, docs):
    """The full k-round trainer vs a direct python replay: same winners,
    same counts, same greedy-merge evolution (including self-pair runs,
    which greedy merges at even offsets only)."""
    from collections import Counter

    from hash_db_spark.operators.bpe import bpe_train_merges, merge_pair_greedy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], ["doc_id", "text"]
    )
    got = [
        (r["round"], r["pair"], r["n"])
        for r in bpe_train_merges(df, "text", "doc_id", k=3).collect()
    ]

    corpus = [
        [x for x in t.replace(",", "").split(" ") if x] for t in docs
    ]
    want = []
    for rnd in range(1, 4):
        counts: Counter = Counter()
        for ts in corpus:
            for a, b in zip(ts, ts[1:]):
                counts[(a, b)] += 1
        if not counts:
            break
        # tie-break on COMPONENTS (a, b), not the joined string — the
        # space-joined form is ambiguous once merged units contain
        # spaces, exactly the divergence the r07 trainer fix closed.
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, f"{a} {b}", n))
        corpus = [merge_pair_greedy(ts, a, b) for ts in corpus]
    assert got == want


@settings(**SETTINGS)
@given(docs=st.lists(texts, min_size=1, max_size=6))
def test_bpe_train_encode_match_model(spark, docs):
    """train+encode vs a python replay of the same loop: per-doc token
    counts and encoded sequences agree after every trained merge is
    applied (the trainer's final state, including the k-th merge)."""
    from collections import Counter

    from hash_db_spark.operators.bpe import bpe_train_encode, merge_pair_greedy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        r["id"]: (r["n_tokens"], r["enc"])
        for r in bpe_train_encode(df, "text", "doc_id", k=3).collect()
    }

    corpus = {
        i: [x for x in t.replace(",", "").split(" ") if x]
        for i, t in enumerate(docs)
    }
    for _rnd in range(3):
        counts: Counter = Counter()
        for ts in corpus.values():
            for a, b in zip(ts, ts[1:]):
                counts[(a, b)] += 1
        if not counts:
            break
        (a, b), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        corpus = {i: merge_pair_greedy(ts, a, b) for i, ts in corpus.items()}
    want = {i: (len(ts), "|".join(ts)) for i, ts in corpus.items()}
    assert got == want


def test_bpe_oracle_parity_on_degenerate_corpora(spark):
    """Spark trainer/encoder vs the DuckDB oracle CTEs on corpora that
    exhaust before k rounds: all-single-token docs (round-1 winner
    absent) and a corpus that dries up after one merge. The replay
    levels must carry tokens through an EMPTY winner (LEFT JOIN, not
    cross join — a cross join with an empty winner CTE silently empties
    the whole replay and the encoder diverges from Spark's break)."""
    import duckdb
    import pandas as pd

    from hash_db_spark.operators.bpe import (
        bpe_train_encode,
        bpe_train_merges,
        sql_bpe_train_encode,
        sql_bpe_train_merges,
    )

    for rows in (
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        [(1, "x y"), (2, "x y"), (3, "solo")],
        [(1, "a b a b"), (2, "a b c"), (3, "c c c c")],
    ):
        sdf = spark.createDataFrame(rows, ["doc_id", "text"])
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = sorted(
            (r.id, r.n_tokens, r.enc)
            for r in bpe_train_encode(sdf, "text", "doc_id", k=3).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                sql_bpe_train_encode("documents", "text", "doc_id", k=3)
            ).fetchall()
        )
        assert got == want, rows
        gt = sorted(
            tuple(r)
            for r in bpe_train_merges(sdf, "text", "doc_id", k=3).collect()
        )
        wt = sorted(
            tuple(r)
            for r in con.execute(
                sql_bpe_train_merges("documents", "text", k=3)
            ).fetchall()
        )
        assert gt == wt, rows


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(words, min_size=0, max_size=6), min_size=1, max_size=8
    )
)
def test_line_dedup_matches_model(spark, docs):
    """Line dedup against a pure-Python first-occurrence model, plus
    idempotence: deduping the survivors changes nothing."""
    from hash_db_spark.operators import lines as L

    rows = [
        (i, j, w) for i, d in enumerate(docs) for j, w in enumerate(d)
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "id long, line_idx int, line string")
    got = sorted(
        (r.id, r.line_idx, r.line) for r in L.dedup_lines(df).collect()
    )
    seen: set[str] = set()
    model = []
    for i, j, w in sorted(rows):
        if w not in seen:
            seen.add(w)
            model.append((i, j, w))
    assert got == sorted(model)
    surv = spark.createDataFrame(got, "id long, line_idx int, line string")
    again = sorted(
        (r.id, r.line_idx, r.line) for r in L.dedup_lines(surv).collect()
    )
    assert again == got


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(words, min_size=1, max_size=5), min_size=1, max_size=8
    ),
    cap=st.integers(1, 4),
)
def test_boilerplate_strip_matches_model(spark, docs, cap):
    from hash_db_spark.operators import lines as L

    rows = [
        (i, j, w) for i, d in enumerate(docs) for j, w in enumerate(d)
    ]
    df = spark.createDataFrame(rows, "id long, line_idx int, line string")
    dfreq: dict[str, set[int]] = {}
    for i, _, w in rows:
        dfreq.setdefault(w, set()).add(i)
    hot = {w for w, ids in dfreq.items() if len(ids) > cap}
    model = {}
    for i, d in enumerate(docs):
        kept = [w for w in d if w not in hot]
        if kept:
            model[i] = (" ".join(kept), len(kept))
    got = {
        r.id: (r.clean_text, r.n_kept)
        for r in L.strip_boilerplate_docs(df, cap).collect()
    }
    assert got == model


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(words, min_size=1, max_size=6), min_size=2, max_size=7
    ),
    cap=st.integers(1, 5),
)
def test_line_containment_matches_model(spark, docs, cap):
    """Containment pairs vs an exact pure-Python model. The operator's
    contract: a pair is reported (with EXACT score) iff it shares at
    least one non-hot line; pairs whose every shared line is hot are
    documented misses. The model replays exactly that."""
    from hash_db_spark.operators import lines as L

    rows = [
        (i, j, w) for i, d in enumerate(docs) for j, w in enumerate(d)
    ]
    df = spark.createDataFrame(rows, "id long, line_idx int, line string")
    sets = {i: set(d) for i, d in enumerate(docs)}
    dfreq: dict[str, set[int]] = {}
    for i, d in enumerate(docs):
        for w in set(d):
            dfreq.setdefault(w, set()).add(i)
    hot = {w for w, ids in dfreq.items() if len(ids) > cap}
    model = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            shared = sets[a] & sets[b]
            if not (shared - hot):
                continue  # no non-hot meeting point -> documented miss
            c = round(len(shared) / min(len(sets[a]), len(sets[b])), 6)
            if c >= 0.5:
                model[(a, b)] = c
    got = {
        (r.id_a, r.id_b): r.containment
        for r in L.line_containment_pairs(
            df, threshold=0.5, max_doc_freq=cap
        ).collect()
    }
    assert got == model


@settings(**SETTINGS)
@given(
    sizes=st.lists(st.integers(1, 500), min_size=1, max_size=30),
    target=st.integers(50, 1000),
)
def test_compaction_plan_properties(spark, sizes, target):
    """Laws vs a pure-Python prefix-bin model: every file assigned
    exactly once, group byte totals tile the manifest total, and the
    bin id equals the exclusive prefix DIV target under path order."""
    from hash_db_spark.operators.layout import compaction_plan

    files = [(f"f{i:04d}", b) for i, b in enumerate(sizes)]
    df = spark.createDataFrame(files, ["path", "bytes"])
    got = {r.path: r for r in compaction_plan(df, target).collect()}
    assert len(got) == len(files)
    prefix = 0
    bins = {}
    for path, b in files:  # already path-ordered by construction
        want_grp = prefix // target
        assert got[path].grp == want_grp, path
        bins[want_grp] = bins.get(want_grp, 0) + b
        prefix += b
    for path, b in files:
        r = got[path]
        assert r.grp_bytes == bins[r.grp]
    # group totals tile the manifest exactly
    assert sum(bins.values()) == sum(sizes)
    assert {(r.grp, r.grp_bytes) for r in got.values()} == set(bins.items())


@settings(**SETTINGS)
@given(
    docs=st.lists(texts, min_size=1, max_size=8),
    k=st.integers(1, 4),
)
def test_mmr_properties(spark, docs, k):
    """Laws vs the greedy model: result size = min(k, #scorable
    chunks), ranks dense from 1, picks distinct, and pick 1 maximizes
    rel with (id, chunk) tie-break."""
    from hash_db_spark.operators.retrieval import mmr_rerank

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(
        (r.sel_rank, r.id, r.chunk_idx, r.rel)
        for r in mmr_rerank(
            df, "text", "doc_id", ["spark", "join"], k=k, size=4
        ).collect()
    )
    n_chunks = sum(max(1, (len(t.split()) + 3) // 4) for t in docs)
    assert len(out) == min(k, n_chunks)
    assert [r[0] for r in out] == list(range(1, len(out) + 1))
    assert len({(i, c) for _, i, c, _ in out}) == len(out)
    # pick 1 is the relevance argmax under the tie-break
    first = out[0]
    assert all(
        (first[3], -first[1], -first[2]) >= (r[3], -r[1], -r[2])
        for r in out
    )


@settings(**SETTINGS)
@given(a=texts, b=texts)
def test_encoding_counters_additive(spark, a, b):
    """count(a || b) == count(a) + count(b) for every counter when the
    junction cannot form a marker (markers are multi-char; we join with
    a space)."""
    from hash_db_spark.functions import text as T

    corrupted_a = a + " cafÃ© \x07"
    df = spark.createDataFrame(
        [(1, corrupted_a), (2, b), (3, corrupted_a + " " + b)],
        ["i", "t"],
    )
    got = {
        r.i: (r.nr, r.nc, r.nm)
        for r in df.select(
            "i",
            T.replacement_char_count("t").alias("nr"),
            T.control_char_count("t").alias("nc"),
            T.mojibake_marker_count("t").alias("nm"),
        ).collect()
    }
    assert tuple(
        x + y for x, y in zip(got[1], got[2])
    ) == got[3]


@settings(**SETTINGS)
@given(
    t=st.text(
        alphabet="ab c\t\n‘’“”–… \x07.",
        max_size=60,
    )
)
def test_normalize_text_idempotent_and_tokenizer_stable(spark, t):
    """normalize is idempotent on arbitrary text, output never contains
    control bytes or multi-space runs, and re-tokenizing the normal
    form is stable (split on single space yields no empties)."""
    from hash_db_spark.functions import text as T

    df = spark.createDataFrame([(t,)], ["t"])
    r = df.select(
        T.normalize_text("t").alias("n1"),
        T.normalize_text(T.normalize_text("t")).alias("n2"),
        T.control_char_count(T.normalize_text("t")).alias("nc"),
    ).collect()[0]
    assert r.n1 == r.n2
    assert r.nc == 0
    assert "  " not in r.n1
    if r.n1:
        assert all(tok for tok in r.n1.split(" "))


# --- session-7 operator laws ----------------------------------------------------


@settings(**SETTINGS)
@given(digits=st.lists(st.integers(0, 9), min_size=12, max_size=15))
def test_luhn_check_digit_law(spark, digits):
    """For ANY digit prefix: exactly one of the ten possible check
    digits passes Luhn (the model computes it); mutating it fails."""
    from hash_db_spark.functions import scrub

    prefix = "".join(map(str, digits))

    def model_check(prefix: str) -> int:
        total = 0
        for i, ch in enumerate(reversed(prefix)):
            d = int(ch)
            if i % 2 == 0:  # positions odd-from-right AFTER appending check
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return (10 - total % 10) % 10

    good = model_check(prefix)
    cands = [(prefix + str(d), d == good) for d in range(10)]
    df = spark.createDataFrame(cands, ["pan", "expect"])
    got = df.select("expect", scrub.luhn_valid(F.col("pan")).alias("ok")).collect()
    assert all(r.ok == r.expect for r in got)


@settings(**SETTINGS)
@given(
    xs=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=1,
        max_size=16,
    )
)
def test_micro_col_matches_numpy_round_half_away(spark, xs):
    from hash_db_spark.functions.rounding import round_half_away
    from hash_db_spark.operators.curation import micro_col

    df = spark.createDataFrame([(i, float(x)) for i, x in enumerate(xs)], ["i", "x"])
    got = {r.i: r.m for r in df.select("i", micro_col(F.col("x")).alias("m")).collect()}
    for i, x in enumerate(xs):
        assert got[i] == int(round_half_away(x * 1e6, 0) / 1)


@settings(**SETTINGS)
@given(
    ref=st.lists(st.integers(0, 4), min_size=5, max_size=40),
    cur=st.lists(st.integers(0, 4), min_size=5, max_size=40),
)
def test_psi_symmetry_and_nonnegativity(spark, ref, cur):
    """PSI laws: psi(ref, cur) == psi(cur, ref) exactly (the summand is
    symmetric), and the total is never negative."""
    from hash_db_spark.operators import corpus_stats as CS

    rdf = spark.createDataFrame([(i, b) for i, b in enumerate(ref)], ["id", "b"])
    cdf = spark.createDataFrame([(i, b) for i, b in enumerate(cur)], ["id", "b"])
    bucket = F.col("b").cast("int")
    t1 = {r.bucket: r.psi_micro for r in CS.drift_psi(rdf, cdf, bucket).collect()}
    t2 = {r.bucket: r.psi_micro for r in CS.drift_psi(cdf, rdf, bucket).collect()}
    assert t1 == t2
    assert t1[-1] >= 0


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=0.1, max_value=100, allow_nan=False),
        min_size=2,
        max_size=10,
    )
)
def test_ewma_forecast_is_convex_combination(spark, vals):
    """The truncated-EWMA forecast always lies within [min, max] of the
    history (weights are positive and renormalized to 1)."""
    from datetime import datetime

    from hash_db_spark.operators import temporal as T

    rows = [
        (i, datetime(2024, 1, 1, 0, 0, i), 1, "t", float(v), "")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    got = sorted(T.ewma_alerts(ev).collect(), key=lambda r: r.event_id)
    for i, r in enumerate(got):
        if r.ewma_prev_micro is None:
            continue
        hist = vals[:i]
        lo, hi = min(hist) * 1e6 - 1, max(hist) * 1e6 + 1
        assert lo <= r.ewma_prev_micro <= hi


@settings(**SETTINGS)
@given(perm=st.permutations(list(range(12))))
def test_kcenter_input_order_invariance(spark, perm):
    """The greedy selection is a pure function of the SET of vectors —
    row order never changes the picked ids or gaps."""
    from hash_db_spark.operators import clustering as CL

    base = [
        (i, [float(i % 4), float(i // 4), 1.0, 0.0]) for i in range(12)
    ]
    shuffled = [base[i] for i in perm]
    a = CL.kcenter_select(
        spark.createDataFrame(base, ["vec_id", "embedding"]), k=4
    ).collect()
    b = CL.kcenter_select(
        spark.createDataFrame(shuffled, ["vec_id", "embedding"]), k=4
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@settings(**SETTINGS)
@given(docs=st.lists(texts, min_size=1, max_size=8))
def test_containment_pairs_match_model(spark, docs):
    """ngram_containment_pairs vs a pure-Python model at threshold 0:
    containment = inter/min, jac = inter/union, contained side = the
    smaller shingle set (ties to the lower id)."""
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): (r.containment, r.jac, r.contained_id)
        for r in D.ngram_containment_pairs(
            df, "text", "doc_id", n=2, threshold=0.0
        ).collect()
    }

    def sh(t):
        toks = [x for x in t.replace(",", "").split(" ") if x]
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i]), sh(docs[j])
            inter = len(a & b)
            if not a or not b or inter == 0:
                assert (i, j) not in got
                continue
            cont, jac, small = got[(i, j)]
            assert cont == round(inter / min(len(a), len(b)), 6)
            assert jac == round(inter / len(a | b), 6)
            assert small == (i if len(a) <= len(b) else j)
            # laws: jac <= cont <= 1; cont == 1 iff subset relation
            assert jac <= cont <= 1.0
            assert (cont == 1.0) == (a <= b or b <= a)


@settings(**SETTINGS)
@given(
    docs=st.lists(texts, min_size=1, max_size=10),
    lens=st.lists(st.integers(1, 16), min_size=1, max_size=3, unique=True),
)
def test_context_fit_matches_model(spark, docs, lens):
    """context_fit_report vs a pure-Python model: exact token loss,
    padding, and the ceil(kept/L) packing floor."""
    import math

    from hash_db_spark.operators import chunking

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    rows = {
        r.context_len: r
        for r in chunking.context_fit_report(
            df, "text", lens=tuple(sorted(lens))
        ).collect()
    }
    counts = [
        len([x for x in t.replace(",", "").split(" ") if x]) for t in docs
    ]
    counts = [c for c in counts if c > 0]
    for L in lens:
        if not counts:
            assert L not in rows
            continue
        r = rows[L]
        kept = sum(min(c, L) for c in counts)
        assert r.n_docs == len(counts)
        assert r.docs_truncated == sum(1 for c in counts if c > L)
        assert r.tokens_total == sum(counts)
        assert r.tokens_lost == sum(max(c - L, 0) for c in counts)
        assert r.packed_seqs == math.ceil(kept / L)


# --- session 9: k-core vs pure-Python peel ------------------------------------


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(2, 3),
)
def test_kcore_matches_model(spark, edges, k):
    """Fixed-round Spark peel vs a run-to-fixpoint Python model: with
    iterations >= node count the bounded peel must have converged, so
    the two agree exactly on any graph."""
    from hash_db_spark.operators.graph import kcore

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not simple:
        return
    es = set(simple)
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in es if a in keep and b in keep}
        if nxt == es:
            break
        es = nxt
    want = {}
    for a, b in es:
        want[a] = want.get(a, 0) + 1
        want[b] = want.get(b, 0) + 1
    want = {n: d for n, d in want.items() if d >= k}

    df = spark.createDataFrame(sorted(simple), "src long, dst long")
    got = {r.id: r.deg for r in kcore(df, k=k, iterations=10).collect()}
    assert got == want


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=20,
    ),
)
def test_clustering_coef_matches_model(spark, edges):
    from hash_db_spark.operators.graph import clustering_coefficient

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not simple:
        return
    adj = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for n, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        t = sum(
            1
            for i in nb
            for j in nb
            if i < j and j in adj.get(i, set())
        )
        want[n] = (d, t, round(2.0 * t / (d * (d - 1)), 6))
    df = spark.createDataFrame(sorted(simple), "src long, dst long")
    got = {
        r.id: (r.deg, r.triangles, r.coef)
        for r in clustering_coefficient(df).collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    counts=st.lists(st.integers(1, 30), min_size=1, max_size=12),
)
def test_skew_gini_matches_model(spark, counts):
    """Count-of-counts Gini vs the textbook sorted-rank formula."""
    from hash_db_spark.operators.skew import key_skew_report

    rows = [(f"k{i}",) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, ["k"])
    r = key_skew_report(df, "k", "x").collect()[0]
    xs = sorted(counts)
    n, t = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    gini = (2.0 * s1 - (n + 1) * t) / (n * t)
    assert r.n_rows == t and r.n_keys == n and r.max_key_rows == max(xs)
    assert abs(r.gini - round(gini, 6)) < 2e-6
    top10 = sum(sorted(counts, reverse=True)[:10])
    assert r.top10_share == round(top10 / t, 6)


@settings(**SETTINGS)
@given(
    s=st.text(alphabet="abcdefgh01", min_size=1, max_size=24),
)
def test_shannon_entropy_matches_model(spark, s):
    import math
    from collections import Counter

    from hash_db_spark.functions.scrub import shannon_entropy

    df = spark.createDataFrame([(s,)], ["t"])
    got = df.select(F.round(shannon_entropy("t"), 6).alias("h")).collect()[0].h
    n = len(s)
    want = -sum(
        (c / n) * math.log2(c / n) for c in Counter(s).values()
    )
    assert abs(got - round(want, 6)) < 2e-6


@settings(**SETTINGS)
@given(
    toks=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        min_size=1,
        max_size=40,
    ),
)
def test_t5_reconstruction_law_random(spark, toks):
    """Input + targets reconstruct the clean token stream for ANY
    document (the round-trip law, randomized)."""
    from hash_db_spark.operators.chunking import t5_span_examples

    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = t5_span_examples(df, "text", "doc_id").collect()[0]
    spans, cur = {}, None
    if r.targets:
        for p in r.targets.split(" "):
            if p.startswith("<extra_id_"):
                cur = p
                spans[cur] = []
            else:
                spans[cur].append(p)
    rebuilt = []
    for tok in r.input_text.split(" "):
        if tok.startswith("<extra_id_"):
            rebuilt.extend(spans[tok])
        else:
            rebuilt.append(tok)
    assert rebuilt == toks


# --- IVF candidate generation model check (operators/bitext.py) ---------------

vec4 = st.lists(
    st.integers(min_value=-3, max_value=3).map(float), min_size=4, max_size=4
)


def _ivf_python_model(srcs, dsts, stride, nprobe, cell_cap):
    """Pure-Python replay of ivf_candidate_pairs: strided centroids off
    the target side, micro-quantized cosine assignment with
    (cos DESC, cid ASC) ties, nprobe probes per source, single cell per
    target, per-cell list truncation by ascending id, micro cosine per
    candidate pair (NaN pairs dropped)."""
    import math

    def micro(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return None
        c = sum(x * y for x, y in zip(a, b)) / (na * nb)
        return int(math.copysign(math.floor(abs(c) * 1e6 + 0.5), c))

    cents = sorted((i, v) for i, v in dsts if i % stride == 0)
    if not cents:
        return None  # operator raises; model skips

    def probes(v, n):
        scored = [
            (m, cid)
            for cid, cv in cents
            if (m := micro(v, cv)) is not None
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [cid for _, cid in scored[:n]]

    lists: dict[int, list] = {}
    for i, v in sorted(dsts):
        cells = probes(v, 1)
        if cells:
            lists.setdefault(cells[0], []).append((i, v))
    for c in lists:
        lists[c] = lists[c][:cell_cap]
    out = set()
    for i, v in srcs:
        for c in probes(v, nprobe):
            for j, w in lists.get(c, []):
                m = micro(v, w)
                if m is not None:
                    out.add((i, j, m))
    return out


@settings(**SETTINGS)
@given(
    srcs=st.lists(vec4, min_size=1, max_size=6),
    dsts=st.lists(vec4, min_size=1, max_size=6),
    nprobe=st.integers(min_value=1, max_value=3),
    cell_cap=st.integers(min_value=1, max_value=4),
)
def test_ivf_candidate_pairs_match_model(spark, srcs, dsts, nprobe, cell_cap):
    from hash_db_spark.operators import bitext as B

    src_rows = [(i, v) for i, v in enumerate(srcs)]
    dst_rows = [(100 + i, v) for i, v in enumerate(dsts)]
    model = _ivf_python_model(src_rows, dst_rows, 2, nprobe, cell_cap)
    if model is None:
        return  # no centroid at this stride; operator's error path
    src = spark.createDataFrame(src_rows, ["id", "v"])
    dst = spark.createDataFrame(dst_rows, ["id", "v"])
    got = {
        (r.src_id, r.dst_id, r.cos_micro)
        for r in B.ivf_candidate_pairs(
            src, dst, stride=2, nprobe=nprobe, cell_cap=cell_cap
        ).collect()
    }
    assert got == model
