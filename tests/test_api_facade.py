"""End-to-end replay of the reference's demo scenarios through the
single HashDb facade — the switchability proof: one object, the server's
verbs, the engine's DataFrames underneath.

KV scenario: /root/reference/hash-db.py:85-110 demo data and queries.
SQL scenario: /root/reference/example.py:86-238 (inserts, select-where,
update, join) + :296-306 (FTS).
Cypher scenario: /root/reference/example.py:241-281 (social graph).
Documents: /root/reference/example.py:308-344 (save + path queries).
"""

from __future__ import annotations

import pytest

from hash_db_spark.api import HashDb
from hash_db_spark.cypher import CypherCompiler


@pytest.fixture(scope="module")
def db(spark):
    return HashDb(spark)


def test_kv_demo_scenario(db):
    # hash-db.py:88-95 demo writes
    for pk, sk, v in [
        ("user#samsquire", "following#dinar", "Messages 1"),
        ("user#samsquire", "following#someonelse", "Messages 2"),
        ("user#samsquire", "message#2020-05-01T14:39", "Messages 1"),
        ("user#samsquire", "profile", "profile"),
        ("user#samsquire", "message#2020-06-01T14:39", "Messages 2"),
        ("user#samsquire", "message#2020-07-01T09:30", "Messages 3"),
        ("user#samsquire", "message#2020-08-01T14:39", "Messages 4"),
        ("user#dinar", "message#2020-09-01T14:39", "Messages 5"),
    ]:
        db.set(pk, sk, v)

    # point read + overwrite semantics (K1/K2)
    assert db.get("user#samsquire", "profile") == "profile"
    db.set("user#samsquire", "profile", "profile-v2")
    assert db.get("user#samsquire", "profile") == "profile-v2"

    # followers: query_begins (hash-db.py:98)
    followers = db.query_begins("user#samsquire", "following")
    assert [sk for _, sk, _ in followers] == [
        "following#dinar", "following#someonelse"
    ]

    # messages between dates (hash-db.py:101)
    msgs = db.query_between(
        "user#samsquire", "message#2020-06-01", "message#2020-07-01~"
    )
    assert [v for _, _, v in msgs] == ["Messages 2", "Messages 3"]

    # before/greater than (hash-db.py:106-110)
    before = db.query_before_than(
        "user#samsquire", "message", "message#2020-07"
    )
    assert [v for _, _, v in before] == ["Messages 1", "Messages 2"]
    after = db.query_greater_than(
        "user#samsquire", "message", "message#2020-07"
    )
    assert [v for _, _, v in after] == ["Messages 3", "Messages 4"]

    # both_between across users; desc ordering (K6/K8)
    both = db.both_between("user#a", "user#z", "message#", "message#~", desc=True)
    assert [pk for pk, _, _ in both] == ["user#samsquire"] * 4 + ["user#dinar"]

    # delete (K9)
    db.clear("user#samsquire", "profile")
    assert db.get("user#samsquire", "profile") is None


def test_sql_scenario(db):
    # example.py:86-117 — inserts with emergent schema + auto ids
    for name, age in [("Sam", 29), ("Dinar", 31), ("Lee", 29)]:
        db.sql(f"insert into folks (folks_name, age) values ('{name}', {age})")
    got = db.sql("select * from folks where folks.age = 29")
    assert {r["folks_name"] for r in got} == {"Sam", "Lee"}

    # example.py:126-149 — update then re-select
    db.sql("update folks set folks.age = 31 where folks.folks_name = 'Sam'")
    assert {r["folks_name"] for r in db.sql(
        "select * from folks where folks.age = 31"
    )} == {"Sam", "Dinar"}

    # example.py:150-238 — join through the dialect
    for search, person in [("fishing rod", 1), ("boat", 3)]:
        db.sql(f"insert into gear (search, person) values ('{search}', {person})")
    joined = db.sql(
        "select folks.folks_name, gear.search from gear "
        "inner join folks on gear.person = folks.id"
    )
    assert {(r["folks_name"], r["search"]) for r in joined} == {
        ("Sam", "fishing rod"), ("Lee", "boat")
    }

    # example.py:296-306 — FTS and/or through the dialect
    fts = db.sql("select * from gear where gear.search ~ 'fishing & rod'")
    assert [r["search"] for r in fts] == ["fishing rod"]
    fts_or = db.sql("select * from gear where gear.search ~ 'rod | boat'")
    assert {r["search"] for r in fts_or} == {"fishing rod", "boat"}

    # free-win clauses ride along
    top = db.sql("select folks.folks_name from folks order by folks.age desc, folks.folks_name limit 2")
    assert [r["folks_name"] for r in top] == ["Dinar", "Sam"]


def test_cypher_scenario(db):
    # example.py:241-281 — social-graph MERGEs then a chain MATCH
    for a, rel, b in [
        ("Samuel", "FRIENDS", "Dinar"),
        ("Dinar", "FRIENDS", "Hamza"),
        ("Hamza", "FRIENDS", "Patrick"),
    ]:
        assert db.cypher(
            f"merge (p:Person {{'name': '{a}'}})-[:{rel}]->"
            f"(q:Person {{'name': '{b}'}})"
        ) is None
    rows = db.cypher(
        "match (p:Person {'name': 'Samuel'})-[:FRIENDS]->(f:Person)"
        "-[:FRIENDS]->(g:Person) return f, g"
    )
    # RETURN of a bare variable emits the node id (label:name), matching
    # the engine's existing Cypher tests.
    assert [(r["f"], r["g"]) for r in rows] == [
        ("person:Dinar", "person:Hamza")
    ]


def test_documents_scenario(db):
    # example.py:308-344 — save a nested doc, retrieve it, path-query it
    doc = {
        "name": "Sam Squire",
        "age": 32,
        "hobbies": [{"name": "God"}, {"name": "databases"}],
    }
    db.save("people", "1", doc)
    db.save("people", "2", {"name": "Other", "age": 20,
                            "hobbies": [{"name": "sports"}]})
    assert db.document("people", "1") == doc
    assert db.document("people", "missing") is None

    hit = db.sql(
        "select * from people where people.~hobbies[]~name = 'God'"
    )
    assert len(hit) == 1 and hit[0]["name"] == "Sam Squire"
    leaves = db.sql("select people.doc_id, people.~hobbies[]~name from people")
    assert {(r["doc_id"], r["name"]) for r in leaves} == {
        ("1", "God"), ("1", "databases"), ("2", "sports")
    }


def test_save_infers_schema_from_every_document(spark):
    """A key that first appears after the 1024th document of a
    collection still reaches its view."""
    import json

    db = HashDb(spark)
    db._docs["c"] = {str(i): json.dumps({"name": f"n{i}"})
                     for i in range(1, 1025)}
    db.save("c", "1025", {"name": "late", "late_key": 1})
    assert db.sql("select c.late_key from c where c.doc_id = '1025'") == [
        {"late_key": 1}]


def test_explain_returns_physical_plan(db):
    db.sql("insert into exp_t (name, score) values ('a', 1)")
    plan = db.explain(
        "select exp_t.name from exp_t where exp_t.score = 1"
    )
    assert "Physical Plan" in plan
    n_before = len(db.sql("select * from exp_t"))
    with pytest.raises(ValueError, match="SELECT"):
        db.explain("insert into exp_t (name) values ('x')")
    # the rejected mutation must NOT have executed
    assert len(db.sql("select * from exp_t")) == n_before


def test_mutation_lineage_stays_flat(spark, monkeypatch):
    """A long interactive mutation session must not build an unbounded
    plan: per-set cost stays flat because the facade eagerly
    localCheckpoints every _CHECKPOINT_EVERY mutations. Scaled-down
    shape of the 500-set probe (measured flat at ~31s/100 sets with the
    guard vs 42->92->182s cumulative-growth without it); the assertion
    is flatness, not an absolute bound, so slow CI doesn't flake it."""
    import time

    from hash_db_spark import api

    import statistics

    monkeypatch.setattr(api, "_CHECKPOINT_EVERY", 8)
    db = HashDb(spark)
    window = 25
    medians = []
    for w in range(4):
        per_set = []
        for i in range(w * window, (w + 1) * window):
            t0 = time.time()
            db.set(f"pk{i % 5}", f"sk{i:04d}", f"v{i}")
            per_set.append(time.time() - t0)
        medians.append(statistics.median(per_set))
    # Without the checkpoint EVERY set in the 4th window is ~4x the
    # 1st window's (lineage depth grows per mutation), so the window
    # MEDIAN jumps; with it, medians are level. Compare medians, not
    # sums: a single GC/stage-cleanup stall in a 450-stage-old shared
    # session inflates one sample, which is noise, not lineage growth
    # (observed flaking the sum form at suite position ~Stage 450+).
    assert medians[3] < 2.5 * max(medians[0], 1e-3), medians
    assert db.get("pk1", "sk0096") == "v96"
    assert len(db.query_begins("pk2", "sk")) == 20


def _graph_rows(db):
    nodes = sorted(
        (r.id, r.label, r.name, sorted(r.attrs.items()))
        for r in db.nodes.collect()
    )
    return nodes, sorted(tuple(r) for r in db.edges.collect())


def test_store_shape_stays_flat(spark):
    """Every store write leaves through one capped checkpoint, so a SQL
    table and the graph frames hold at most defaultParallelism
    partitions however many statements wrote them (each union-style
    write used to append its own partitions), and their rows still
    follow the statements."""
    cap = spark.sparkContext.defaultParallelism
    n = 3 * cap
    db = HashDb(spark)
    model: dict[int, dict] = {}
    for i in range(n):
        db.sql(f"insert into shape (shape_name, age) values ('s{i}', {i})")
        model[i + 1] = {"id": i + 1, "shape_name": f"s{i}", "age": i}
        db.sql(f"update shape set shape.age = {10 * i} "
               f"where shape.shape_name = 's{i // 2}'")
        model[i // 2 + 1]["age"] = 10 * i
        db.cypher(f"merge (p:Person {{'name': 'p{i}'}})-[:KNOWS]->"
                  f"(q:Person {{'name': 'p{i + 1}'}})")
    for df in (db.table("shape"), db.nodes, db.edges):
        assert df.rdd.getNumPartitions() <= cap
    got = sorted(db.sql("select * from shape"), key=lambda r: r["id"])
    assert got == [model[i] for i in sorted(model)]
    assert _graph_rows(db) == (
        sorted((f"person:p{i}", "Person", f"p{i}", []) for i in range(n + 1)),
        sorted((f"person:p{i}", f"person:p{i + 1}", "KNOWS") for i in range(n)),
    )


def test_failed_statement_leaves_stores_unchanged(spark):
    """A statement that raises changes no store: the catalog keeps the
    very same table frames and the graph keeps its rows."""
    db = HashDb(spark)
    db.sql("insert into atom (atom_name, age) values ('a', 1)")
    db.cypher("merge (p:Person {'name': 'Ann'})-[:KNOWS]->"
              "(q:Person {'name': 'Bo'})")
    db.save("atom_docs", "1", {"name": "Ann"})
    tables = dict(db.engine.tables)
    graph = _graph_rows(db)
    failing = [
        (db.sql, "insert into atom (atom_name, age) values ('b')", "arity"),
        (db.sql, "insert into atom (atom_name, age) values ('b', 1.2.3)",
         "malformed"),
        (db.sql, "insert into atom (atom_name, age) values ('b', , 2)",
         "empty value"),
        (db.sql, "insert into atom (atom_name, age) values ('b', 2,)",
         "empty value"),
        (db.sql, "update atom set atom.age = 1.2.3 where atom.atom_name = 'a'",
         "malformed"),
        (db.sql, "update atom set atom.age = 2 where atom.~tags[]~name = 'x'",
         "document-path"),
        (db.cypher, "merge (p:PERSON {'name': 'Ann'})", "label conflict"),
        (db.cypher, "merge (a:Person {'name': 'X'})-[:R]->"
         "(b:PERSON {'name': 'X'})", "label conflict"),
        # a batch raises where its statements one by one would
        (CypherCompiler(db.nodes, db.edges).merge_many,
         ["merge (a:Person {'name': 'Y'})", "merge (a:PERSON {'name': 'Y'})"],
         "label conflict"),
        (db.cypher, "merge (p:Person {'age': '3'})-[:KNOWS]->"
         "(q:Person {'name': 'Cy'})", "name attribute"),
        # a document that is not a JSON object would add Spark's
        # _corrupt_record column to the collection's view
        (lambda doc: db.save("atom_docs", "2", doc), [1, 2], "JSON object"),
    ]
    for run, stmt, why in failing:
        with pytest.raises(ValueError, match=why):
            run(stmt)
    assert db.engine.tables.keys() == tables.keys()
    assert all(db.engine.tables[t] is df for t, df in tables.items())
    assert _graph_rows(db) == graph
    assert db.sql("select * from atom") == [
        {"age": 1, "atom_name": "a", "id": 1}
    ]
    assert db.sql("select * from atom_docs") == [{"doc_id": "1", "name": "Ann"}]
    assert db.document("atom_docs", "2") is None


def test_non_string_kv_key_is_rejected(spark):
    """A key that is neither str nor None raises before it reaches the
    pending writes, so it cannot break a later fold."""
    db = HashDb(spark)
    with pytest.raises(TypeError):
        db.set(1, "sk", "v")
    with pytest.raises(TypeError):
        db.clear("pk", 2)
    assert db.kv.collect() == []


def _spark_jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return its result and
    the number of Spark jobs it started, read back from the status
    tracker once the listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    group = f"facade-verb-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_facade_spark_jobs_per_verb(spark):
    """A facade range verb is one Spark job (filter + collect; the sort
    runs on the driver), with or without pending writes. set/clear below
    the fold threshold start no job; a get answered from the pending
    writes starts none, and one that misses them starts one."""
    db = HashDb(spark)
    for i in range(4):
        db.set("user#a", f"m#{i}", f"v{i}")
    db.kv = db.kv.localCheckpoint()  # a clean base, no pending writes

    assert _spark_jobs(spark, lambda: db.query_begins("user#a", "m#"))[1] == 1
    assert _spark_jobs(spark, lambda: db.set("user#a", "m#9", "v9"))[1] == 0
    assert _spark_jobs(spark, lambda: db.clear("user#a", "m#0"))[1] == 0
    assert _spark_jobs(spark, lambda: db.get("user#a", "m#9")) == ("v9", 0)
    assert _spark_jobs(spark, lambda: db.get("user#a", "m#1")) == ("v1", 1)
    want = [("user#a", f"m#{i}", f"v{i}") for i in (1, 2, 3, 9)]
    verbs = [
        (lambda d: db.query_begins("user#a", "m#", desc=d), want),
        (lambda d: db.query_pk_sk_begins("user#", "m#", desc=d), want),
        (lambda d: db.query_between("user#a", "m#1", "m#3", desc=d), want[:3]),
        (lambda d: db.both_between("user#a", "user#b", "m#2", "m#9", desc=d),
         want[1:]),
        (lambda d: db.query_before_than("user#a", "m#", "m#3", desc=d),
         want[:2]),
        (lambda d: db.query_greater_than("user#a", "m#", "m#2", desc=d),
         want[2:]),
    ]
    for verb, rows in verbs:
        for desc in (False, True):
            got, jobs = _spark_jobs(spark, lambda: verb(desc))
            assert (got, jobs) == (rows[::-1] if desc else rows, 1)


def test_facade_write_jobs(spark):
    """A dialect INSERT into an existing table runs its max(id) probe
    and one checkpoint: two jobs. A MERGE whose nodes and edges all exist runs its
    two probes and nothing else, and keeps the very same graph frames."""
    db = HashDb(spark)
    db.sql("insert into cost (cost_name, age) values ('a', 1)")
    _, jobs = _spark_jobs(
        spark, lambda: db.sql("insert into cost (cost_name, age) values ('b', 2)")
    )
    assert jobs <= 2
    assert [r["id"] for r in db.sql("select * from cost")] == [1, 2]
    stmt = "merge (p:Person {'name': 'Ann'})-[:KNOWS]->(q:Person {'name': 'Bo'})"
    db.cypher(stmt)
    nodes, edges = db.nodes, db.edges
    assert _spark_jobs(spark, lambda: db.cypher(stmt))[1] <= 2
    assert db.nodes is nodes and db.edges is edges


def _shape(df):
    """A frame's size estimate in bytes and its partition count."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size), df.rdd.getNumPartitions()


def test_stores_report_their_real_size(spark, monkeypatch):
    """A fresh store is an empty LocalRelation: no partitions and a
    finite size estimate (a frame over an RDD reports Long.MaxValue
    bytes, and every checkpoint of a store carries it forward). Written
    stores keep a true estimate, and capped_checkpoint fits a KB-sized
    store into one partition; a frame larger than the advisory
    partition size keeps more than one."""
    from hash_db_spark import api
    from hash_db_spark.localframe import capped_checkpoint, local_frame

    unknown = 2**63 - 1
    db = HashDb(spark)
    for df in (db.kv, db.nodes, db.edges):
        size, parts = _shape(df)
        assert parts == 0 and size < unknown
    monkeypatch.setattr(api, "_CHECKPOINT_EVERY", 4)
    for i in range(4):
        db.set("user#a", f"m#{i}", f"v{i}")
    assert not db._kv_delta  # the fourth set folded the delta
    for i in range(3):
        db.sql(f"insert into sized (sized_name, age) values ('s{i}', {i})")
        db.cypher(f"merge (p:Person {{'name': 'p{i}'}})-[:KNOWS]->"
                  f"(q:Person {{'name': 'p{i + 1}'}})")
    for df in (db.kv, db.nodes, db.edges, db.table("sized")):
        size, parts = _shape(df)
        assert size < 2**20 and parts == 1

    rows = [(i, f"row-{i}") for i in range(64)]
    frame = local_frame(spark, rows, "id long, name string")
    assert _shape(capped_checkpoint(frame))[1] == 1
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64b")
    try:
        assert _shape(capped_checkpoint(frame))[1] > 1
    finally:
        spark.conf.set(key, old)


def test_facade_read_jobs(spark, monkeypatch):
    """Stores that know their size plan small: a MATCH's joins
    broadcast, so each MATCH shape runs at most 4 jobs, and a KB-sized
    table is one partition, so a group by or a select distinct runs
    without an exchange, in one job. Each MATCH is one SQL statement and
    builds no DataFrame join: its plan is analysed once, not once per
    join."""
    from pyspark.sql import DataFrame, SparkSession

    calls = []

    def record(cls, name):
        real = getattr(cls, name)

        def recording(self, *args, **kwargs):
            calls.append(name)
            return real(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, recording)

    record(SparkSession, "sql")
    record(DataFrame, "join")
    db = HashDb(spark)
    for i in range(6):
        db.sql(f"insert into rj (rj_name, age) values ('r{i}', {20 + i % 3})")
    for chain in ("ABC", "CDE", "EFA", "BGH"):
        db.cypher("merge " + "-[:FRIENDS]->".join(
            f"(n{i}:Person {{'name': '{c}'}})" for i, c in enumerate(chain)))
    db.cypher("merge (a:Person {'name': 'A'})-[:FOLLOWS]->"
              "(h:Person {'name': 'H'})")
    p = lambda name: f"person:{name}"  # noqa: E731
    matches = [
        ("match (p:Person {'name': 'A'})-[:FRIENDS]->(f:Person)"
         "-[:FRIENDS]->(g:Person) return f, g", ("f", "g"),
         [(p("B"), p("C")), (p("B"), p("G"))]),
        ("match (a:Person {'name': 'A'})-[:FRIENDS*1..3]->(b:Person) "
         "return a, b", ("a", "b"), [(p("A"), p(b)) for b in "BCDGH"]),
        ("match (p:Person) optional match (p)-[:FOLLOWS]->(q:Person) "
         "return p, q", ("p", "q"),
         [(p(n), p("H") if n == "A" else None) for n in "ABCDEFGH"]),
        ("match (p:Person)-[:FRIENDS]->(q) where p.name = 'B' return p, q",
         ("p", "q"), [(p("B"), p("C")), (p("B"), p("G"))]),
        ("match (a:Person {'name': 'A'})-[:FRIENDS*1..3]->(b:Person) "
         "return count(b)", ("cnt",), [(5,)]),
        ("match (a:Person {'name': 'H'}), (b)<-[:FOLLOWS]-() return a, b",
         ("a", "b"), [(p("H"), p("H"))]),
    ]
    for stmt, cols, want in matches:
        calls.clear()
        got, jobs = _spark_jobs(spark, lambda: db.cypher(stmt))
        assert sorted(tuple(r[c] for c in cols) for r in got) == want
        assert jobs <= 4, stmt
        assert calls == ["sql"], stmt
    got, jobs = _spark_jobs(
        spark, lambda: db.sql("select rj.age, count(*) from rj group by rj.age"))
    assert (sorted((r["age"], r["cnt"]) for r in got), jobs) == (
        [(20, 2), (21, 2), (22, 2)], 1)
    got, jobs = _spark_jobs(
        spark, lambda: db.sql("select distinct rj.age from rj"))
    assert (sorted(r["age"] for r in got), jobs) == ([20, 21, 22], 1)


# Node names, attribute keys and values that would break a statement, or
# change it, if they were spliced into its text.
_HOSTILE_NAMES = [
    'Ann "the" {x}', ":p0", "`Bo`", "Cy -- ; drop", "D\\é", "O'Neil",
    "東京 {nodes}",
]
_HOSTILE_KEY = "`k` :p2 }"


def _quoted(value: str) -> str:
    return f'"{value}"' if "'" in value else f"'{value}'"


def _hostile_graph(spark):
    """A FRIENDS cycle over _HOSTILE_NAMES, a FOLLOWS edge from the
    first node to the last, and two attributes per node; returns the
    facade, each node's attribute value and the model's edges."""
    db = HashDb(spark)
    tag = {n: f"t{i}:p1 ';{{" for i, n in enumerate(_HOSTILE_NAMES)}

    def node(var: str, name: str) -> str:
        return (f"({var}:Person {{'name': {_quoted(name)}, "
                f"'tag': {_quoted(tag[name])}, "
                f"'{_HOSTILE_KEY}': {_quoted(tag[name])}}})")

    ring = _HOSTILE_NAMES + _HOSTILE_NAMES[:1]
    edges = {(a, b, "FRIENDS") for a, b in zip(ring, ring[1:])}
    edges.add((_HOSTILE_NAMES[0], _HOSTILE_NAMES[-1], "FOLLOWS"))
    for a, b, rel in sorted(edges):
        db.cypher(f"merge {node('a', a)}-[:{rel}]->{node('b', b)}")
    return db, tag, edges


def _hostile_matches(tag, edges):
    """(statement, returned columns, the model's rows) for each MATCH
    shape: chain, *1..3, count(), WHERE, an attribute map and OPTIONAL."""
    def pid(name):
        return f"person:{name}"

    def succ(name, rel):
        return {b for a, b, r in edges if a == name and r == rel}

    for n in _HOSTILE_NAMES:
        named = f"(p:Person {{'name': {_quoted(n)}}})"
        yield (f"match {named}-[:FRIENDS]->(f:Person)-[:FRIENDS]->(g:Person) "
               "return f, g", ("f", "g"),
               {(pid(f), pid(g)) for f in succ(n, "FRIENDS")
                for g in succ(f, "FRIENDS")})
        reach, frontier = set(), {n}
        for _ in range(3):
            frontier = {b for a in frontier for b in succ(a, "FRIENDS")}
            reach |= frontier
        yield (f"match {named}-[:FRIENDS*1..3]->(b:Person) return p, b",
               ("p", "b"), {(pid(n), pid(b)) for b in reach})
        yield (f"match {named}-[:FRIENDS*1..3]->(b:Person) return count(b)",
               ("cnt",), {(len(reach),)})
        yield (f"match (p:Person)-[:FRIENDS]->(q) where p.tag = "
               f"{_quoted(tag[n])} return p, q", ("p", "q"),
               {(pid(n), pid(q)) for q in succ(n, "FRIENDS")})
        yield (f"match (p:Person {{'{_HOSTILE_KEY}': {_quoted(tag[n])}}}) "
               "return p", ("p",), {(pid(n),)})
    yield ("match (p:Person) optional match (p)-[:FOLLOWS]->(q:Person) "
           "return p, q", ("p", "q"),
           {(pid(n), pid(q) if q else None)
            for n in _HOSTILE_NAMES for q in succ(n, "FOLLOWS") or {None}})


def test_match_values_are_bound_not_spliced(spark, monkeypatch):
    """Labels, relationship names, attribute keys and values reach a
    MATCH as named parameters: names and values full of SQL and format
    syntax come back exactly as the model says, every one of them is a
    bound value, and the statement's text holds no string literal."""
    from pyspark.sql import SparkSession

    db, tag, edges = _hostile_graph(spark)
    statements = []
    real_sql = SparkSession.sql

    def recording_sql(self, text, args=None, **kwargs):
        statements.append((text, args))
        return real_sql(self, text, args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", recording_sql)
    for stmt, cols, want in _hostile_matches(tag, edges):
        got = {tuple(r[c] for c in cols) for r in db.cypher(stmt)}
        assert got == want, stmt
    bound = {v for _, args in statements for v in args.values()}
    assert {*_HOSTILE_NAMES, *tag.values(), _HOSTILE_KEY} <= bound
    assert not [t for t, _ in statements if "'" in t or '"' in t]


def test_sql_script_multi_statement_session(db):
    """The reference example.py drives one POST per statement
    (example.py:86-146); sql_script replays the same session in one
    call — inserts, an update, then the final select's rows come back.
    A quoted ';' must not split a statement."""
    out = db.sql_script(
        """
        insert into crew (crew_name, age, motto) values ('Ada', 36, 'go; fast');
        insert into crew (crew_name, age, motto) values ('Joan', 29, 'steady');
        insert into crew (crew_name, age, motto) values ('Grace', 36, 'curious');
        update crew set crew.age = 37 where crew.crew_name = 'Joan';
        select * from crew where crew.age = 36
        """
    )
    assert {r["crew_name"] for r in out} == {"Ada", "Grace"}
    assert db.sql("select * from crew where crew.crew_name = 'Ada'")[0][
        "motto"
    ] == "go; fast"
    # a script with no select returns None; a select followed by a
    # trailing mutation still returns that (last) select's rows
    assert (
        db.sql_script(
            "insert into crew (crew_name, age, motto) values ('Mae', 40, 'up')"
        )
        is None
    )
    out = db.sql_script(
        "select * from crew where crew.crew_name = 'Mae';"
        " update crew set crew.age = 41 where crew.crew_name = 'Mae'"
    )
    assert [r["crew_name"] for r in out] == ["Mae"]
    assert [
        r["crew_name"] for r in db.sql("select * from crew where crew.age = 41")
    ] == ["Mae"]
