"""End-to-end replay of the reference's example.py SQL scenario
(/root/reference/example.py:86-238,286-306) through the dialect engine:
inserts with emergent schema + auto-id, equality select, update-then-
reselect, the 2-chain inner join, FTS and/or, create join."""

from __future__ import annotations

import pytest

from hash_db_spark.sql import SqlEngine


@pytest.fixture(scope="module")
def engine(spark):
    eng = SqlEngine(spark, {})
    for name, age in [("Sam", 29), ("Dinar", 31), ("Lee", 29)]:
        eng.sql(
            f"insert into people (people_name, age) values ('{name}', {age})"
        )
    for search, people in [
        ("fishing rod", 1),
        ("spanner blah sentence", 3),
        ("boat", 1),
        ("blah nonsense", 2),
    ]:
        eng.sql(f"insert into items (search, people) values ('{search}', {people})")
    for pname, price in [("Spanner", 3), ("Spanner", 5), ("boat", 100)]:
        eng.sql(f"insert into products (name, price) values ('{pname}', {price})")
    return eng


def test_insert_auto_id_and_emergent_schema(engine):
    people = engine.tables["people"]
    rows = {r.people_name: r.id for r in people.collect()}
    assert rows == {"Sam": 1, "Dinar": 2, "Lee": 3}


def test_select_where_eq(engine):
    # example.py:118-124 — select * from people where people.age = 29
    got = engine.sql("select * from people where people.age = 29")
    assert sorted(r.people_name for r in got.collect()) == ["Lee", "Sam"]


def test_update_then_reselect(engine):
    # example.py:126-149 — update Sam to 31, re-select both ages.
    engine.sql("update people set people.age = 31 where people.people_name = 'Sam'")
    assert sorted(
        r.people_name
        for r in engine.sql(
            "select * from people where people.age = 31"
        ).collect()
    ) == ["Dinar", "Sam"]
    assert [
        r.people_name
        for r in engine.sql("select * from people where people.age = 29").collect()
    ] == ["Lee"]
    # restore for later tests
    engine.sql("update people set people.age = 29 where people.people_name = 'Sam'")


def test_two_chain_join(engine):
    # example.py:226-238 — select products.price, people.people_name,
    # items.search from items inner join people ... inner join products ...
    got = engine.sql(
        "select people.people_name, items.search from items "
        "inner join people on items.people = people.id"
    )
    rows = {(r.people_name, r.search) for r in got.collect()}
    assert ("Sam", "fishing rod") in rows
    assert ("Lee", "spanner blah sentence") in rows
    assert len(rows) == 4


def test_fts_and_or(engine):
    # example.py:296-306 — items.search ~ 'blah | nonsense | notthere'
    # and items.people = 3
    got = engine.sql(
        "select items.search from items "
        "where items.search ~ 'blah | nonsense | notthere' "
        "and items.people = 3"
    )
    assert [r.search for r in got.collect()] == ["spanner blah sentence"]


def test_group_by_count(engine):
    got = {
        r.age: r.cnt
        for r in engine.sql(
            "select people.age, count(*) from people group by people.age"
        ).collect()
    }
    assert got == {29: 2, 31: 1}


def test_create_join_and_materialized_view(engine):
    # README.md:29-60 — register the join; view is queryable.
    engine.sql(
        "create join inner join people on people.id = items.people"
    )
    assert "items" in engine.joins
    mv = engine.materialized_view("items")
    rows = {(r.search, r.people_name) for r in mv.collect()}
    assert ("boat", "Sam") in rows
    assert len(rows) == 4


def test_typed_equality_not_prefix(engine):
    # SURVEY §2.1 caveat: the reference's S-index prefix scan matches
    # age=29 against 290+; typed equality must not.
    engine.sql("insert into people (people_name, age) values ('Old', 290)")
    got = engine.sql("select * from people where people.age = 29")
    assert sorted(r.people_name for r in got.collect()) == ["Lee", "Sam"]


def test_document_path_sql(engine, spark):
    # example.py:308-344 — the people JSON doc queried via ~hobbies[]~name,
    # using the reference's own SQL syntax through the dialect engine.
    engine.tables["people_docs"] = spark.createDataFrame(
        [
            (1, "Sam Squire", 32,
             [{"name": "God"}, {"name": "databases"}, {"name": "computers"}]),
            (2, "Other", 20, [{"name": "sports"}]),
        ],
        "doc_id long, name string, age long, "
        "hobbies array<struct<name: string>>",
    )
    got = engine.sql(
        "select * from people_docs where people_docs.~hobbies[]~name = 'God'"
    ).collect()
    assert len(got) == 1 and got[0].doc_id == 1

    hobbies = engine.sql(
        "select people_docs.doc_id, people_docs.~hobbies[]~name from people_docs"
    )
    rows = {(r.doc_id, r.name) for r in hobbies.collect()}
    assert rows == {
        (1, "God"), (1, "databases"), (1, "computers"), (2, "sports"),
    }


def test_bad_statements_raise(engine):
    with pytest.raises(ValueError):
        engine.sql("drop table people")
    with pytest.raises(ValueError):
        engine.sql("select * from people where people.age >< 3")
    with pytest.raises(ValueError, match="unterminated"):
        engine.sql("select * from people where people.people_name = 'Sam")


def test_group_by_without_aggregate_is_distinct_keys(engine):
    got = engine.sql("select people.age from people group by people.age")
    assert got.columns == ["age"]
    expect = {
        r.age for r in engine.tables["people"].select("age").distinct().collect()
    }
    assert {r.age for r in got.collect()} == expect and expect


def test_malformed_numeric_literal_raises(engine):
    with pytest.raises(ValueError, match="malformed numeric"):
        engine.sql("select * from people where people.age = 1.2.3")


def test_dialect_phrase_match(spark):
    """~ '"a b"' in the dialect WHERE routes to adjacency phrase match."""
    from hash_db_spark.sql.dialect import SqlEngine

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "brown the quick fox")],
        ["id", "body"],
    )
    eng = SqlEngine(spark, {"docs": docs})
    out = eng.sql("select id from docs where docs.body ~ '\"quick brown\"'")
    assert [r.id for r in out.collect()] == [1]


def test_order_by_limit(engine):
    # Free-win clauses (SURVEY §2.2): order by + limit compile to a
    # top-k plan; tie-break column keeps output deterministic.
    got = engine.sql(
        "select products.name, products.price from products "
        "order by products.price desc, products.name asc limit 2"
    )
    assert [(r.name, r.price) for r in got.collect()] == [
        ("boat", 100),
        ("Spanner", 5),
    ]


def test_order_by_asc_default(engine):
    got = engine.sql(
        "select people.people_name from people order by people.age, people.people_name"
    )
    expect = [
        r.people_name
        for r in engine.tables["people"]
        .orderBy("age", "people_name")
        .collect()
    ]
    assert [r.people_name for r in got.collect()] == expect and len(expect) >= 3


def test_select_distinct(engine):
    got = engine.sql("select distinct products.name from products")
    assert {r.name for r in got.collect()} == {"Spanner", "boat"}
    assert got.count() == 2


def test_order_limit_after_group_by(engine):
    got = engine.sql(
        "select products.name, count(*) from products "
        "group by products.name order by products.name desc limit 1"
    )
    assert [(r.name, r.cnt) for r in got.collect()] == [("boat", 1)]


def test_order_by_limit_plan_is_top_k(engine):
    # LIMIT+ORDER BY must plan TakeOrderedAndProject (per-partition
    # top-k, no global sort) — the scale-safe shape.
    got = engine.sql(
        "select products.name from products order by products.price desc limit 2"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_where_comparison_operators(engine):
    ppl = engine.tables["people"]
    got = {r.people_name for r in engine.sql(
        "select people.people_name from people where people.age > 30"
    ).collect()}
    want = {r.people_name for r in ppl.filter("age > 30").collect()}
    assert got == want and want
    got = {r.people_name for r in engine.sql(
        "select people.people_name from people "
        "where people.age >= 29 and people.age != 31"
    ).collect()}
    want = {
        r.people_name for r in ppl.filter("age >= 29 AND age != 31").collect()
    }
    assert got == want and want


def test_string_literals_preserve_whitespace_and_keywords(spark):
    """Whitespace normalization and the WHERE 'and' split must not
    touch single-quoted literals: values with double spaces, commas,
    and the word 'and' round-trip exactly."""
    eng = SqlEngine(spark, {})
    eng.sql("insert into songs (title, artist) values ('rock and roll', 'A  B')")
    eng.sql("update songs set songs.artist = 'Smith, John' "
            "where songs.title = 'rock and roll'")
    got = eng.sql("select * from songs where songs.title = 'rock and roll'")
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0]["artist"] == "Smith, John"
    # double-space value survived ingest before the update
    eng.sql("insert into songs (title, artist) values ('x', 'A  B')")
    rows = eng.sql("select * from songs where songs.artist = 'A  B'").collect()
    assert [r["title"] for r in rows] == ["x"]

    # clause keywords, ';' and ',' inside literals, through SELECT WHERE,
    # UPDATE SET and WHERE, and a script
    from hash_db_spark.api import HashDb

    db = HashDb(spark)
    values = [" where ", "c order by d", "e group by f.g", "h limit 5",
              "a;b", "x, y", "p and q"]
    for v in values:
        db.sql(f"insert into odd (v) values ('{v}')")
    for v in values:
        assert [r["v"] for r in db.sql(f"select * from odd where odd.v = '{v}'")] == [v]
        db.sql(f"update odd set odd.w = '{v}', odd.n = 1 where odd.v = '{v}'")
    assert sorted((r["v"], r["w"], r["n"]) for r in db.sql("select * from odd")) == (
        sorted((v, v, 1) for v in values)
    )
    rows = db.sql_script(
        "; ".join(f"insert into odd2 (v) values ('{v}')" for v in values)
        + f"; update odd2 set odd2.w = '{values[0]}' where odd2.v = '{values[4]}'"
        + f"; select * from odd2 where odd2.v = '{values[4]}'"
    )
    assert [(r["v"], r["w"]) for r in rows] == [(values[4], values[0])]
    assert sorted(r["v"] for r in db.sql("select * from odd2")) == sorted(values)


def test_unparseable_aggregate_and_join_raise_not_degrade(engine):
    """Silently-wrong shapes now raise: an unqualified aggregate must
    not degrade GROUP BY to distinct keys, and a join with unqualified
    refs must not run un-joined."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported aggregate"):
        engine.sql("select sum(age) from people group by people.age")
    with _pytest.raises(ValueError, match="table.field"):
        engine.sql("select * from items inner join people on people = id")
    # an ON clause that never names the joined table
    for stmt in ("select * from items inner join people "
                 "on items.people = products.id",
                 "create join inner join people on items.people = products.id"):
        with _pytest.raises(ValueError, match="exactly one side"):
            engine.sql(stmt)
    with _pytest.raises(ValueError, match="ambiguous driving table"):
        engine.sql(
            "create join inner join people on items.people = people.id "
            "inner join products on orders.product = products.id"
        )
