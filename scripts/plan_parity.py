"""Print the optimized logical plan, with expression ids normalised, and
the sorted rows of every dialect select shape perfbench's example_session
runs (plus a two-predicate select and ``select *``) and of
``materialized_view("items")`` after its ``create join``.

Runs the ``hash_db_spark`` of the current directory, so the same script
compares two checkouts:

    (cd parent && python /path/to/scripts/plan_parity.py) > parent.txt
    (cd change && python /path/to/scripts/plan_parity.py) > change.txt
    diff parent.txt change.txt
"""
import os
import re
import sys

sys.path.insert(0, os.getcwd())
from hash_db_spark.session import get_spark  # noqa: E402
from hash_db_spark.api import HashDb  # noqa: E402

spark = get_spark(app_name="parity")
spark.sparkContext.setLogLevel("ERROR")
db = HashDb(spark)
for i, (n, a) in enumerate([("Sam", 29), ("Dinar", 31), ("Lee", 29), ("Ann", 40)]):
    db.sql(f"insert into people (people_name, age) values ('{n}-{i}', {a})")
for s, p, pr in [("fishing rod", 1, 1), ("spanner blah sentence", 3, 2),
                 ("boat", 1, 3), ("blah nonsense", 2, 1), ("rod boat", 4, 2)]:
    db.sql(f"insert into items (search, people, product) values ('{s}', {p}, {pr})")
for n, p in [("Spanner", 3), ("Hammer", 5), ("Wrench", 100)]:
    db.sql(f"insert into products (name, price) values ('{n}', {p})")
db.sql("update people set people.age = 33 where people.people_name = 'Lee-2'")
for i, hs in enumerate([["chess", "golf"], ["golf"], ["swim"]]):
    db.save("pdocs", str(i + 1), {"name": f"n{i}", "age": 20 + i,
                                   "hobbies": [{"name": h} for h in hs]})
db.sql("create join inner join people on people.id = items.people")

shapes = {
    "select_eq": "select * from people where people.age = 29",
    "select_cmp": "select people.people_name, people.age from people where people.age > 30",
    "select_two": "select people.people_name from people where people.age >= 29 and people.age != 31",
    "fts_or": "select * from items where items.search ~ 'rod | boat'",
    "fts_and": "select * from items where items.search ~ 'rod & boat'",
    "fts_phrase": "select * from items where items.search ~ '\"rod boat\"'",
    "select_join": "select people.people_name, items.search, products.price "
                   "from items inner join people on items.people = people.id "
                   "inner join products on items.product = products.id",
    "group_by": "select people.age, count(*) from people group by people.age",
    "order_limit": "select people.people_name, people.age from people "
                   "order by people.age desc, people.people_name limit 3",
    "distinct": "select distinct items.people from items",
    "doc_where": "select * from pdocs where pdocs.~hobbies[]~name = 'golf'",
    "doc_leaves": "select pdocs.doc_id, pdocs.~hobbies[]~name from pdocs",
    "select_all": "select * from people",
}


def show(name, df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"\[id=\d+\]|plan_id=\d+", "", plan)
    rows = sorted(repr(sorted(r.asDict(recursive=True).items())) for r in df.collect())
    print(f"== {name}\n{plan}\n-- rows\n" + "\n".join(rows))


for name, text in shapes.items():
    show(name, db.sql_df(text))
show("materialized_view", db.engine.materialized_view("items"))
spark.stop()
