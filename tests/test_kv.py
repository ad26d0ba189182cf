"""Unit tests for the KV operator semantics (SURVEY §2.1), modeled on the
reference's hash-db.py demo scenario (/root/reference/hash-db.py:85-101) —
pk 'user#samsquire', message/following sk families, date-range scans."""

from __future__ import annotations

import pytest

from hash_db_spark.operators import kv as K

ROWS = [
    ("user#samsquire", "following#dinar", "1"),
    ("user#samsquire", "message#2020-05-01T14:39", "Message 101"),
    ("user#samsquire", "message#2020-06-10T09:00", "Message 102"),
    ("user#samsquire", "message#2020-06-25T23:59", "Message 103"),
    ("user#samsquire", "message#2020-07-04T08:00", "Message 104"),
    ("user#samsquire", "profile", "samsquire"),
    ("user#dinar", "message#2020-06-11T10:00", "hello"),
]


@pytest.fixture(scope="module")
def kv(spark):
    return spark.createDataFrame(ROWS, ["pk", "sk", "value"]).cache()


def skv(df):
    return [(r.pk, r.sk, r.value) for r in df.collect()]


def test_get(kv):
    assert skv(K.kv_get(kv, "user#samsquire", "profile")) == [
        ("user#samsquire", "profile", "samsquire")
    ]


def test_query_begins_asc(kv):
    got = skv(K.query_begins(kv, "user#samsquire", "message#"))
    assert [r[2] for r in got] == [
        "Message 101",
        "Message 102",
        "Message 103",
        "Message 104",
    ]


def test_query_begins_desc(kv):
    got = skv(K.query_begins(kv, "user#samsquire", "message#", desc=True))
    assert [r[2] for r in got] == [
        "Message 104",
        "Message 103",
        "Message 102",
        "Message 101",
    ]


def test_query_between_closed_range(kv):
    # The flagship Phase-1 query: June messages only (SURVEY §7 Phase 1).
    got = skv(
        K.query_between(
            kv, "user#samsquire", "message#2020-06-01", "message#2020-07-01"
        )
    )
    assert [r[2] for r in got] == ["Message 102", "Message 103"]


def test_pk_sk_begins_spans_pks(kv):
    got = skv(K.query_pk_sk_begins(kv, "user#", "message#2020-06"))
    assert len(got) == 3
    assert got[0][0] == "user#dinar"  # pk-major ordering


def test_both_between(kv):
    got = skv(
        K.both_between(
            kv, "user#a", "user#z", "message#2020-06-01", "message#2020-06-30"
        )
    )
    assert [r[2] for r in got] == ["hello", "Message 102", "Message 103"]


def test_before_greater_than(kv):
    before = skv(
        K.query_before_than(kv, "user#samsquire", "message#", "message#2020-06-25")
    )
    after = skv(
        K.query_greater_than(kv, "user#samsquire", "message#", "message#2020-06-25")
    )
    assert [r[2] for r in before] == ["Message 101", "Message 102"]
    assert [r[2] for r in after] == ["Message 103", "Message 104"]


def test_set_upsert_and_insert(spark, kv):
    news = spark.createDataFrame(
        [
            ("user#samsquire", "profile", "UPDATED"),  # overwrite
            ("user#new", "profile", "brand-new"),  # insert
        ],
        ["pk", "sk", "value"],
    )
    out = K.kv_set(kv, news)
    assert out.count() == len(ROWS) + 1
    assert skv(K.kv_get(out, "user#samsquire", "profile"))[0][2] == "UPDATED"
    assert skv(K.kv_get(out, "user#new", "profile"))[0][2] == "brand-new"


def test_clear(kv):
    out = K.kv_clear(kv, "user#samsquire", "profile")
    assert out.count() == len(ROWS) - 1
    assert K.kv_get(out, "user#samsquire", "profile").count() == 0


def test_kv_set_intra_batch_duplicates_collapse(spark, kv):
    """A batch is a set — an intra-batch (pk, sk) collision resolves
    deterministically (max value) and the unique-key invariant holds."""
    rows = spark.createDataFrame(
        [("p1", "s1", "v1"), ("p1", "s1", "v2"), ("p2", "s1", "x")],
        ["pk", "sk", "value"],
    )
    out = K.kv_set(kv, rows)
    got = skv(K.kv_get(out, "p1", "s1"))
    assert got == [("p1", "s1", "v2")]
    assert out.groupBy("pk", "sk").count().filter("count > 1").count() == 0


def test_kv_clear_preserves_null_keyed_rows(spark):
    """Deleting one key must not sweep away unrelated NULL-keyed rows
    via three-valued logic."""
    kvn = spark.createDataFrame(
        [(None, "s1", "a"), ("p", None, "b"), ("p", "s", "c")],
        "pk string, sk string, value string",
    )
    out = K.kv_clear(kvn, "p", "s")
    assert sorted((r.value) for r in out.collect()) == ["a", "b"]


def test_kv_set_replaces_null_keyed_rows(spark):
    """Re-setting a NULL-keyed row replaces it (the anti-join is
    null-safe), so the unique-(pk, sk) invariant holds for NULL keys;
    unrelated rows stay."""
    schema = "pk string, sk string, value string"
    kvn = spark.createDataFrame([("p", "s", "c")], schema)
    for v in ("1", "2"):
        kvn = K.kv_set(kvn, spark.createDataFrame([(None, "a", v)], schema))
    got = [(r.pk, r.sk, r.value) for r in kvn.collect()]
    assert sorted(got, key=str) == [("p", "s", "c"), (None, "a", "2")]


def test_kv_apply_folds_upserts_and_tombstones(spark):
    """A delta replaces every row of its keys, NULL keys and duplicated
    stored keys included; a NULL value deletes the key."""
    schema = "pk string, sk string, value string"
    kv = spark.createDataFrame(
        [("p", "s", "old"), ("p", "s", "dup"), ("p", "t", "keep"),
         (None, "s", "n"), ("q", "s", "gone")],
        schema,
    )
    delta = spark.createDataFrame(
        [("p", "s", "new"), (None, "s", None), ("q", "s", None),
         ("r", None, "ins")],
        schema,
    )
    got = [(r.pk, r.sk, r.value) for r in K.kv_apply(kv, delta).collect()]
    assert sorted(got, key=str) == sorted(
        [("p", "s", "new"), ("p", "t", "keep"), ("r", None, "ins")], key=str
    )
