"""HashDb — single-object facade with the reference server's API surface.

A reference user talks to ONE coordinator over HTTP
(/root/reference/server.py routes); this class gives that user the same
verbs on top of the Spark engines, so switching is a mechanical
endpoint→method rename:

    reference endpoint                        HashDb method
    ----------------------------------------  ------------------------------
    POST /set  (server.py:80)                 set(pk, sk, value)
    GET  /get/<key>  (client.py:59)           get(pk, sk)
    GET  /clear/<key>  (client.py:204)        clear(pk, sk)
    /query_begins  (server.py:113)            query_begins(pk, prefix, desc)
    /query_pk_sk_begins  (server.py:128)      query_pk_sk_begins(...)
    /query_between  (server.py:143)           query_between(pk, lo, hi, desc)
    /both_between  (server.py:156)            both_between(...)
    query_before/greater_than (hash-db.py:71) query_before_than / _greater_
    POST /sql  (server.py:1135)               sql(text)
    POST /cypher  (server.py:1159)            cypher(statement)
    POST /save/<coll>/<id>  (server.py:289)   save(collection, doc_id, obj)
    GET  /documents/<coll>/<id>               document(collection, doc_id)

State model: every store has one write path. Driver-held rows (an
INSERT row, a MERGE delta, pending KV writes) enter the plan through
local_frame, and each write leaves through capped_checkpoint, which fits
the partition count to the store's size estimate and cuts the lineage
(localframe.py). A store starts as an empty LocalRelation, so that
estimate is true from the first write on: a KB-sized store is one
partition and joins on it broadcast. An INSERT or
a MERGE decides on the driver from one small probe (max(id); the stored
labels and edges of its nodes) and appends only what is new through
localframe.append, which writes nothing when nothing is. The KV table is a
checkpointed base plus a bounded driver dict of pending writes (None as a
tombstone): set/clear touch only the dict, and once it holds
_CHECKPOINT_EVERY keys one anti-join + union + capped checkpoint folds it
into the base, as an LSM tree flushes its memtable. Reads overlay the
delta on what they collect from the base, so an answer never depends on
whether a key has been folded yet. On a deployment these become Delta
tables and the writes MERGE/append — the method surface does not change.
Documents are stored as raw JSON per collection and
registered with the SQL engine as a schema-inferred nested view, so the
reference's `select people.~hobbies[]~name from people` path queries run
unchanged (server.py:320-328 co-inserts shredded leaves for the same
reason). The schema is inferred on the JVM, with no Python worker, and
a save that is not a JSON object is refused before it touches either.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from hash_db_spark.cypher.compiler import EDGES_SCHEMA, NODES_SCHEMA, CypherCompiler
from hash_db_spark.operators import kv as K
from hash_db_spark.operators.documents import shred_infer
from hash_db_spark.sql.dialect import SqlEngine, statements

from hash_db_spark.localframe import capped_checkpoint, local_frame

_KV_SCHEMA = "pk string, sk string, value string"


# The KV delta folds into the base once it holds this many distinct keys.
# The fold adds an anti-join + union layer to the base's plan and its
# capped checkpoint cuts it, so a long interactive session stays at a
# flat plan depth instead of O(total mutations). Bulk ingest should still
# go through kv_set with a batch frame — this guard is for the
# reference-demo interactive shape, not the ingest path.
_CHECKPOINT_EVERY = 24


class HashDb:
    def __init__(
        self, spark: SparkSession, tables: dict[str, DataFrame] | None = None
    ):
        self.spark = spark
        self.kv = local_frame(spark, [], _KV_SCHEMA)
        self.engine = SqlEngine(spark, tables or {})
        self.nodes = local_frame(spark, [], NODES_SCHEMA)
        self.edges = local_frame(spark, [], EDGES_SCHEMA)
        self._docs: dict[str, dict[str, str]] = {}  # collection -> id -> json

    # -- KV (K1-K9) ---------------------------------------------------------

    @property
    def kv(self) -> DataFrame:
        """The KV table: the base with the pending delta overlaid."""
        if not self._kv_delta:
            return self._kv_base
        delta = local_frame(
            self.spark,
            [(pk, sk, v) for (pk, sk), v in self._kv_delta.items()],
            _KV_SCHEMA,
        )
        return K.kv_apply(self._kv_base, delta)

    @kv.setter
    def kv(self, df: DataFrame) -> None:
        """Replace the whole KV table; pending writes are dropped."""
        self._kv_base = df
        self._kv_delta: dict[tuple[str | None, str | None], str | None] = {}

    def _write(self, pk, sk, value: str | None) -> None:
        # Reject a bad key before it reaches the delta, where it would
        # make every later fold fail.
        for key in (pk, sk):
            if key is not None and not isinstance(key, str):
                raise TypeError(f"KV keys are str or None, got {key!r}")
        self._kv_delta[(pk, sk)] = value
        if len(self._kv_delta) >= _CHECKPOINT_EVERY:
            self.kv = capped_checkpoint(self.kv)

    def set(self, pk: str, sk: str, value: str) -> None:
        self._write(pk, sk, str(value))

    def get(self, pk: str, sk: str) -> str | None:
        if pk is None or sk is None:
            return None  # a NULL key never matches `=`, as in K.kv_get
        if (pk, sk) in self._kv_delta:
            return self._kv_delta[(pk, sk)]
        rows = K.kv_get(self._kv_base, pk, sk).collect()
        return rows[0].value if rows else None

    def clear(self, pk: str, sk: str) -> None:
        self._write(pk, sk, None)

    def _rows(self, where: K.Where, desc: bool) -> list[tuple[str, str, str]]:
        """One Spark job: collect the base rows ``where`` selects, then
        overlay the delta and sort by (pk, sk) on the driver. A collected
        row never has a NULL key, because every predicate filters both
        keys, so the sort needs no nulls-first rule."""
        rows = [
            (r.pk, r.sk, r.value)
            for r in self._kv_base.filter(where.col).collect()
        ]
        if self._kv_delta:
            rows = [r for r in rows if r[:2] not in self._kv_delta]
            rows += [
                (pk, sk, v)
                for (pk, sk), v in self._kv_delta.items()
                if v is not None and where.match(pk, sk)
            ]
        rows.sort(key=lambda r: r[:2], reverse=desc)
        return rows

    def query_begins(self, pk, sk_prefix, desc=False):
        return self._rows(K.where_begins(pk, sk_prefix), desc)

    def query_pk_sk_begins(self, pk_prefix, sk_prefix="", desc=False):
        return self._rows(K.where_pk_sk_begins(pk_prefix, sk_prefix), desc)

    def query_between(self, pk, sk_lo, sk_hi, desc=False):
        return self._rows(K.where_between(pk, sk_lo, sk_hi), desc)

    def both_between(self, pk_lo, pk_hi, sk_lo, sk_hi, desc=False):
        return self._rows(
            K.where_both_between(pk_lo, pk_hi, sk_lo, sk_hi), desc
        )

    def query_before_than(self, pk, sk_prefix, bound, desc=False):
        return self._rows(K.where_before(pk, sk_prefix, bound), desc)

    def query_greater_than(self, pk, sk_prefix, bound, desc=False):
        return self._rows(K.where_after(pk, sk_prefix, bound), desc)

    # -- SQL ----------------------------------------------------------------

    def sql(self, text: str):
        """Reference dialect (select/insert/update/create join, FTS `~`,
        document paths, order by/limit/distinct). Returns a list of row
        dicts for selects — the reference's JSON response shape
        (server.py:1067-1074) — or None for mutations."""
        out = self.engine.sql(text)
        if out is None:
            return None
        return [r.asDict(recursive=True) for r in out.collect()]

    def sql_df(self, text: str) -> DataFrame | None:
        """The same statement as a lazy DataFrame (engine-native path)."""
        return self.engine.sql(text)

    def sql_script(self, script: str) -> list[dict] | None:
        """Run a multi-statement session — the shape the reference's
        example.py drives one HTTP POST per statement
        (/root/reference/example.py:86-146: a run of inserts, then
        selects, then an update) — in one call. Statements split on
        each `;` outside single-quoted literals (the dialect's literal
        mask, so a literal `';'` never splits); each runs in order and
        the LAST select's rows are returned, wherever it appears (None if
        the script contains no select at all)."""
        result = None
        for stmt in statements(script):
            out = self.sql(stmt)
            if out is not None:
                result = out
        return result

    # -- Cypher -------------------------------------------------------------

    def cypher(self, statement: str):
        """MERGE mutates the graph and returns None; MATCH returns the
        RETURN projection as a list of row dicts (server.py:1159-1170 /
        client.py:1198-1219 emit {var: node} rows)."""
        result = CypherCompiler(self.nodes, self.edges).run(statement)
        if isinstance(result, tuple):
            self.nodes, self.edges = result
            return None
        return [r.asDict(recursive=True) for r in result.collect()]

    # -- documents ----------------------------------------------------------

    def save(self, collection: str, doc_id: str, obj) -> None:
        """Store a JSON document AND register the collection as a nested
        SQL view so `~path[]~leaf` dialect queries work (the reference
        shreds + co-inserts for the same effect, server.py:289-331).
        ``obj`` must be a JSON object: any other document would infer
        as Spark's ``_corrupt_record`` column in the view. Nothing
        changes unless the view builds."""
        if not isinstance(obj, dict):
            raise ValueError(
                f"a document is a JSON object, got {type(obj).__name__}"
            )
        docs = {**self._docs.get(collection, {}), str(doc_id): json.dumps(obj)}
        raw = local_frame(
            self.spark, list(docs.items()), "doc_id string, json string"
        )
        # shred_infer types the JSON column from every document the
        # collection holds, so a key that first appears late still
        # reaches the view; lifting its fields to top level gives the
        # flat-table-with-nested-columns shape the dialect's
        # `t.~path[]~leaf` compiler navigates.
        nested = shred_infer(raw, "json", sample=len(docs))
        self.engine.tables[collection] = nested.select("doc_id", "json.*")
        self._docs[collection] = docs

    def document(self, collection: str, doc_id: str):
        raw = self._docs.get(collection, {}).get(str(doc_id))
        return None if raw is None else json.loads(raw)

    def documents(self, collection: str) -> DataFrame:
        """The collection as a nested DataFrame (native storage — no
        shred/rehydrate round trip needed)."""
        return self.engine.tables[collection]

    # -- pipeline reach-through --------------------------------------------

    def table(self, name: str) -> DataFrame:
        return self.engine.tables[name]

    def register(self, name: str, df: DataFrame) -> None:
        self.engine.tables[name] = df

    def explain(self, text: str) -> str:
        """Formatted physical plan of a dialect SELECT — the engine's
        answer to the reference's /dump diagnostics (server.py `dump`
        route; K10 'subsumed' in SURVEY §2.1): instead of dumping trie
        state, show what the engine will actually execute."""
        from hash_db_spark.plans.inspect import formatted_plan

        # Reject BEFORE dispatch: engine.sql executes mutations eagerly,
        # so checking its None return would run the INSERT/UPDATE first —
        # a diagnostics call must never modify state.
        if not text.strip().lower().startswith("select"):
            raise ValueError("explain() takes a SELECT, not a mutation")
        df = self.engine.sql(text)
        return formatted_plan(df)
