"""Multi-model document operators (SURVEY §2.3 D1-D3, §1.4).

The reference shreds JSON into trie keyvalues (type registry +
path-segment keys + SQL co-insert of every leaf,
/root/reference/server.py:196-331) and rehydrates by walking the registry
(/root/reference/client.py:66-143). On Spark none of that machinery exists:
documents are *native nested columns* (StructType/ArrayType in Parquet),
shred ≡ from_json, rehydrate ≡ to_json, and the reference's
``~hobbies[]~name`` path syntax (example.py:324-344, tokenizer admits
``~ [ ]`` at server.py:393) compiles to explode/getField.

Path grammar: segments separated by '~'; a segment ending in '[]' is an
array of structs and explodes. ``hobbies[]~name`` ≡
``explode(col("hobbies")).getField("name")``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def shred(df: DataFrame, json_col: str, schema) -> DataFrame:
    """D1: parse a JSON-string column into a typed nested column. The
    reference's type registry is the schema argument; its trie keys are
    Parquet's own nested encoding."""
    return df.withColumn(json_col, F.from_json(F.col(json_col), schema))


def rehydrate(df: DataFrame, struct_col: str, out_col: str = "json") -> DataFrame:
    """D2: nested column back to a JSON string."""
    return df.withColumn(out_col, F.to_json(F.col(struct_col)))


def infer_schema(df: DataFrame, json_col: str, sample: int = 1024):
    """D1 without a caller-supplied schema: infer the nested schema from
    the data itself. The reference builds a type registry by walking every
    document's keys/values (server.py:196-229); the Spark-native
    equivalent is distributed JSON schema inference — ``read.json`` parses
    each sampled document and merges the per-document schemas (union of
    keys, widened types), exactly the registry the reference accumulates.

    The sample is bounded (default 1024 docs) so inference stays O(sample)
    at any corpus size; pass a larger sample for long-tail keys.

    The sample goes to the JVM reader as a ``Dataset[String]``, so the
    inference job runs without a Python worker: a Python RDD of the
    strings would pickle each row through one (PySpark's ``read.json``
    takes no DataFrame)."""
    spark = df.sparkSession
    strings = (
        df.select(json_col).where(F.col(json_col).isNotNull()).limit(sample)
    )
    dataset = getattr(strings._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING()
    )
    return DataFrame(spark.read._jreader.json(dataset), spark).schema


def shred_infer(df: DataFrame, json_col: str, sample: int = 1024) -> DataFrame:
    """D1 with schema inference: shred a JSON-string column using the
    schema inferred from a sample of the column itself."""
    return shred(df, json_col, infer_schema(df, json_col, sample))


def json_get(col: Column | str, path: str) -> Column:
    """Point JSON-path extraction from a JSON string column (no shred
    needed for shallow reads)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def compile_path(df: DataFrame, path: str, alias: str) -> tuple[DataFrame, Column]:
    """D3: compile a ``~``-separated document path. Each ``seg[]`` explodes
    (one output row per array element — exactly the reference's behavior of
    co-inserting each leaf as its own SQL row, server.py:320-328); plain
    segments are struct field access. Returns (df', column)."""
    cur: Column | None = None
    out = df
    for i, seg in enumerate(path.split("~")):
        if not seg:
            continue
        if seg.endswith("[]"):
            fieldname = seg[:-2]
            src = cur[fieldname] if cur is not None else F.col(fieldname)
            exploded = f"__path{i}"
            out = out.withColumn(exploded, F.explode(src))
            cur = F.col(exploded)
        else:
            cur = cur[seg] if cur is not None else F.col(seg)
    if cur is None:
        raise ValueError(f"empty document path: {path!r}")
    return out, cur.alias(alias)


def select_path(df: DataFrame, path: str, alias: str, *keep: str) -> DataFrame:
    """SELECT t.~path[]~field FROM t (example.py:341-344)."""
    out, col = compile_path(df, path, alias)
    return out.select(*keep, col)


def filter_path(
    df: DataFrame, path: str, value, *keep: str, leaf_alias: str | None = None
) -> DataFrame:
    """SELECT * FROM t WHERE t.~path[]~field = v (example.py:324-335).
    Emits one row per matching array element, projected to ``keep`` plus
    the matched leaf (named ``leaf_alias``, default the last path segment)."""
    alias = leaf_alias or path.split("~")[-1]
    if alias in keep:
        # Two identically-named output columns would make the filter's
        # F.col(alias) an AMBIGUOUS_REFERENCE — fail with the remedy
        # instead of a cryptic analysis error.
        raise ValueError(
            f"leaf alias {alias!r} collides with a kept column — pass an "
            "explicit leaf_alias"
        )
    out, col = compile_path(df, path, alias)
    return out.select(*keep, col).filter(F.col(alias) == value)
