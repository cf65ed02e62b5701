"""py4j round-trip economizers (r16; guide §1.2 order-of-operations /
§7.3 driver-side work).

Motivation, measured on this box (tools/profile_scan_rpc.py): PySpark's
public API pays several JVM reflection round-trips per call — ``F.col``
costs ~9 (two uncached JVM-view lookups in ``_invoke_function``, active
session probes, a conf get) — and py4j's ListConverter pays one round
trip PER ELEMENT when a Python list crosses to a JVM ``Seq`` (an 83-file
``spark.read.parquet(*files)`` spends 87 round-trips just shipping the
path list). Every round-trip is serial driver latency (~0.1-1 ms), so a
memo-MISS scan construction was ~60% py4j chatter. A 1000-node cluster
pays the identical per-call driver cost.

These helpers move the same work through O(1)-round-trip channels:

- :func:`jseq_strings` — one JSON string → JVM ``ArrayList`` (Jackson,
  already on Spark's classpath) → ``Seq[String]``: 2 round-trips for any
  list length.
- :func:`read_files` — ``DataFrameReader.parquet/orc`` over such a Seq.
- :func:`select_exprs` — ``Dataset.selectExpr`` over such a Seq: one
  projection round-trip no matter how many columns.
- :func:`jcol` — backtick-exact column reference through a memoized
  ``functions.col`` handle: 1 round-trip per column instead of ~9.
- :func:`local_frame` — driver-known rows as an Arrow ``LocalRelation``
  instead of a parallelized Python RDD: no Python-worker tasks each time
  a plan that reads them executes.

Everything returns ordinary pyspark objects; the resulting logical plans
are identical to the chatty spellings (pinned by tests). Each helper
falls back to the public API if the private surface it relies on moves.
"""

from __future__ import annotations

import datetime as _dt
import functools as _functools
import json as _json
import weakref as _weakref
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: per-SparkContext cache of JVM handles (mapper, classes, function
#: members). WeakKey so a stopped/replaced context drops its entries.
_jvm_state: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


class _State:
    __slots__ = ("jvm", "mapper", "arraylist_cls", "funcs")

    def __init__(self, sc) -> None:
        self.jvm = sc._jvm
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.arraylist_cls = self.jvm.java.lang.Class.forName(
            "java.util.ArrayList")
        self.funcs: dict = {}


def _state(sc) -> _State:
    st = _jvm_state.get(sc)
    if st is None:
        st = _jvm_state[sc] = _State(sc)
    return st


def jseq_strings(spark: SparkSession, strings: Sequence[str]):
    """``Seq[String]`` from a Python string list in 2 py4j round-trips
    (vs 1/element through ListConverter): the list crosses as one JSON
    document and is materialized JVM-side by Jackson."""
    st = _state(spark.sparkContext)
    jlist = st.mapper.readValue(_json.dumps(list(strings)), st.arraylist_cls)
    return st.jvm.PythonUtils.toSeq(jlist)


def read_files(spark: SparkSession, files: Sequence[str], schema=None,
               file_format: str = "parquet") -> DataFrame:
    """``spark.read.schema(schema).parquet(*files)`` (or ``.orc``) with the
    file list shipped in O(1) round-trips."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    try:
        jdf = getattr(reader._jreader, file_format)(jseq_strings(spark, files))
        return DataFrame(jdf, spark)
    except Exception:
        # private-surface drift: fall back to the public (chatty) API
        return getattr(reader, file_format)(*files)


def select_exprs(df: DataFrame, exprs: Iterable[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` with the expression list shipped in O(1)
    round-trips — the selectExpr-string batching lever (r15 notes): a
    projection of N columns costs 3 round-trips instead of ~9N."""
    exprs = list(exprs)
    spark = df.sparkSession
    try:
        return DataFrame(df._jdf.selectExpr(jseq_strings(spark, exprs)), spark)
    except Exception:
        return df.selectExpr(*exprs)


def quote_name(name: str) -> str:
    """Backtick-quote an identifier for exact-name resolution inside a
    SQL expression string (the string twin of metadata.types.quoted_col)."""
    return "`" + name.replace("`", "``") + "`"


def _jfunc1(name: str):
    """Memoized 1-arg ``org.apache.spark.sql.functions.<name>`` call,
    wrapped as a Column — ~1 round-trip per call vs ~9 through ``F.<name>``
    (which re-resolves the JVM handle reflectively and probes the active
    session every call). Returns None when no context is active (caller
    falls back to the public API)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    st = _state(sc)
    fn = st.funcs.get(name)
    if fn is None:
        fn = st.funcs[name] = getattr(
            getattr(sc._jvm, "org.apache.spark.sql.functions"), name)
    return fn


def _wrap_column(jc):
    try:
        from pyspark.sql.classic.column import Column
    except ImportError:  # pre-4.x layout
        from pyspark.sql.column import Column
    return Column(jc)


def jcol(name: str):
    """Exact-name Column reference in ~1 round-trip. ``name`` must already
    be backtick-quoted if it needs quoting."""
    fn = _jfunc1("col")
    if fn is None:
        from pyspark.sql import functions as F

        return F.col(name)
    return _wrap_column(fn(name))


def jexpr(sql: str):
    """``F.expr(sql)`` in ~1 round-trip (memoized ``functions.expr``
    handle). Same parser, same expression — only the py4j path differs."""
    fn = _jfunc1("expr")
    if fn is None:
        from pyspark.sql import functions as F

        return F.expr(sql)
    return _wrap_column(fn(sql))


@_functools.lru_cache(maxsize=256)
def _ddl_struct_json(ddl: str) -> dict:
    # the parse is a JVM call: once per distinct DDL string
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(ddl)
    if not isinstance(st, T.StructType):
        raise TypeError(f"not a struct schema: {ddl!r}")
    return st.jsonValue()


def _ddl_struct(ddl: str) -> T.StructType:
    """StructType for a DDL string (``"a string, b long"``); a fresh
    object per call, since StructType.add mutates in place."""
    return T.StructType.fromJson(_ddl_struct_json(ddl))


def _local_ts(v):
    # createDataFrame(list) reads a naive datetime as local wall time
    # (TimestampType.toInternal uses time.mktime); Arrow would read it as
    # UTC. Make it aware first so both spellings give the same instant.
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.astimezone(_dt.timezone.utc)
    return v


def local_frame(spark: SparkSession, rows: Any,
                schema: T.StructType | str) -> DataFrame:
    """DataFrame over driver-known rows, planned as an Arrow
    ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans as a parallelized Python RDD:
    every execution of a plan that reads it re-pickles the rows through
    ``rdd.map``, which starts ``defaultParallelism`` Python-worker tasks.
    The same rows shipped as a ``pyarrow.Table`` typed by ``schema`` plan
    as a ``LocalRelation`` that Spark reads with no Python worker and no
    job, and that carries a real size estimate for join planning.

    ``rows``: tuples or ``Row``s in schema order, dicts keyed by field
    name, or a ``pyarrow.Table`` already laid out as ``schema``.
    ``schema``: a StructType or a DDL string. Naive datetimes in a
    TimestampType column are local wall time, as in createDataFrame.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _ddl_struct(schema) if isinstance(schema, str) else schema
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows, st)
    rows = list(rows)
    names = st.fieldNames()
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(n) for r in rows] for n in names]
    else:
        cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in names]
        if len(cols) != len(names):
            raise ValueError(
                f"rows have {len(cols)} fields, schema has {len(names)}")
    arrow_schema = to_arrow_schema(st)
    arrays = []
    for f, col, af in zip(st.fields, cols, arrow_schema):
        if isinstance(f.dataType, T.TimestampType):
            col = [_local_ts(v) for v in col]
        arrays.append(pa.array(col, type=af.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), st)
