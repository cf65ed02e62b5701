"""r16 py4j round-trip batching (jrpc + scan SQL twins): the batched
spellings must be PLAN- and VALUE-identical to the chatty public-API
spellings they replace — the optimization changes only how expressions
cross the py4j boundary, never what they compute."""

import urllib.parse

import pyspark.sql.functions as F
import pytest

from duckdb_iceberg_spark import jrpc
from duckdb_iceberg_spark.sources.scan import (
    _norm_path_py,
    _norm_path_sql,
    _norm_uri_path_sql,
    _replace_col_sql,
)

TRICKY_PATHS = [
    "file:///data/part-0.parquet",
    "file:/single/slash.parquet",
    "s3a://bucket/k+e y/part.parquet",
    "s3://bucket/plain.parquet",
    "/local/with%3Acolon/part.parquet",
    "/local/lit+plus/part%2Bp.parquet",
    "hdfs://nn/path/part.parquet",
]


def test_norm_path_sql_matches_python_twin(spark):
    # Spark-side path columns join against manifest strings normalized by
    # the Python twin: both spellings must agree on every input
    df = spark.createDataFrame([(p,) for p in TRICKY_PATHS], "p string")
    sql_side = df.selectExpr(_norm_path_sql("p") + " AS n").collect()
    assert [r["n"] for r in sql_side] == [_norm_path_py(p) for p in TRICKY_PATHS]


def test_norm_uri_path_sql_matches_decoded_python_twin(spark):
    # _metadata.file_path is a percent-encoded URI: the SQL spelling must
    # give the plain path the Python twin gives its decoded form ('+' stays
    # '+', it is not a form-encoded space)
    df = spark.createDataFrame([(p,) for p in TRICKY_PATHS], "p string")
    sql_side = df.selectExpr(_norm_uri_path_sql("p") + " AS n").collect()
    assert [r["n"] for r in sql_side] == \
        [_norm_path_py(urllib.parse.unquote(p)) for p in TRICKY_PATHS]


def test_select_exprs_matches_selectExpr_plan(spark):
    df = spark.range(5).selectExpr("id", "id * 2 AS two", "id + 1 AS nxt")
    exprs = ["`two`", "nxt + id AS s"]
    a = jrpc.select_exprs(df, exprs)
    b = df.selectExpr(*exprs)
    assert a.schema == b.schema
    assert a.collect() == b.collect()
    # identical analyzed plans — the batching is a transport change only
    # (normalize the monotonic expression-ID suffixes, #12L etc.)
    import re

    def norm(df):
        return re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())

    assert norm(a) == norm(b)


def test_jseq_strings_preserves_order_and_content(spark):
    strings = ["a", "", "with space", "newline-free", "ütf-8 ✓", "a,b"]
    seq = jrpc.jseq_strings(spark, strings)
    assert seq.size() == len(strings)
    assert [seq.apply(i) for i in range(len(strings))] == strings


def test_read_files_matches_public_reader(spark, tmp_path):
    src = spark.range(10).selectExpr("id", "id * id AS sq")
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    src.where("id < 5").coalesce(1).write.parquet(p1)
    src.where("id >= 5").coalesce(1).write.parquet(p2)
    schema = "id long, sq long"
    a = jrpc.read_files(spark, [p1, p2],
                        spark.createDataFrame([], schema).schema)
    b = spark.read.schema(schema).parquet(p1, p2)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_jcol_and_jexpr_match_public_functions(spark):
    df = spark.createDataFrame([(1, 2)], "`a.b` long, c long")
    via_jcol = df.select(jrpc.jcol("`a.b`").alias("x")).collect()
    via_fcol = df.select(F.col("`a.b`").alias("x")).collect()
    assert via_jcol == via_fcol
    cond_j = df.select(jrpc.jexpr("c + 1 AS d")).collect()
    cond_f = df.select(F.expr("c + 1 AS d")).collect()
    assert cond_j == cond_f


def test_replace_col_sql_preserves_order_and_replaces_in_place(spark):
    df = spark.createDataFrame([("file:/x/y", 1)], "p string, v int")
    out = _replace_col_sql(df, "p", _norm_path_sql("`p`"))
    assert out.columns == ["p", "v"]
    assert out.first()["p"] == "/x/y"


def test_scan_frame_identical_to_pre_batching_shape(spark, tmp_path):
    """End-to-end: an iceberg_scan over a written table returns the same
    rows and schema through the batched construction (the oracle sweep
    pins this against DuckDB too; this is the fast in-suite guard)."""
    from duckdb_iceberg_spark import write_iceberg
    from duckdb_iceberg_spark.sources.scan import iceberg_scan

    loc = str(tmp_path / "t")
    src = spark.createDataFrame(
        [(i, f"row {i}", float(i)) for i in range(50)],
        "id long, name string, score double")
    write_iceberg(src, loc)
    got = iceberg_scan(spark, loc)
    assert [f.name for f in got.schema.fields] == ["id", "name", "score"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, src.collect()))
    # residual filter through the batched path
    filt = iceberg_scan(spark, loc, where="id >= 40 AND name LIKE 'row 4%'")
    assert filt.count() == 10
