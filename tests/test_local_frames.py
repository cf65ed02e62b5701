"""Driver-built side tables plan as Arrow LocalRelations, not Python RDDs.

``spark.createDataFrame(<list>)`` plans as a ``LogicalRDD`` over a
parallelized Python RDD, and every execution of a plan that reads it starts
Python-worker tasks to re-pickle the rows. Every side table the engine
builds from driver-known rows goes through
:func:`duckdb_iceberg_spark.jrpc.local_frame` instead. These tests pin that
on the optimized plans of the paths that build such tables, and pin the
helper's rows against ``createDataFrame(list)``.
"""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from duckdb_iceberg_spark import iceberg_scan, write_iceberg
from duckdb_iceberg_spark.jrpc import local_frame
from duckdb_iceberg_spark.sources.dml import delete_from, equality_delete


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _no_rdd_leaf(df, *markers: str) -> str:
    plan = _optimized(df)
    assert "LogicalRDD" not in plan, plan
    for m in markers:  # the side table under test is in the plan
        assert m in plan, (m, plan)
    return plan


# ---------------------------------------------------------------------------
# helper parity with createDataFrame(list)
# ---------------------------------------------------------------------------

_PARITY_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("amount", T.DecimalType(18, 6)),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("n", T.LongType()),
    T.StructField("ok", T.BooleanType()),
])

_PARITY_ROWS = [
    ("s3://bucket/données/ü-ñ/日本.parquet", Decimal("123456789012.345678"),
     dt.date(2024, 2, 29),
     dt.datetime(2024, 2, 29, 23, 59, 59, 123456, tzinfo=dt.timezone.utc),
     -(1 << 62), True),
    ("/tmp/plain file.parquet", Decimal("-0.000001"), dt.date(1970, 1, 1),
     dt.datetime(1969, 12, 31, 23, 0, tzinfo=dt.timezone.utc), 0, False),
    (None, None, None, None, None, None),
]


def test_local_frame_matches_create_dataframe_rows(spark):
    got = local_frame(spark, _PARITY_ROWS, _PARITY_SCHEMA)
    want = spark.createDataFrame(_PARITY_ROWS, _PARITY_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalRelation" in _no_rdd_leaf(got)


def test_local_frame_ddl_dict_rows_and_naive_timestamps(spark):
    ddl = "`__f` string, `__n` long, ts timestamp"
    naive = dt.datetime(2021, 6, 1, 12, 30)
    rows = [{"__f": "ä/b", "__n": 1, "ts": naive},
            {"__f": None, "__n": None, "ts": None}]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame([tuple(r.values()) for r in rows], ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_empty_rows(spark):
    got = local_frame(spark, [], _PARITY_SCHEMA)
    want = spark.createDataFrame([], _PARITY_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect() == []
    _no_rdd_leaf(got)


def test_local_frame_rejects_width_mismatch(spark):
    with pytest.raises(ValueError, match="fields"):
        local_frame(spark, [("a", 1)], "x string")


# ---------------------------------------------------------------------------
# the read path's side tables
# ---------------------------------------------------------------------------

def test_equality_delete_read_has_no_rdd_leaf(spark, tmp_path):
    loc = str(tmp_path / "eq")
    write_iceberg(spark.range(60).selectExpr("id", "id % 6 AS k"), loc)
    equality_delete(spark, loc, spark.range(2, 4).selectExpr("id AS k"))

    # every planned file predates the delete: the global (keys + seq) path
    glob = iceberg_scan(spark, loc)
    plan = _no_rdd_leaf(glob, "__ds_file", "__del_seq")
    assert "__p_data" not in plan, plan
    assert sorted(r.id for r in glob.collect()) == [
        i for i in range(60) if i % 6 not in (2, 3)]

    # a file appended after the delete is outside its scope: the
    # (delete file -> data file) pair path
    write_iceberg(spark.range(60, 66).selectExpr("id", "id % 6 AS k"), loc)
    pair = iceberg_scan(spark, loc)
    _no_rdd_leaf(pair, "__ds_file", "__p_data")
    assert sorted(r.id for r in pair.collect()) == [
        i for i in range(60) if i % 6 not in (2, 3)] + list(range(60, 66))


def test_positional_deletes_and_partition_constants_have_no_rdd_leaf(
        spark, tmp_path):
    loc = str(tmp_path / "pos")
    write_iceberg(spark.range(200).selectExpr("id", "id % 4 AS grp"), loc,
                  partition_by=["grp"])
    delete_from(spark, loc, "id % 10 = 0", mode="merge-on-read")
    df = iceberg_scan(spark, loc)
    _no_rdd_leaf(df, "__pc_file", "__del_pos")
    assert sorted(r.id for r in df.collect()) == [
        i for i in range(200) if i % 10]


def test_initial_defaults_have_no_rdd_leaf(spark, tmp_path):
    from duckdb_iceberg_spark.sources.ddl import add_column

    loc = str(tmp_path / "defaults")
    write_iceberg(spark.range(5).selectExpr("id"), loc, format_version=3)
    add_column(loc, "flag", "int", default=7)
    df = iceberg_scan(spark, loc)
    _no_rdd_leaf(df, "__def_file")
    assert sorted((r.id, r.flag) for r in df.collect()) == [
        (i, 7) for i in range(5)]


def test_v3_row_lineage_and_deletion_vectors_have_no_rdd_leaf(
        spark, tmp_path):
    loc = str(tmp_path / "v3")
    write_iceberg(spark.range(20).selectExpr("id").coalesce(1), loc,
                  format_version=3)
    delete_from(spark, loc, "id IN (3, 4)", mode="merge-on-read")
    df = iceberg_scan(spark, loc, with_row_lineage=True)
    _no_rdd_leaf(df, "__rl_file", "__del_pos")
    got = {r.id: r._row_id for r in df.collect()}
    assert got == {i: i for i in range(20) if i not in (3, 4)}


# ---------------------------------------------------------------------------
# maintenance and operators
# ---------------------------------------------------------------------------

def test_rewrite_data_files_input_has_no_rdd_leaf(spark, tmp_path,
                                                  monkeypatch):
    from duckdb_iceberg_spark.sources import maintenance

    loc = str(tmp_path / "compact")
    for i in range(5):
        write_iceberg(spark.range(i * 10, i * 10 + 10)
                      .selectExpr("id", "id % 3 AS k").coalesce(1), loc)
    equality_delete(spark, loc, spark.range(1, 2).selectExpr("id AS k"))

    written = []
    real = maintenance.write_data_files

    def spy(spark_, df, *args, **kwargs):
        written.append(_optimized(df))
        return real(spark_, df, *args, **kwargs)

    monkeypatch.setattr(maintenance, "write_data_files", spy)
    out = maintenance.rewrite_data_files(spark, loc)
    assert out["rewritten_data_files_count"] >= 5
    assert written and all("LogicalRDD" not in p for p in written), written
    assert any("__del_seq" in p for p in written), written
    assert sorted(r.id for r in iceberg_scan(spark, loc).collect()) == [
        i for i in range(50) if i % 3 != 1]


_DOCS = [
    (1, "the cat sat on the mat with the hat", "en"),
    (2, "der hund ist nicht hier und die katze", "de"),
    (3, "the quick brown fox and the lazy cat", "en"),
    (4, "le chat et les chiens des voisins", "fr"),
    (5, "cat cat cat and the mat again", "en"),
]


def _docs(spark):
    return local_frame(spark, _DOCS, "doc_id long, text string, lang string")


def test_nb_quality_score_has_no_rdd_leaf(spark):
    from duckdb_iceberg_spark.operators.classify import nb_quality_score

    out = nb_quality_score(_docs(spark), vocab_size=64)
    _no_rdd_leaf(out, "__w6")
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3, 4, 5]


def test_bm25_topk_has_no_rdd_leaf(spark):
    from duckdb_iceberg_spark.operators.retrieval import bm25_topk

    out = bm25_topk(_docs(spark), ["cat", "mat"], k=3)
    _no_rdd_leaf(out, "__idf_u")
    got = [r.doc_id for r in out.collect()]
    assert len(got) == 3 and set(got) <= {1, 3, 5}
