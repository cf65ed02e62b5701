"""``add_files`` — metadata-only parquet import (NEW r12; the Spark
procedure / ``migrate`` analogue, beyond the reference which has no
import story): existing parquet registers into an Iceberg table without
rewriting data, footer stats feed zone-map pruning, hive-style paths
feed identity partition values, and the name-mapping property makes the
field-id-less files readable through the scan's existing fallback."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_iceberg_spark import iceberg_count, iceberg_scan
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.plans.scan_plan import plan_scan
from duckdb_iceberg_spark.sources.add_files import add_files, build_name_mapping

from .conftest import load


def _plain_parquet(spark, df, out_dir, n_files=2):
    """Write field-id-LESS parquet the way a foreign tool would."""
    old = spark.conf.get("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try:
        df.repartition(n_files).write.mode("overwrite").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", old)
    return sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir)
        if f.endswith(".parquet"))


def test_add_files_creates_table_and_scans(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "nation")
    data_dir = str(tmp_path / "raw_nation")
    files = _plain_parquet(spark, src, data_dir)
    loc = str(tmp_path / "t_imported")

    out = add_files(spark, loc, files)
    assert out["added_files_count"] == len(files)
    assert out["added_rows_count"] == src.count()

    got = iceberg_scan(spark, loc)
    cols = src.columns
    assert sorted(map(tuple, got.select(*cols).collect())) == \
        sorted(map(tuple, src.select(*cols).collect()))
    # metadata-only count comes straight from footer row counts
    assert iceberg_count(loc) == src.count()
    # no data was copied: the table references the ORIGINAL paths
    tm = load_table_metadata(loc)
    plan = plan_scan(tm, tm.select_snapshot())
    assert {t.data_file.file_path for t in plan.tasks} == set(files)
    assert "schema.name-mapping.default" in tm.properties


def test_add_files_footer_bounds_prune(spark, tmp_path):
    df = spark.range(0, 1000).selectExpr("id", "CAST(id AS STRING) AS s")
    lo_files = _plain_parquet(spark, df.filter("id < 500"),
                              str(tmp_path / "lo"), 1)
    hi_files = _plain_parquet(spark, df.filter("id >= 500"),
                              str(tmp_path / "hi"), 1)
    loc = str(tmp_path / "t_bounds")
    add_files(spark, loc, lo_files + hi_files)

    tm = load_table_metadata(loc)
    full = plan_scan(tm, tm.select_snapshot())
    pruned = plan_scan(tm, tm.select_snapshot(), where="id >= 900")
    assert len(full.tasks) == 2
    assert len(pruned.tasks) == 1, "footer min/max must prune the lo file"
    got = sorted(r.id for r in iceberg_scan(spark, loc,
                                            where="id >= 900").collect())
    assert got == list(range(900, 1000))


def test_add_files_hive_partitions(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    raw = str(tmp_path / "hive")
    # hive layout WITHOUT the partition column in the files
    old = spark.conf.get("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try:
        src.write.partitionBy("lang").mode("overwrite").parquet(raw)
    finally:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", old)
    files = sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(raw) for f in fs
        if f.endswith(".parquet"))

    loc = str(tmp_path / "t_hive")
    # create the partitioned table from one SAMPLE schema (files lack the
    # lang column, so create from the source frame's schema)
    from duckdb_iceberg_spark.sources.writer import create_table

    create_table(loc, src.schema, partition_by=["lang"])
    out = add_files(spark, loc, files)
    assert out["added_files_count"] == len(files)

    tm = load_table_metadata(loc)
    full = plan_scan(tm, tm.select_snapshot())
    langs = {t.data_file.partition.get("lang") for t in full.tasks}
    assert len(langs) > 1
    pruned = plan_scan(tm, tm.select_snapshot(), where="lang = 'en'")
    assert 0 < len(pruned.tasks) < len(full.tasks), "partition pruning"

    got = iceberg_scan(spark, loc, where="lang = 'en'")
    want = src.filter("lang = 'en'")
    assert got.count() == want.count()
    # the partition-constant machinery must supply the lang column
    assert set(r.lang for r in got.select("lang").distinct().collect()) \
        == {"en"}
    assert got.agg(F.sum("n_chars")).first()[0] == \
        want.agg(F.sum("n_chars")).first()[0]


def test_add_files_timestamp_identity_partition(spark, tmp_path):
    """Spark renders a TIMESTAMP partition value as '2024-01-01 03:04:05'
    in the directory name; the import parses it with the writer's own
    partition parser (hive NULL included) and scans back the exact rows."""
    src = spark.range(9).selectExpr(
        "id", "CAST(id AS STRING) AS s",
        "CASE id % 3 WHEN 0 THEN TIMESTAMP'2024-01-01 03:04:05' "
        "WHEN 1 THEN TIMESTAMP'2024-06-30 23:59:59.5' END AS p")
    raw = str(tmp_path / "hive_ts")
    old = spark.conf.get("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try:
        src.write.partitionBy("p").mode("overwrite").parquet(raw)
    finally:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", old)

    loc = str(tmp_path / "t_hive_ts")
    from duckdb_iceberg_spark.sources.writer import create_table

    create_table(loc, src.schema, partition_by=["p"])
    out = add_files(spark, loc, raw)
    assert out["added_rows_count"] == 9
    cols = src.columns
    assert sorted(map(tuple, iceberg_scan(spark, loc).select(*cols).collect()),
                  key=str) == \
        sorted(map(tuple, src.select(*cols).collect()), key=str)
    got = iceberg_scan(spark, loc, where="p = TIMESTAMP'2024-01-01 03:04:05'")
    assert sorted(r.id for r in got.collect()) == [0, 3, 6]


def test_add_files_duplicate_guard_and_append(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    a = _plain_parquet(spark, src.filter("r_regionkey < 3"),
                       str(tmp_path / "a"), 1)
    b = _plain_parquet(spark, src.filter("r_regionkey >= 3"),
                       str(tmp_path / "b"), 1)
    loc = str(tmp_path / "t_dup")
    add_files(spark, loc, a)
    with pytest.raises(ValueError, match="already referenced"):
        add_files(spark, loc, a)
    out = add_files(spark, loc, b)  # incremental import appends
    assert out["added_files_count"] == 1
    assert iceberg_scan(spark, loc).count() == src.count()


def test_add_files_schema_evolution_after_import(spark, sf_dir, tmp_path):
    """Imported (field-id-less) files behave like any migrated table:
    rename a column and the name-mapping still resolves the OLD physical
    name; add a column and imported rows surface NULL."""
    from duckdb_iceberg_spark.sources.ddl import add_column, rename_column

    src = load(spark, sf_dir, "region")
    files = _plain_parquet(spark, src, str(tmp_path / "raw"), 1)
    loc = str(tmp_path / "t_evolve")
    add_files(spark, loc, files)

    rename_column(loc, "r_name", "region_name")
    add_column(loc, "extra", "long")
    got = iceberg_scan(spark, loc)
    rows = got.orderBy("r_regionkey").collect()
    assert [r.region_name for r in rows] == \
        [r.r_name for r in src.orderBy("r_regionkey").collect()]
    assert all(r.extra is None for r in rows)


def test_build_name_mapping_nested():
    sj = {"type": "struct", "fields": [
        {"id": 1, "name": "a", "required": False, "type": "long"},
        {"id": 2, "name": "s", "required": False, "type": {
            "type": "struct", "fields": [
                {"id": 3, "name": "x", "required": False, "type": "string"},
            ]}},
        {"id": 4, "name": "arr", "required": False, "type": {
            "type": "list", "element-id": 5, "element": "long",
            "element-required": False}},
    ]}
    import json

    m = json.loads(build_name_mapping(sj))
    assert m[0] == {"field-id": 1, "names": ["a"]}
    assert m[1]["fields"] == [{"field-id": 3, "names": ["x"]}]
    assert m[2]["fields"] == [{"field-id": 5, "names": ["element"]}]


def test_add_files_distributed_stats_fanout(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """The footer-stat collection takes the writer's executor path above
    its cutoff (forced down to 2 here): same entries, same bounds,
    pruning still works on executor-collected stats."""
    from duckdb_iceberg_spark.sources import add_files as af_mod
    from duckdb_iceberg_spark.sources import writer as writer_mod

    df = spark.range(0, 400).selectExpr(
        "id", "CAST(id AS STRING) AS s", "CAST(id AS DOUBLE) AS d")
    files = []
    for i in range(4):
        files += _plain_parquet(
            spark, df.filter(f"id >= {i*100} AND id < {(i+1)*100}"),
            str(tmp_path / f"part{i}"), 1)

    monkeypatch.setattr(writer_mod, "_DISTRIBUTED_STATS_THRESHOLD", 2)
    loc = str(tmp_path / "t_fanout")
    out = af_mod.add_files(spark, loc, files)
    assert out["added_files_count"] == 4
    assert out["added_rows_count"] == 400

    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.plans.scan_plan import plan_scan

    tm = load_table_metadata(loc)
    pruned = plan_scan(tm, tm.select_snapshot(), where="id >= 350")
    assert len(pruned.tasks) == 1, "executor-collected bounds must prune"
    for t in plan_scan(tm, tm.select_snapshot()).tasks:
        # doubles carry no bounds (NaN-ambiguity rule), longs/strings do
        fids = set((t.data_file.lower_bounds or {}).keys())
        assert len(fids) == 2, fids
    got = iceberg_scan(spark, loc, where="id >= 350")
    assert sorted(r.id for r in got.collect()) == list(range(350, 400))
