"""``add_files`` — import existing parquet files into an Iceberg table
WITHOUT rewriting data (the Spark procedure ``add_files`` / ``migrate``
analogue; beyond the reference, which has no import story — its users
must COPY data through the engine).

Spark-first shape:

- the import is METADATA-ONLY: per-file footer stats become manifest
  entries through the writer's own stats path and DataFile builder, so
  partition and zone-map pruning work on imported files exactly as on
  written ones, and the table's ``write.metadata.metrics.*`` modes apply
  (like Java Iceberg's ``add_files``, which uses the table MetricsConfig);
- footer-stat collection fans out to executors above the writer's
  ``_DISTRIBUTED_STATS_THRESHOLD`` — importing a million-file lake never
  serializes footer reads on the driver;
- imported files usually carry NO parquet field-ids, so the import sets
  ``schema.name-mapping.default`` (built from the table schema) and the
  scan's existing name-mapping fallback reads them by name — schema
  evolution after import behaves like any migrated Iceberg table;
- hive-style partition directories (``lang=en/…``) map onto identity
  partition values; the files need not contain the partition column (the
  scan's partition-constant machinery supplies it).
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Any, Iterable

from pyspark.sql import SparkSession

from ..metadata import types as ice_types
from ..metadata.table_metadata import load_table_metadata
from .writer import (_build_data_files, _collect_stats, commit_snapshot,
                     create_table, current_version_number)


def _resolve_files(source: str | Iterable[str]) -> list[str]:
    """A directory (recursive *.parquet), a glob pattern, or an explicit
    path list → sorted file list."""
    if not isinstance(source, str):
        return sorted(source)
    if os.path.isdir(source):
        return sorted(
            os.path.join(r, f)
            for r, _dirs, fs in os.walk(source)
            for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_")))
    hits = sorted(_glob.glob(source, recursive=True))
    if not hits:
        raise FileNotFoundError(f"add_files: no parquet files match {source!r}")
    return hits


#: iceberg primitive families whose parquet footer min/max convert safely
#: to spec bounds. Skipped, conservative (a file without bounds is
#: scanned, never mis-pruned): decimal/binary/fixed/uuid/time (encoding
#: risk) and float/double — parquet footers carry no NaN counts, and a
#: legacy writer's NaN-polluted min/max would mis-prune one direction of
#: Spark's NaN-greatest semantics (the same reasoning our ORC writer
#: applies in reverse, sources/writer.py NaN-bounds rule). String bounds
#: are safe even when truncated: spec truncation keeps a valid
#: lower-prefix / incremented-upper.
_BOUND_SAFE = {"boolean", "int", "long", "string",
               "date", "timestamp", "timestamptz"}


def build_name_mapping(schema_json: dict) -> str:
    """``schema.name-mapping.default`` JSON from a table schema: every
    field id maps to its own name, recursing into structs/lists/maps (the
    mapping a migration tool would emit)."""
    import json as _json

    def field_entry(f: dict) -> dict:
        ent: dict[str, Any] = {"field-id": f["id"], "names": [f["name"]]}
        kids = type_children(f["type"])
        if kids:
            ent["fields"] = kids
        return ent

    def type_children(t) -> list:
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return [field_entry(f) for f in t["fields"]]
            if kind == "list":
                ent = {"field-id": t["element-id"], "names": ["element"]}
                kids = type_children(t["element"])
                if kids:
                    ent["fields"] = kids
                return [ent]
            if kind == "map":
                k = {"field-id": t["key-id"], "names": ["key"]}
                v = {"field-id": t["value-id"], "names": ["value"]}
                vk = type_children(t["value"])
                if vk:
                    v["fields"] = vk
                return [k, v]
        return []

    return _json.dumps([field_entry(f) for f in schema_json["fields"]])


def add_files(
    spark: SparkSession,
    location: str,
    source: str | Iterable[str],
    *,
    partition_by: Iterable[str] | None = None,
    properties: dict[str, str] | None = None,
    format_version: int = 2,
    check_duplicate_files: bool = True,
    snapshot_properties: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Register existing parquet files into the Iceberg table at
    ``location`` (created from the files' own schema if absent) without
    rewriting a byte of data. Returns a summary dict.

    ``source``: a directory (recursive), a glob pattern, or an explicit
    path list. For a partitioned table every identity partition value is
    parsed from the hive-style path (``col=value``); non-identity specs
    are refused (transform values cannot be recovered from paths).
    """
    files = _resolve_files(source)
    if not files:
        raise FileNotFoundError("add_files: empty file list")

    exists = current_version_number(location) > 0
    if exists:
        tm = load_table_metadata(location)
    else:
        schema = spark.read.parquet(files[0]).schema
        tm = create_table(location, schema, partition_by=partition_by,
                          properties=properties,
                          format_version=format_version)

    spec = tm.default_spec()
    for pf in spec.fields:
        if pf.transform != "identity":
            raise NotImplementedError(
                f"add_files: partition transform '{pf.transform}' cannot "
                "be recovered from file paths; only identity specs are "
                "importable")

    if check_duplicate_files:
        snap = tm.select_snapshot()
        if snap is not None:
            from ..io import normalize_path
            from ..plans.scan_plan import plan_scan

            have = {normalize_path(t.data_file.file_path)
                    for t in plan_scan(tm, snap).tasks}
            dup = [f for f in files if normalize_path(f) in have]
            if dup:
                raise ValueError(
                    f"add_files: {len(dup)} file(s) already referenced by "
                    f"the table, e.g. {dup[0]!r} (pass "
                    "check_duplicate_files=False to force)")

    # imported files rarely carry parquet field-ids → name-mapping read
    schema_json = tm.schema_json()
    if "schema.name-mapping.default" not in tm.properties:
        tm.properties["schema.name-mapping.default"] = \
            build_name_mapping(schema_json)

    stats = _collect_stats(
        spark, files, ids_by_name={f["name"]: f["id"]
                                   for f in schema_json["fields"]})
    new_files = _build_data_files(stats, tm, spec, "")
    unsafe = {f["id"] for f in schema_json["fields"]
              if not isinstance(f["type"], str)
              or ice_types.primitive_name(f["type"]) not in _BOUND_SAFE}
    for d in new_files:
        # a partitioned table must not silently import unpartitioned files
        missing = sorted(pf.name for pf in spec.fields
                         if pf.name not in d.partition)
        if missing:
            raise ValueError(
                f"add_files: path {d.file_path!r} carries no hive-style "
                f"value for partition column(s) {missing}")
        d.lower_bounds = {k: v for k, v in (d.lower_bounds or {}).items()
                          if k not in unsafe} or None
        d.upper_bounds = {k: v for k, v in (d.upper_bounds or {}).items()
                          if k not in unsafe} or None

    extra = {"added-via": "add_files"}
    for k, v in (snapshot_properties or {}).items():
        extra[k] = v
    snap = commit_snapshot(tm, operation="append", new_data_files=new_files,
                           extra_summary=extra)
    return {"added_files_count": len(new_files),
            "added_rows_count": sum(d.record_count for d in new_files),
            "snapshot_id": snap.snapshot_id}
