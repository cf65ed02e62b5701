"""Incremental (snapshot-delta) reads over Iceberg tables.

The reference has no streaming surface (SURVEY §1.1); this is the
Spark-native extension: Iceberg's snapshot log is an append log, so a
stream is "the files added by append snapshots after offset N". Semantics
mirror Apache Iceberg's Spark incremental read: only ``append`` snapshots
produce rows; ``replace`` (compaction) snapshots are skipped because their
files re-express already-streamed rows; ``overwrite``/``delete`` snapshots
either raise or are skipped per ``on_non_append``."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..jrpc import local_frame
from ..metadata.table_metadata import TableMetadata, load_table_metadata
from ..plans.scan_plan import ScanPlan, plan_scan
from ..sources.scan import scan_to_dataframe


def appended_snapshots(
    tm: TableMetadata,
    from_snapshot_id: Optional[int],
    to_snapshot_id: Optional[int] = None,
    *,
    on_non_append: str = "error",  # error | skip
) -> list:
    """Snapshots strictly after ``from_snapshot_id`` up to and including
    ``to_snapshot_id`` (current when None), oldest first."""
    chain = []
    cur = tm.snapshot_by_id(to_snapshot_id) if to_snapshot_id else tm.current_snapshot()
    while cur is not None and cur.snapshot_id != from_snapshot_id:
        chain.append(cur)
        if cur.parent_snapshot_id is None:
            cur = None
        else:
            try:
                cur = tm.snapshot_by_id(cur.parent_snapshot_id)
            except KeyError:  # parent expired
                cur = None
    if from_snapshot_id is not None and cur is None:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of the target snapshot")
    chain.reverse()
    out = []
    for s in chain:
        op = (s.summary or {}).get("operation", "append")
        if op == "append":
            out.append(s)
        elif op == "replace":
            continue  # compaction only rearranges already-streamed rows
        elif on_non_append == "skip":
            continue
        else:
            raise ValueError(
                f"cannot stream across non-append snapshot {s.snapshot_id} ({op}); "
                "pass on_non_append='skip' to ignore row-level changes")
    return out


def incremental_tasks(tm: TableMetadata, snapshots: list) -> ScanPlan:
    """Scan plan containing exactly the files ADDED by the given snapshots
    (matched by file sequence number; deletes are not applied — an append
    log has no retractions)."""
    if not snapshots:
        return ScanPlan(tm, tm.current_snapshot(), [], None, None)
    newest = snapshots[-1]
    want_seqs = {s.sequence_number for s in snapshots}
    plan = plan_scan(tm, newest)
    keep = [t for t in plan.tasks if t.sequence_number in want_seqs]
    for t in keep:
        t.positional_deletes = []
        t.equality_deletes = []
    return ScanPlan(tm, newest, keep, None, plan.schema_id, plan.stats)


def incremental_scan(
    spark: SparkSession,
    location: str,
    *,
    from_snapshot_id: Optional[int] = None,
    to_snapshot_id: Optional[int] = None,
    on_non_append: str = "error",
) -> DataFrame:
    """Batch DataFrame of rows appended after ``from_snapshot_id`` (exclusive)
    up to ``to_snapshot_id`` (inclusive; current when None)."""
    tm = load_table_metadata(location)
    snaps = appended_snapshots(tm, from_snapshot_id, to_snapshot_id,
                               on_non_append=on_non_append)
    plan = incremental_tasks(tm, snaps)
    if not plan.tasks:
        return local_frame(spark, [], plan.spark_schema())
    return scan_to_dataframe(spark, plan)
