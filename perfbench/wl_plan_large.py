"""plan_large: scan planning over a metadata-only table whose manifests
outnumber the driver's manifest cache.

The table has ``N_MANIFESTS`` identity-partitioned manifests (one
partition each) of ``ENTRIES`` data-file entries, and no data files:
planning never opens one. 320 manifests exceed the manifest LRU's 256-file
bound, so the cache cannot hold the whole table. The op stream is a seeded
mix of ``plan_scan_distributed`` calls over partition ranges skewed in
width and position, plus exact ``iceberg_count`` calls. Most ranges are
selective and take the driver path; one op in ten is wide enough to cross
the distributed-planning threshold and runs on executors. Each plan's task
count and pruned-manifest count are checked against the construction.
"""

from __future__ import annotations

import os
import struct
import time

import numpy as np

from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata import table_metadata
from duckdb_iceberg_spark.plans import distributed_planner
from duckdb_iceberg_spark.plans.distributed_planner import DEFAULT_DISTRIBUTE_THRESHOLD
from duckdb_iceberg_spark.sources import scan
from duckdb_iceberg_spark.sources import writer

from perfbench.common import BaseWorkload

N_MANIFESTS = 320
ENTRIES = 100
ROWS_PER_FILE = 1000
STRIDE = 10_000  # payload values of partition p lie in [p*STRIDE, (p+1)*STRIDE)
#: one cycle of ops; the seed shuffles it and draws each op's range
SHAPES = ["narrow"] * 6 + ["medium", "wide", "count", "count"]


class Workload(BaseWorkload):
    CYCLE = len(SHAPES)

    def setup(self) -> None:
        from pyspark.sql import types as T

        self.loc = loc = f"{self.root}/meta_only"
        schema = T.StructType([T.StructField("part", T.IntegerType()),
                               T.StructField("payload", T.LongType())])
        tm = writer.create_table(loc, schema, partition_by=["part"])
        spec, meta = tm.default_spec(), os.path.join(loc, "metadata")
        # seeded per-file row counts, so iceberg_count has a seed-specific answer
        rows = self.data_rng().integers(ROWS_PER_FILE // 2, ROWS_PER_FILE,
                                        (N_MANIFESTS, ENTRIES))
        manifests = []
        for p in range(N_MANIFESTS):
            entries = []
            for e in range(ENTRIES):
                lo = p * STRIDE + e * 10
                df = mf.DataFile(
                    content=mf.CONTENT_DATA, file_path=f"{loc}/data/p{p}/f{e}.parquet",
                    file_format="PARQUET", partition={"part": p},
                    record_count=int(rows[p, e]), file_size_in_bytes=1 << 20,
                    value_counts={1: int(rows[p, e]), 2: int(rows[p, e])},
                    null_value_counts={1: 0, 2: 0},
                    lower_bounds={1: struct.pack("<i", p), 2: struct.pack("<q", lo)},
                    upper_bounds={1: struct.pack("<i", p), 2: struct.pack("<q", lo + 9)})
                entries.append(mf.ManifestEntry(status=mf.STATUS_ADDED, snapshot_id=1,
                                                sequence_number=1, file_sequence_number=1,
                                                data_file=df))
            m = mf.write_manifest(os.path.join(meta, f"m{p}.avro"), entries, tm, spec,
                                  mf.MANIFEST_DATA)
            m.added_snapshot_id = 1
            manifests.append(m)
        ml = os.path.join(meta, "snap-1.avro")
        mf.write_manifest_list(ml, manifests, 1, None, 1, tm.format_version)
        total = int(rows.sum())
        snap = table_metadata.Snapshot(
            snapshot_id=1, timestamp_ms=int(time.time() * 1000), manifest_list=ml,
            sequence_number=1, schema_id=tm.current_schema_id,
            summary={"operation": "append", "total-records": str(total),
                     "total-data-files": str(N_MANIFESTS * ENTRIES)})
        tm.snapshots.append(snap)
        tm.current_snapshot_id = 1
        tm.last_sequence_number = 1
        tm.snapshot_log.append({"timestamp-ms": snap.timestamp_ms, "snapshot-id": 1})
        tm.refs["main"] = {"snapshot-id": 1, "type": "branch"}
        table_metadata.write_table_metadata(tm, loc)
        self.rows, self.total = rows, total

    def warmup(self) -> None:
        # one cycle of ops; the cache is left as the warm-up filled it
        rng = np.random.default_rng([self.seed, 3])
        for shape in SHAPES:
            if not self._run(shape, *self._params(shape, rng)):
                self.setup_ok = False

    def op(self, i: int):
        shape, params = self.shuffled(i, SHAPES, self._params)
        return shape, lambda: self._run(shape, *params)

    @staticmethod
    def _params(shape: str, rng: np.random.Generator) -> tuple[int, int, int]:
        """(first partition, width, entries kept in the last partition).
        Widths and positions are skewed: most ranges are short and near
        the low partitions."""
        if shape == "count":
            return 0, N_MANIFESTS, ENTRIES
        if shape == "wide":
            width = int(rng.integers(DEFAULT_DISTRIBUTE_THRESHOLD + 8, 2 * DEFAULT_DISTRIBUTE_THRESHOLD))
        elif shape == "medium":
            width = int(rng.integers(20, 40))
        else:
            width = 1 + int(15 * rng.random() ** 2)
        lo = int((N_MANIFESTS - width) * rng.random() ** 2)
        return lo, width, int(rng.integers(0, ENTRIES + 1))

    def _run(self, shape: str, lo: int, width: int, keep_last: int) -> bool:
        if shape == "count":
            return scan.iceberg_count(self.loc) == self.total
        hi = lo + width - 1
        cut = hi * STRIDE + keep_last * 10
        tm = table_metadata.load_table_metadata(self.loc)
        plan = distributed_planner.plan_scan_distributed(
            self.spark, tm, tm.current_snapshot(),
            f"part >= {lo} AND part <= {hi} AND payload < {cut}")
        want_tasks = (width - 1) * ENTRIES + keep_last
        want_rows = int(self.rows[lo:hi].sum() + self.rows[hi, :keep_last].sum())
        return (len(plan.tasks) == want_tasks
                and plan.stats["manifests_pruned"] == N_MANIFESTS - width
                and sum(t.data_file.record_count for t in plan.tasks) == want_rows)
