"""ingest_cdc: a loop of small commits to one orders-shaped table, each
followed by one read of the new snapshot.

A cycle of seven commits holds four small appends (``write_iceberg``), one
merge-on-read ``delete_from``, one ``upsert_equality`` and one maintenance
cycle (``rewrite_data_files``, ``rewrite_position_delete_files``,
``expire_snapshots``); the seed picks the rows, keys and ranges. With
appends the majority, the median step is an append and the other kinds
show in the tail. Every
commit writes a new metadata location, so every read misses the scan-frame
memo and pays metadata load, planning and construction. A DuckDB mirror
table receives the same changes; each read's count and sums must match it.
"""

from __future__ import annotations

import time
from statistics import median

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from duckdb_iceberg_spark.sources import dml
from duckdb_iceberg_spark.sources import maintenance
from duckdb_iceberg_spark.sources import scan
from duckdb_iceberg_spark.sources import writer

from perfbench import datagen
from perfbench.common import BaseWorkload, dir_bytes, duck, same_rows, tail

N_INITIAL = 4_000
APPEND_ROWS = 200
DELETE_KEYS = 100
UPSERT_KEYS = 100
DAYS = 59  # two months, so month(o_orderdate) makes two partitions
#: one cycle of commits: mostly appends, as in a change feed, then a
#: maintenance cycle that compacts what the cycle wrote
CYCLE_KINDS = ["append", "delete", "append", "upsert", "append", "append", "maintain"]
PROPS = {"write.delete.mode": "merge-on-read"}


class Workload(BaseWorkload):
    CYCLE = len(CYCLE_KINDS)

    def setup(self) -> None:
        rng = self.data_rng()
        self.loc = f"{self.root}/orders"
        initial = datagen.orders(rng, N_INITIAL, days=DAYS)
        writer.write_iceberg(self.spark.createDataFrame(initial), self.loc,
                             partition_by=["month(o_orderdate)"], properties=PROPS)
        self.mirror = duck(initial=initial)
        self.mirror.execute("CREATE TABLE t AS SELECT * FROM initial")
        self.mirror.unregister("initial")
        self.next_key = N_INITIAL
        self.rng = self.op_rng()
        self.timings = {"commit": [], "read": []}

    def warmup(self) -> None:
        # one whole cycle: every kind of commit runs once, and the cycle's
        # maintenance (the first with enough small files to compact) leaves
        # the table in the state every later cycle starts from
        for kind in CYCLE_KINDS:
            if not self._step(kind)():
                self.setup_ok = False
        self.timings = {"commit": [], "read": []}

    def op(self, i: int):
        kind = CYCLE_KINDS[i % len(CYCLE_KINDS)]
        return kind, self._step(kind)

    def _step(self, kind: str):
        rng, spark = self.rng, self.spark
        if kind == "append":
            rows = datagen.orders(rng, APPEND_ROWS, first_key=self.next_key, days=DAYS)
            self.next_key += APPEND_ROWS

            def commit():
                writer.write_iceberg(spark.createDataFrame(rows), self.loc)
                self.mirror.register("rows", rows)
                self.mirror.execute("INSERT INTO t SELECT * FROM rows")
                self.mirror.unregister("rows")
        elif kind == "delete":
            lo = int(rng.integers(0, self.next_key - DELETE_KEYS))
            where = f"o_orderkey >= {lo} AND o_orderkey < {lo + DELETE_KEYS}"

            def commit():
                dml.delete_from(spark, self.loc, where)
                self.mirror.execute(f"DELETE FROM t WHERE {where}")
        elif kind == "upsert":
            keys = np.sort(rng.choice(self.next_key, UPSERT_KEYS, replace=False))
            rows = datagen.orders(rng, UPSERT_KEYS, days=DAYS).set_column(
                0, "o_orderkey", pa.array(keys.astype(np.int64)))

            def commit():
                dml.upsert_equality(spark, self.loc, spark.createDataFrame(rows),
                                    ["o_orderkey"])
                self.mirror.register("rows", rows)
                self.mirror.execute("DELETE FROM t WHERE o_orderkey IN "
                                    "(SELECT o_orderkey FROM rows)")
                self.mirror.execute("INSERT INTO t SELECT * FROM rows")
                self.mirror.unregister("rows")
        else:
            def commit():
                maintenance.rewrite_data_files(spark, self.loc)
                maintenance.rewrite_position_delete_files(spark, self.loc)
                maintenance.expire_snapshots(self.loc, retain_last=1)

        def run() -> bool:
            t0 = time.perf_counter()
            commit()
            t1 = time.perf_counter()
            ok = self._read()
            self.timings["commit"].append(t1 - t0)
            self.timings["read"].append(time.perf_counter() - t1)
            return ok
        return run

    def _read(self) -> bool:
        d = scan.iceberg_scan(self.spark, self.loc)
        got = self.collect(d.agg(F.count(F.lit(1)), F.sum("o_totalprice"),
                                 F.sum("o_orderkey"), F.max("o_orderdate")))
        want = self.mirror.sql("SELECT count(*), sum(o_totalprice), sum(o_orderkey), "
                               "max(o_orderdate) FROM t").fetchall()
        return same_rows(got, want)

    def report(self) -> dict:
        live = self.mirror.sql("SELECT * FROM t").arrow().nbytes
        out = {"space_amp": dir_bytes(self.loc) / live}
        for part, xs in self.timings.items():
            if xs:
                value, pct = tail(xs)
                out.update({f"{part}_p50_s": median(xs), f"{part}_tail_s": value,
                            f"{part}_tail_percentile": pct, f"{part}_n": len(xs)})
        return out
