"""read_static: a seeded mix of analytic reads over tables that are built
at set-up and never change.

Every read after warm-up finds its frame in the scan-frame memo and its
manifests in the manifest cache, so Spark execution and the merge-on-read
anti-joins do the work; planning and construction should show almost
nothing.

Tables (built from the seed):
- ``lineitem``: month(l_shipdate)-partitioned, v2, merge-on-read. Snapshot
  ``base`` has no deletes; the current snapshot adds positional deletes for
  ~6% of the rows (``delete_from``).
- ``orders``: v3. Snapshot ``base`` is the plain write; ``dv`` adds a
  deletion vector (``delete_from``); the current snapshot adds an
  equality-delete upsert (``upsert_equality``) of ~3% of the keys.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from duckdb_iceberg_spark.sources import dml
from duckdb_iceberg_spark.sources import scan
from duckdb_iceberg_spark.sources import writer

from perfbench import datagen
from perfbench.common import BaseWorkload, dir_bytes, duck, same_rows

N_ORDERS = 15_000
LI_DELETE = "l_quantity IN (3, 17, 41)"
ORDERS_DV_DELETE = "o_orderstatus = 'F' AND o_totalprice < 40000"
MOR = {"write.delete.mode": "merge-on-read"}
#: q06 parameter sets: (year, discount, quantity)
Q06 = [(1995, 0.06, 24), (1996, 0.04, 25)]
Q03_DATES = ["1995-06-15"]
KINDS = ["q01", "q01_mor", "q06", "q03", "dv_scan", "eq_scan"]


class Workload(BaseWorkload):
    CYCLE = len(KINDS)

    def setup(self) -> None:
        rng = self.data_rng()
        spark = self.spark
        loc = self.root
        o = datagen.orders(rng, N_ORDERS)
        li = datagen.lineitem(rng, o["o_orderkey"].to_numpy(),
                              o["o_orderdate"].to_numpy())
        up_keys = np.sort(rng.choice(N_ORDERS, N_ORDERS // 33, replace=False))
        upsert = datagen.orders(rng, len(up_keys)).set_column(
            0, "o_orderkey", pa.array(up_keys.astype(np.int64)))

        self.li, self.orders = f"{loc}/lineitem", f"{loc}/orders"
        writer.write_iceberg(spark.createDataFrame(li), self.li,
                             partition_by=["month(l_shipdate)"], properties=MOR)
        self.li_base = _current(self.li)
        dml.delete_from(spark, self.li, LI_DELETE)
        writer.write_iceberg(spark.createDataFrame(o), self.orders, format_version=3,
                             properties=MOR)
        self.o_base = _current(self.orders)
        dml.delete_from(spark, self.orders, ORDERS_DV_DELETE)
        self.o_dv = _current(self.orders)
        dml.upsert_equality(spark, self.orders, spark.createDataFrame(upsert),
                            ["o_orderkey"])
        self.live_arrow_bytes = li.nbytes + o.nbytes
        self.generated = (li, o, upsert)

    def oracle(self) -> None:
        self.expected = _expected(*self.generated)

    def warmup(self) -> None:
        for kind in KINDS:
            for p in range(_variants(kind)):
                if not self._read(kind, p):
                    self.setup_ok = False

    def op(self, i: int):
        kind, p = self.shuffled(i, KINDS, lambda k, rng: int(rng.integers(_variants(k))))
        return kind, lambda: self._read(kind, p)

    def _read(self, kind: str, p: int) -> bool:
        rows = self.collect(self._frame(kind, p))
        return same_rows(rows, self.expected[(kind, p)])

    def _frame(self, kind: str, p: int):
        spark = self.spark
        if kind in ("q01", "q01_mor"):
            sid = self.li_base if kind == "q01" else None
            d = scan.iceberg_scan(spark, self.li, snapshot_id=sid)
            return (d.filter("l_shipdate <= DATE '1996-09-02'")
                    .groupBy("l_returnflag", "l_linestatus")
                    .agg(F.sum("l_quantity").alias("sum_qty"),
                         F.sum("l_extendedprice").alias("sum_base"),
                         F.sum(F.expr("l_extendedprice * (1 - l_discount)")).alias("sum_disc"),
                         F.sum(F.expr("l_extendedprice * (1 - l_discount) * (1 + l_tax)"))
                         .alias("sum_charge"),
                         F.count(F.lit(1)).alias("n")))
        if kind == "q06":
            year, disc, qty = Q06[p]
            d = scan.iceberg_scan(
                spark, self.li,
                where=f"l_shipdate >= '{year}-01-01' AND l_shipdate < '{year + 1}-01-01'")
            return (d.filter(f"l_discount BETWEEN {disc - 0.011:.3f} AND {disc + 0.011:.3f} "
                             f"AND l_quantity < {qty}")
                    .agg(F.sum(F.expr("l_extendedprice * l_discount")).alias("revenue"),
                         F.count(F.lit(1)).alias("n")))
        if kind == "q03":
            day = Q03_DATES[p]
            o = scan.iceberg_scan(spark, self.orders, snapshot_id=self.o_base)
            li = scan.iceberg_scan(spark, self.li, snapshot_id=self.li_base)
            return (o.filter(f"o_orderdate < DATE '{day}' AND o_orderpriority <> '5-LOW'")
                    .join(li.filter(f"l_shipdate > DATE '{day}'"),
                          F.col("o_orderkey") == F.col("l_orderkey"))
                    .groupBy("l_orderkey", "o_orderdate")
                    .agg(F.sum(F.expr("l_extendedprice * (1 - l_discount)")).alias("revenue"))
                    .orderBy(F.desc("revenue"), "l_orderkey").limit(10))
        if kind == "dv_scan":
            d = scan.iceberg_scan(spark, self.orders, snapshot_id=self.o_dv)
            return d.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"),
                                                  F.sum("o_totalprice").alias("total"))
        d = scan.iceberg_scan(spark, self.orders)
        return d.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"),
                                                F.sum("o_totalprice").alias("total"),
                                                F.max("o_orderkey").alias("max_key"))

    def report(self) -> dict:
        return {"space_amp": (dir_bytes(self.li) + dir_bytes(self.orders))
                / self.live_arrow_bytes}


def _current(loc: str) -> int:
    from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata

    return load_table_metadata(loc).current_snapshot_id


def _variants(kind: str) -> int:
    return {"q06": len(Q06), "q03": len(Q03_DATES)}.get(kind, 1)


def _expected(li: pa.Table, o: pa.Table, upsert: pa.Table) -> dict:
    """Every read's answer, computed by DuckDB from the generated rows."""
    con = duck(li=li, o=o, up=upsert)
    con.execute(f"CREATE VIEW li_mor AS SELECT * FROM li WHERE NOT ({LI_DELETE})")
    con.execute(f"CREATE VIEW o_dv AS SELECT * FROM o WHERE NOT ({ORDERS_DV_DELETE})")
    con.execute("CREATE VIEW o_eq AS SELECT * FROM o_dv WHERE o_orderkey NOT IN "
                "(SELECT o_orderkey FROM up) UNION ALL SELECT * FROM up")
    q01 = """SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                    sum(l_extendedprice * (1 - l_discount)),
                    sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), count(*)
             FROM {t} WHERE l_shipdate <= DATE '1996-09-02' GROUP BY 1, 2"""
    out = {("q01", 0): con.sql(q01.format(t="li")).fetchall(),
           ("q01_mor", 0): con.sql(q01.format(t="li_mor")).fetchall()}
    for p, (year, disc, qty) in enumerate(Q06):
        out[("q06", p)] = con.sql(f"""
            SELECT sum(l_extendedprice * l_discount), count(*) FROM li_mor
            WHERE l_shipdate >= DATE '{year}-01-01' AND l_shipdate < DATE '{year + 1}-01-01'
              AND l_discount BETWEEN {disc - 0.011:.3f} AND {disc + 0.011:.3f}
              AND l_quantity < {qty}""").fetchall()
    for p, day in enumerate(Q03_DATES):
        out[("q03", p)] = con.sql(f"""
            SELECT l_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM o JOIN li ON o_orderkey = l_orderkey
            WHERE o_orderdate < DATE '{day}' AND o_orderpriority <> '5-LOW'
              AND l_shipdate > DATE '{day}'
            GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""").fetchall()
    out[("dv_scan", 0)] = con.sql(
        "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM o_dv GROUP BY 1").fetchall()
    out[("eq_scan", 0)] = con.sql(
        "SELECT o_orderpriority, count(*), sum(o_totalprice), max(o_orderkey) "
        "FROM o_eq GROUP BY 1").fetchall()
    return out
