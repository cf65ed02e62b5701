"""Helpers shared by the workloads: result checks, DuckDB expectations and
the action span."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest order statistic with at least ten samples above it, but
    never below the median; returns (value, its percentile)."""
    s = sorted(xs)
    n = len(s)
    k = max(n - 11, n // 2)
    return s[k], 100.0 * (k + 1) / n


class BaseWorkload:
    #: ops per cycle; a run ends on a cycle boundary
    CYCLE = 1

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.setup_ok = True

    def data_rng(self) -> np.random.Generator:
        """The generator for fixture data: the same on every build."""
        return np.random.default_rng([self.seed, 1])

    def op_rng(self) -> np.random.Generator:
        return np.random.default_rng([self.seed, 2])

    def shuffled(self, i: int, kinds: list, draw) -> tuple:
        """The ``i``-th op of a cycle that issues ``kinds`` in a seeded
        order, redrawn every cycle; ``draw(kind, rng)`` picks each op's
        parameters."""
        if i % len(kinds) == 0:
            rng = np.random.default_rng([self.seed, 2, i])
            self._cycle = [(str(k), draw(k, rng)) for k in rng.permutation(kinds)]
        return self._cycle[i % len(kinds)]

    def oracle(self) -> None:
        """Compute the reference results the checks compare against. It runs
        after ``setup`` and counts in neither ``setup_s`` nor
        ``driver_peak_mb``: it is the benchmark's work, not the program's."""

    def collect(self, df):
        """Run the Spark action that produces an op's result."""
        with self.tracer.span("spark.action"):
            return df.collect()

    def report(self) -> dict:
        return {}


def duck(**tables) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with the given Arrow tables registered."""
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


def canon(rows) -> list[tuple]:
    """Rows as sorted tuples, Spark ``Row`` or DuckDB tuples alike."""
    return sorted((tuple(r) for r in rows), key=lambda r: tuple(
        (x is None, str(x)) if not isinstance(x, float) else (False, "") for x in r))


def same_rows(actual, expected, rel: float = 1e-6) -> bool:
    """Order-insensitive row comparison; floats within a relative tolerance
    (Spark and DuckDB sum doubles in different orders)."""
    a, e = canon(actual), canon(expected)
    return len(a) == len(e) and all(same_row(x, y, rel) for x, y in zip(a, e))


def same_row(a, e, rel: float = 1e-6) -> bool:
    if len(a) != len(e):
        return False
    for x, y in zip(a, e):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(float(x), float(y), rel_tol=rel,
                                                          abs_tol=1e-6):
                return False
        elif x != y and str(x) != str(y):
            return False
    return True


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
