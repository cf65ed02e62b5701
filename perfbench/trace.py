"""Spans and counters around the package's public entry points.

The tracer is installed from outside the package: each traced function is
replaced, in every loaded ``duckdb_iceberg_spark`` module that binds it,
by a wrapper that records a span (name, start, end, parent, op id) plus
the py4j round-trips made inside it. A module that imported a function by
name (``sources/scan.py`` binds ``plan_scan`` at import time) is patched at
that binding too, so every caller reaches the wrapper. Spans stay in
memory; :func:`layer_metrics` turns them into the per-layer metrics and
:meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from contextlib import contextmanager

PKG = "duckdb_iceberg_spark"

#: traced entry points: span name -> (module, function)
ENTRY_POINTS = {
    "metadata.load": ("metadata.table_metadata", "load_table_metadata"),
    "metadata.write": ("metadata.table_metadata", "write_table_metadata"),
    "metadata.read_manifest": ("metadata.manifest", "read_manifest"),
    "metadata.read_manifest_list": ("metadata.manifest", "read_manifest_list"),
    "metadata.write_manifest": ("metadata.manifest", "write_manifest"),
    "metadata.write_manifest_list": ("metadata.manifest", "write_manifest_list"),
    "metadata.decode": ("metadata.avro_io", "read_avro_file"),
    "plans.plan_scan": ("plans.scan_plan", "plan_scan"),
    "plans.plan_scan_distributed": ("plans.distributed_planner", "plan_scan_distributed"),
    "scan.iceberg_scan": ("sources.scan", "iceberg_scan"),
    "scan.iceberg_count": ("sources.scan", "iceberg_count"),
    "scan.construct": ("sources.scan", "scan_to_dataframe"),
    "writer.write_iceberg": ("sources.writer", "write_iceberg"),
    "writer.write_data_files": ("sources.writer", "write_data_files"),
    "writer.commit_snapshot": ("sources.writer", "commit_snapshot"),
    "dml.delete_from": ("sources.dml", "delete_from"),
    "dml.upsert_equality": ("sources.dml", "upsert_equality"),
    "maintenance.rewrite_data_files": ("sources.maintenance", "rewrite_data_files"),
    "maintenance.rewrite_position_delete_files":
        ("sources.maintenance", "rewrite_position_delete_files"),
    "maintenance.expire_snapshots": ("sources.maintenance", "expire_snapshots"),
    "operators.minhash_dedup": ("operators.dedup", "minhash_dedup"),
    "operators.exact_substring_dedup": ("operators.dedup", "exact_substring_dedup"),
    "operators.exact_dedup": ("operators.dedup", "exact_dedup"),
    "operators.bm25_topk": ("operators.retrieval", "bm25_topk"),
    "operators.nb_quality_score": ("operators.classify", "nb_quality_score"),
}

OPERATORS = sorted(n.split(".", 1)[1] for n in ENTRY_POINTS if n.startswith("operators."))


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "py4j_start", "py4j_end", "attrs")

    def __init__(self, name, start, parent, op, py4j_start):
        self.name, self.start, self.parent, self.op = name, start, parent, op
        self.py4j_start = py4j_start
        self.end = self.py4j_end = None
        self.attrs = {}

    @classmethod
    def from_dict(cls, d: dict) -> "Span":
        s = cls(d["name"], d["start"], d["parent"], d["op"], 0)
        s.end, s.py4j_end, s.attrs = d["end"], d["py4j"], d["attrs"]
        return s

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def py4j(self) -> int:
        return self.py4j_end - self.py4j_start


class _Wrapper:
    """Callable that records a span around ``orig``. Pickles as the
    original function, so a closure shipped to Python workers never drags
    the tracer along."""

    def __init__(self, tracer: "Tracer", name: str, orig):
        self._tracer, self._name, self.__wrapped__ = tracer, name, orig
        self.__name__ = orig.__name__
        self.__qualname__ = getattr(orig, "__qualname__", orig.__name__)
        self.__module__ = orig.__module__
        self.__doc__ = orig.__doc__

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        if not tr.enabled:
            return self.__wrapped__(*args, **kwargs)
        span = tr.open(self._name)
        try:
            result = self.__wrapped__(*args, **kwargs)
            tr.annotate(span, args, kwargs, result)
            return result
        finally:
            tr.close(span)

    def __reduce__(self):
        return (_resolve, (self.__module__, self.__name__))


def _resolve(module: str, attr: str):
    return getattr(importlib.import_module(module), attr)


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        self.py4j_calls = 0
        self._paused = 0

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        targets = {}
        for name, (mod, fn) in ENTRY_POINTS.items():
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), fn)
            targets[id(orig)] = _Wrapper(self, name, orig)
        for mod in [m for n, m in list(sys.modules.items())
                    if (n == PKG or n.startswith(PKG + ".")) and m is not None]:
            for attr, value in list(vars(mod).items()):
                wrapper = targets.get(id(value))
                if wrapper is not None and wrapper.__wrapped__ is value:
                    setattr(mod, attr, wrapper)
        self._install_py4j_counter()

    def _install_py4j_counter(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        from py4j import protocol

        # py4j also sends a round-trip when Python garbage-collects a JVM
        # object proxy; when that happens is not deterministic, so those
        # releases are not counted as calls
        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        tracer = self
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **k):
                if tracer.enabled and not tracer._paused and not command.startswith(release):
                    tracer.py4j_calls += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = counted

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), parent, self._op, self.py4j_calls)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.py4j_end = self.py4j_calls
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def annotate(self, span: Span, args, kwargs, result) -> None:
        """Counters read at the boundary, from arguments and results."""
        name, a = span.name, span.attrs
        if name in ("metadata.write", "metadata.write_manifest_list"):
            path = result if name == "metadata.write" else args[0]
            a["bytes"] = _size(path)
        elif name == "metadata.write_manifest":
            a["bytes"] = getattr(result, "manifest_length", 0) or _size(args[0])
        elif name in ("plans.plan_scan", "plans.plan_scan_distributed"):
            a.update(result.stats)
            a["tasks"] = len(result.tasks)
            a["task_deletes"] = sum(len(t.positional_deletes) + len(t.equality_deletes)
                                    for t in result.tasks)
        elif name == "writer.write_data_files":
            files = result[0]
            a["files"] = len(files)
            a["bytes"] = sum(f.file_size_in_bytes or 0 for f in files)
        elif name == "writer.commit_snapshot":
            a["delete_files"] = len(kwargs.get("new_delete_files") or [])
        elif name == "maintenance.rewrite_data_files":
            a["rewritten"] = int(result.get("rewritten_data_files_count", 0))
        elif name == "maintenance.rewrite_position_delete_files":
            a["rewritten"] = int(result.get("rewritten_delete_files_count", 0))
        elif name == "maintenance.expire_snapshots":
            a["removed"] = int(result.get("deleted_files", 0))

    # -- ops ---------------------------------------------------------------
    def begin_op(self, op_id: int, kind: str, spark) -> Span:
        self._op = op_id
        with self.paused():
            spark.sparkContext.setJobGroup(f"perfbench-op-{op_id}", kind)
        return self.open("op")

    def end_op(self, span: Span, kind: str, spark) -> None:
        self.close(span)
        with self.paused():
            st = spark.sparkContext.statusTracker()
            jobs = st.getJobIdsForGroup(f"perfbench-op-{span.op}")
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    stages += 1
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si else 0
        self.ops.append({"op": span.op, "kind": kind, "jobs": len(jobs),
                         "stages": stages, "tasks": tasks})
        self._op = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"ops": self.ops, "spans": [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 "op": s.op, "py4j": s.py4j, "attrs": s.attrs} for s in self.spans]}, fh)


def load(path: str) -> tuple[list[Span], list[dict]]:
    """Read back a file written by :meth:`Tracer.dump`."""
    with open(path) as fh:
        d = json.load(fh)
    return [Span.from_dict(x) for x in d["spans"]], d["ops"]


def _size(path) -> int:
    try:
        return os.path.getsize(path)
    except (OSError, TypeError):
        return 0


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover.
    Children of one span run one after another on the driver thread, so
    their intervals do not overlap and their durations add up."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    return [s.duration - c for s, c in zip(spans, child)]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def op_counts(spans: list[Span], ops: list[dict]) -> dict[int, dict]:
    """Per-op work counts; the traced-run tool compares them across runs."""
    out = {o["op"]: {"jobs": o["jobs"], "stages": o["stages"], "tasks": o["tasks"],
                     "py4j_calls": 0, "avro_decodes": 0, "manifest_reads": 0,
                     "metadata_files_written": 0, "data_files_written": 0}
           for o in ops}
    for s in spans:
        c = out.get(s.op)
        if c is None:
            continue
        if s.name == "op":
            c["py4j_calls"] += s.py4j
        elif s.name == "metadata.decode":
            c["avro_decodes"] += 1
        elif s.name in ("metadata.read_manifest", "metadata.read_manifest_list"):
            c["manifest_reads"] += 1
        elif s.name in ("metadata.write", "metadata.write_manifest",
                        "metadata.write_manifest_list"):
            c["metadata_files_written"] += 1
        elif s.name == "writer.write_data_files":
            c["data_files_written"] += s.attrs["files"]
    return out


def layer_metrics(spans: list[Span], ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics, each per op of the traced window unless it is a
    ratio or is stated per plan/per task."""
    n = max(1, len(ops))
    selft = self_times(spans)
    tot = {}

    def add(key, v):
        tot[key] = tot.get(key, 0) + v

    plan_names = ("plans.plan_scan", "plans.plan_scan_distributed")
    constructed = {s.parent for s in spans if s.name == "scan.construct"}
    for i, s in enumerate(spans):
        name, a = s.name, s.attrs
        parent = spans[s.parent].name if s.parent is not None else None
        if name == "metadata.load":
            add("metadata.load_s", s.duration)
        elif name in ("metadata.read_manifest", "metadata.read_manifest_list"):
            add("metadata.manifest_reads", 1)
        elif name == "metadata.decode":
            add("metadata.avro_decodes", 1)
            add("metadata.decode_s", s.duration)
        elif name in ("metadata.write", "metadata.write_manifest",
                      "metadata.write_manifest_list"):
            add("metadata.files_written", 1)
            add("metadata.bytes_written", a.get("bytes", 0))
            if name == "metadata.write":
                add("writer.metadata_writes", 1)
        elif name in plan_names:
            add("plans.plan_s", selft[i])
            if parent not in plan_names:  # the top-level plan of a scan
                add("plans.plans", 1)
                add("plans.distributed", int("distributed_manifests" in a))
                add("_manifests_total", a.get("manifests_total", 0))
                add("_manifests_pruned", a.get("manifests_pruned", 0))
                add("_files_total", a.get("files_total", 0) + a.get("files_pruned", 0))
                add("_files_pruned", a.get("files_pruned", 0))
                add("_tasks", a["tasks"])
                add("_task_deletes", a["task_deletes"])
        elif name == "scan.iceberg_scan":
            add("_scans", 1)
            if i not in constructed:
                add("_memo_hits", 1)
        elif name == "scan.construct":
            add("scan.construct_s", selft[i])
            add("py4j.construct_calls", s.py4j)
        elif name == "op":
            add("py4j.calls_per_op", s.py4j)
        elif name == "spark.action":
            add("spark.action_s", s.duration)
        elif name == "writer.write_data_files":
            add("writer.write_s", s.duration)
            add("writer.data_files_written", a["files"])
            add("writer.data_bytes_written", a["bytes"])
        elif name == "writer.commit_snapshot":
            add("writer.commit_s", s.duration)
            if parent and parent.startswith("dml."):
                add("dml.delete_files_written", a["delete_files"])
        elif name.startswith("dml."):
            add("dml.s", selft[i])
        elif name.startswith("maintenance."):
            add("maintenance.s", selft[i])
            add("maintenance.files_rewritten", a.get("rewritten", 0))
            add("maintenance.files_removed", a.get("removed", 0))
        elif name.startswith("operators."):
            add(name + ".s", s.duration)
            add(name + ".py4j_calls", s.py4j)
    for o in ops:
        add("spark.jobs_per_op", o["jobs"])
        add("spark.stages_per_op", o["stages"])
        add("spark.tasks_per_op", o["tasks"])

    out = {k: v / n for k, v in tot.items() if not k.startswith("_")}
    reads = tot.get("metadata.manifest_reads", 0)
    out["metadata.manifest_cache_hit_ratio"] = (
        max(0.0, 1.0 - tot.get("metadata.avro_decodes", 0) / reads) if reads else 0.0)
    plans = tot.get("plans.plans", 0)
    out["plans.manifests_pruned_ratio"] = _ratio(tot.get("_manifests_pruned", 0),
                                                 tot.get("_manifests_total", 0))
    out["plans.files_pruned_ratio"] = _ratio(tot.get("_files_pruned", 0),
                                             tot.get("_files_total", 0))
    out["plans.tasks"] = _ratio(tot.get("_tasks", 0), plans)
    out["plans.delete_files_per_task"] = _ratio(tot.get("_task_deletes", 0),
                                                tot.get("_tasks", 0))
    out["scan.memo_hit_ratio"] = _ratio(tot.get("_memo_hits", 0), tot.get("_scans", 0))
    for key in PER_LAYER_KEYS:
        out.setdefault(key, 0.0)
    return {k: out[k] for k in PER_LAYER_KEYS}


#: every per-layer metric with its unit, in report order
PER_LAYER = [
    ("metadata.load_s", "s"), ("metadata.manifest_reads", "count"),
    ("metadata.avro_decodes", "count"), ("metadata.manifest_cache_hit_ratio", "ratio"),
    ("metadata.decode_s", "s"), ("metadata.files_written", "count"),
    ("metadata.bytes_written", "bytes"),
    ("plans.plan_s", "s"), ("plans.plans", "count"), ("plans.distributed", "count"),
    ("plans.manifests_pruned_ratio", "ratio"), ("plans.files_pruned_ratio", "ratio"),
    ("plans.tasks", "count"), ("plans.delete_files_per_task", "count"),
    ("scan.memo_hit_ratio", "ratio"), ("scan.construct_s", "s"),
    ("py4j.construct_calls", "count"), ("py4j.calls_per_op", "count"),
    ("spark.action_s", "s"), ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("writer.write_s", "s"), ("writer.data_files_written", "count"),
    ("writer.data_bytes_written", "bytes"), ("writer.commit_s", "s"),
    ("writer.metadata_writes", "count"),
    ("dml.s", "s"), ("dml.delete_files_written", "count"),
    ("maintenance.s", "s"), ("maintenance.files_rewritten", "count"),
    ("maintenance.files_removed", "count"),
] + [(f"operators.{op}.{m}", u) for op in OPERATORS
     for m, u in (("s", "s"), ("py4j_calls", "count"))]

PER_LAYER_KEYS = [k for k, _ in PER_LAYER]
