"""Traced-run report for one workload and seed.

    python3 perfbench/trace_report.py --workload ingest_cdc --seed 1 [--seconds 10]

Runs the benchmark three times in fresh processes: once untraced and twice
traced (``--trace 1``, spans written to a file). It prints one JSON object
with:

- ``per_layer``: the per-layer metrics of the first traced run;
- ``self_time``: per span name, calls, total and self seconds per op
  (self time = duration minus the time of direct child spans);
- ``by_kind``: per op kind, the median per-op counts and the span self
  times, so a prediction for one kind of op (a distributed plan, a
  maintenance commit) can be read on its own;
- ``overhead``: traced ``ops_per_s`` against the untraced run's;
- ``repeat``: whether each per-op count (py4j calls, jobs, stages, tasks,
  Avro decodes, manifest reads, files written) is identical in both traced
  runs over the ops they share, and, where not, on which ops it differs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.spread import run_once  # noqa: E402
from perfbench.trace import load, op_counts, self_times  # noqa: E402

#: why a count can legitimately differ between two runs of one seed
WHY = {
    "jobs": "jobs launched from helper threads land outside the op's job group",
    "stages": "counted over the op's jobs, so they differ where the job count does",
    "tasks": "counted over the op's jobs, so they differ where the job count does",
}


def summarize(path: str) -> dict:
    spans, ops = load(path)
    kinds = {o["op"]: o["kind"] for o in ops}
    n = max(1, len(ops))
    selft = self_times(spans)
    table: dict[str, dict] = {}
    per_kind: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, selft):
        row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s.duration
        row["self_s"] += st
        k = per_kind.setdefault(kinds.get(s.op, "?"), {})
        k[s.name] = k.get(s.name, 0.0) + st
    for row in table.values():
        for key in row:
            row[key] /= n
    counts = op_counts(spans, ops)
    by_kind = {}
    for kind in sorted(set(kinds.values())):
        ids = [i for i, k in kinds.items() if k == kind]
        med = {c: statistics.median(counts[i][c] for i in ids) for c in counts[ids[0]]}
        by_kind[kind] = {"ops": len(ids), "median_counts": med,
                         "self_s_per_op": {name: v / len(ids)
                                           for name, v in sorted(per_kind[kind].items())}}
    return {"self_time": table, "by_kind": by_kind, "counts": counts}


def compare(a: dict[int, dict], b: dict[int, dict]) -> dict:
    shared = sorted(set(a) & set(b))
    out = {}
    for c in (a[shared[0]] if shared else {}):
        diff = [i for i in shared if a[i][c] != b[i][c]]
        entry = {"repeats": not diff, "ops_compared": len(shared)}
        if diff:
            entry["differs_on_ops"] = diff[:20]
            entry["why"] = WHY.get(c, "not explained; inspect the spans of these ops")
        out[c] = entry
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain, _ = run_once(args.workload, args.seed, args.seconds)
    runs = []
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE),
                                     prefix=".perfbench_trace") as tmp:
        for r in range(2):
            path = os.path.join(tmp, f"spans{r}.json")
            result, detail = run_once(args.workload, args.seed, args.seconds, trace=1,
                                      extra=["--trace-out", path])
            runs.append((result, detail, summarize(path)))
    (r0, d0, s0), (_, _, s1) = runs
    traced = r0["metrics"]["trace.ops_per_s"]["value"]
    untraced = plain["metrics"]["ops_per_s"]["value"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "correct": r0["correct"] and plain["correct"],
        "per_layer": {k: v["value"] for k, v in r0["metrics"].items()},
        "self_time": s0["self_time"], "by_kind": s0["by_kind"],
        "overhead": {"untraced_ops_per_s": untraced, "traced_ops_per_s": traced,
                     "traced_over_untraced": traced / untraced},
        "repeat": compare(s0["counts"], s1["counts"]),
        "provenance": d0["provenance"],
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
