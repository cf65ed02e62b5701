"""Closed-loop benchmark of the duckdb_iceberg_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client, a Spark session
on ``local[<nproc>]``. The run builds its fixtures from the seed in a fresh
directory under the checkout, warms up, then issues operations one after
another for ``--seconds`` seconds and checks each result. The last line of
standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the provenance stamp and the per-kind details. ``--trace 1`` installs the
tracer (``perfbench/trace.py``) and reports the per-layer metrics instead
of the end-to-end ones; ``--trace-out FILE`` also writes the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("read_static", "ingest_cdc", "plan_large", "curate_docs")

#: end-to-end metrics with their units, in report order
END_TO_END = [("setup_s", "s"), ("ops_per_s", "op/s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("driver_peak_mb", "MB")]


def _prepare_env(run_dir: str) -> dict:
    """Point every scratch location of Spark and the engine inside the
    run directory, and put the checkout on the Python workers' path."""
    given = {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS",)}
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_ICE_CACHE": os.path.join(run_dir, "ice-cache"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return {"nproc": nproc, "SPARK_GRAFT_CPUS_given": given["SPARK_GRAFT_CPUS"]}


def _peak_rss_mb() -> float:
    """This process's resident-set high-water mark (VmHWM), in MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def _reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _git() -> dict:
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=20)
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                               capture_output=True, text=True, timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        return {"git_sha": None, "git_dirty": None}
    if sha.returncode != 0:
        return {"git_sha": None, "git_dirty": None}
    return {"git_sha": sha.stdout.strip(), "git_dirty": bool(dirty.stdout.strip())}


def _source_sha() -> str:
    """Content hash of the package and the benchmark, for checkouts that
    are not git repositories."""
    import hashlib

    h = hashlib.sha256()
    for top in ("duckdb_iceberg_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _provenance(spark, env: dict, seed: int, workload: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.local.dir")
    return {
        "workload": workload, "seed": seed, **_git(), "source_sha": _source_sha(),
        **env, "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__, "pyarrow": pyarrow.__version__,
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if k in keep or k.startswith(("spark.sql.", "spark.python.",
                                                     "spark.ui.", "spark.hadoop."))},
    }


def _start_spark(trace: bool, run_dir: str):
    from duckdb_iceberg_spark.session import get_spark

    extra = {
        # temp files inside the run directory; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # job/stage counts per op are read back from the status store
        extra.update({"spark.ui.retainedJobs": "1000", "spark.ui.retainedStages": "5000"})
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    load_before = os.getloadavg()
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = _prepare_env(run_dir)
    sys.path.insert(0, ROOT)
    import importlib

    from perfbench.common import tail
    from perfbench.trace import Tracer, layer_metrics, PER_LAYER

    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(args.trace, run_dir)
        spark.range(8).count()
        session_s = time.perf_counter() - t0
        mod = importlib.import_module(f"perfbench.wl_{args.workload}")
        if args.trace:
            tracer.install()
        wl = mod.Workload(spark, os.path.join(run_dir, "tables"), args.seed, tracer)
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        # the oracle (DuckDB over the generated rows) can take more memory
        # than the driver itself: leave it out of the peak
        setup_peak_mb = _peak_rss_mb()
        t = time.perf_counter()
        wl.oracle()
        oracle_s = time.perf_counter() - t
        _reset_peak_rss()
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + build_s + warm_s

        samples = []
        tracer.enabled = bool(args.trace)
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        i = 0
        # whole cycles only, so every run issues the same mix of op kinds;
        # a run that overshoots by a minute stops anyway, to end in time
        while True:
            now = time.perf_counter()
            if now >= deadline and (i % wl.CYCLE == 0 or now >= deadline + 60):
                break
            kind, fn = wl.op(i)
            span = tracer.begin_op(i, kind, spark) if args.trace else None
            t = time.perf_counter()
            try:
                ok = bool(fn())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t
            if span is not None:
                tracer.end_op(span, kind, spark)
            if not ok:
                print(f"perfbench: op {i} ({kind}) failed its check", file=sys.stderr)
            samples.append((kind, dt, ok))
            i += 1
        window_s = time.perf_counter() - t_start
        tracer.enabled = False

        lat = [s[1] for s in samples]
        tail_v, tail_pct = tail(lat)
        attempted, failed = len(samples), sum(1 for s in samples if not s[2])
        detail = {
            "setup": {"session_s": session_s, "fixture_build_s": build_s, "warmup_s": warm_s},
            "oracle_s": oracle_s,
            "window_s": window_s, "tail_percentile": tail_pct, "samples": len(lat),
            "by_kind": {}, "op_s": [[s[0], round(s[1], 4)] for s in samples], **wl.report(),
        }
        for kind in sorted({s[0] for s in samples}):
            ks = [s[1] for s in samples if s[0] == kind]
            detail["by_kind"][kind] = {"n": len(ks), "p50_s": median(ks),
                                       "failed": sum(1 for s in samples
                                                     if s[0] == kind and not s[2])}
        if args.trace:
            per_layer = layer_metrics(tracer.spans, tracer.ops)
            per_layer["trace.ops_per_s"] = (attempted - failed) / window_s
            units = dict(PER_LAYER, **{"trace.ops_per_s": "op/s"})
            metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
            if args.trace_out:
                tracer.dump(args.trace_out)
        else:
            values = {"setup_s": setup_s, "ops_per_s": (attempted - failed) / window_s,
                      "op_p50_s": median(lat), "op_tail_s": tail_v,
                      "driver_peak_mb": max(setup_peak_mb, _peak_rss_mb())}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        prov = _provenance(spark, env, args.seed, args.workload)
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass  # another run still uses it
    prov["loadavg_before"], prov["loadavg_after"] = load_before, os.getloadavg()
    print(json.dumps({"provenance": prov, "detail": detail}))
    return {"correct": failed == 0 and wl.setup_ok, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the traced run's spans to this JSON file")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
