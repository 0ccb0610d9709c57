"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 12 --trace 0

Runs one workload (``workloads.py``) against the package in the parent
directory, checks its outputs, and prints JSON lines: the session shape,
the workload's detailed numbers, and last a result line with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones from a run with timing wrappers installed, and the spans
are written to ``.perfbench/spans-<workload>-seed<seed>.jsonl``.

Exit status: 0 when the outputs were correct, 1 when the correctness
gate failed or the workload crashed, 2 when the package is missing.
Everything the run writes stays under ``.perfbench/`` in the directory
holding ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import workloads
from measure import PeakRss
from tracing import LAYER_NAMES, SparkStatus, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".perfbench")

# name -> unit, as listed in BENCHMARK.json
END_TO_END = {"setup_s": "s", "op_typical_s": "s", "cycle_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {f"spark.{k}": ("bytes" if k.endswith("bytes") else "s" if k.endswith("_s") else "count")
             for k in workloads.SPARK_KEYS}
    for name in ("fs.list_calls", "fs.rename_calls", "fs.mkdirs_calls", "fs.delete_calls",
                 "fs.calls", "fs.calls_per_batch", "sink.files_written", "sink.files_per_partition",
                 "compact.files_in", "compact.files_out", "read.files", "trace.spans_per_op"):
        units[name] = "count"
    for name in ("fs.list_s", "sink.cleanup_s", "ledger.read_s", "ledger.commit_s",
                 "sink.write_first_s", "sink.write_rest_s", "stream.between_batches_s",
                 "compact.s", "read.list_s", "read.exec_s", "catalog.build_s", "session.start_s"):
        units[name] = "s"
    for name in ("ledger.bytes", "sink.bytes_written", "compact.bytes_rewritten"):
        units[name] = "bytes"
    units["trace.overhead_ratio"] = "ratio"
    for layer in LAYER_NAMES:
        units[f"self_s.{layer}"] = "s"
    for q in workloads.MIX:
        for part in ("s", "driver_gap_s", "executor_run_s"):
            units[f"query.{q}.{part}"] = "s"
    return units


def session_shape(run_dir: str) -> dict:
    """Pin the Spark session to this host: task threads <= cores (at most
    4), matching shuffle partitions, a driver heap well below physical
    memory, and every scratch directory inside this run's directory."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata file from spark-submit's launcher JVM either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # no hsperfdata file: HotSpot writes it to /tmp whatever the temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    return {"cpus": cpus, "master": f"local[{cpus}]", "shuffle_partitions": cpus, "env": env, "conf": conf}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package under test is not importable: {e}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(OUT, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        shape = session_shape(run_dir)
        os.environ.update(shape["env"])
        tempfile.tempdir = shape["env"]["TMPDIR"]
        tracer = status = None
        if args.trace:
            tracer = Tracer()
            tracer.install(workloads.PKG)
        t0 = time.perf_counter()
        spark = pkg.get_spark_session(
            app_name=f"perfbench-{args.workload}", master=shape["master"],
            shuffle_partitions=shape["shuffle_partitions"], extra_conf=shape["conf"],
        )
        session_s = time.perf_counter() - t0
        if args.trace:
            status = SparkStatus(spark)
        ctx = workloads.Ctx(
            spark=spark, root=run_dir, seed=args.seed, seconds=args.seconds,
            size=workloads.FULL if args.size == "full" else workloads.TINY,
            tracer=tracer, status=status,
        )
        with PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            res = workloads.WORKLOADS[args.workload](ctx)
        print(json.dumps({"perfbench": "session", "workload": args.workload, "seed": args.seed,
                          "seconds": args.seconds, "trace": args.trace, "size": args.size, **shape}))
        res.detail.update(session_start_s=session_s, setup_s=session_s + res.setup_s,
                          peak_rss_mb=rss.peak_mb, attempted=res.attempted, failed=res.failed,
                          errors=res.errors)
        print(json.dumps({"perfbench": "detail", "workload": args.workload, **res.detail}, default=str))
        if args.trace:
            os.makedirs(OUT, exist_ok=True)
            spans_path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(spans_path)
            tracer.uninstall()
            layers = dict(res.layers, **{"session.start_s": session_s})
            print(json.dumps({"perfbench": "spans", "path": spans_path, "spans": len(tracer.spans)}))
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
        else:
            values = dict(res.e2e, setup_s=session_s + res.setup_s)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        correct = not res.errors
        for err in res.errors:
            print(f"perfbench: correctness: {err}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
