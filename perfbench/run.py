#!/usr/bin/env python3
"""Benchmark of the restore-and-replay engine.

    python3 perfbench/run.py --workload sink_rw --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans of the run are
written to .perfbench_out/. Workloads and metrics are described in
BENCHMARK.json and perfbench/design.json.

Everything the run writes lives under .perfbench_work/<workload>-<pid>/
(temp files, Spark local dirs, warehouse) and is removed at exit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dynamodb_pitr_restore_cdc_spark"
MAX_CPUS = 4
# rounds per run at least, so medians drop one slow round
MIN_ROUNDS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--tamper", choices=("drop", "alter"),
                    help="drop or alter one output row before each gate (self-test)")
    return ap.parse_args(argv)


def pin_environment(work: str, cpus: int) -> None:
    """Keep every temp file, Spark dir and warehouse under `work`, and let
    Python workers import the package wherever the run starts from."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="2g",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                # no hsperfdata file in /tmp: the JVM writes nothing outside `work`
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def round_layers(rd: dict) -> dict:
    """Per-layer numbers of one round, from its leaf spans."""
    from spans import union_s

    leaves = rd["leaves"]
    work = [leaf["spark"] for leaf in leaves if "spark" in leaf]
    progress = [p for leaf in leaves for p in leaf["progress"]]
    in_jobs = union_s([iv for w in work for iv in w["intervals"]])
    phase = {
        k: sum(p["ms"].get(k, 0) for p in progress) / 1000.0
        for k in ("triggerExecution", "addBatch", "getBatch", "latestOffset",
                  "queryPlanning", "walCommit", "commitOffsets")
    }
    trigger = phase.pop("triggerExecution")
    return {
        "spark.jobs": sum(w["jobs"] for w in work),
        "spark.stages": sum(w["stages"] for w in work),
        "spark.tasks": sum(w["tasks"] for w in work),
        "spark.failed_tasks": sum(w["failed_tasks"] for w in work),
        "spark.job_s": in_jobs,
        # time inside the calls that no job covers; the benchmark's own
        # work between calls (tracer reads, gates, listings) is left out
        "spark.gap_s": sum(leaf["wall_s"] for leaf in leaves) - in_jobs,
        "spark.executor_run_s": sum(w["executor_run_ms"] for w in work) / 1000.0,
        "spark.shuffle_write_bytes": sum(w["shuffle_write_bytes"] for w in work),
        "spark.spill_bytes": sum(w["spill_bytes"] for w in work),
        "udf.python_s": sum(w["python_s"] for w in work),
        "udf.python_boot_s": sum(w["python_boot_s"] for w in work),
        "udf.bytes_sent": sum(w["python_bytes_sent"] for w in work),
        "stream.batches": len(progress),
        "stream.fixed_share": (trigger - phase["addBatch"]) / trigger if trigger else 0.0,
        "stream.lifecycle_s": (
            sum(leaf["wall_s"] for leaf in leaves if leaf["progress"]) - trigger
        ),
        **{f"stream.{k}_s": v for k, v in phase.items()},
    }


def count_leaks(spark, tmp: str) -> dict:
    return {
        "leak.active_streams": len(spark.streams.active),
        "leak.temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
        "leak.temp_dirs": len(os.listdir(tmp)),
    }


def release(spark) -> None:
    """Stop what the engine left running, so the session ends clean."""
    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted

    for q in spark.streams.active:
        q.stop()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    release_persisted()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


def run(args, work: str, spec: dict, cpus: int) -> dict:
    t0 = time.perf_counter()
    from dynamodb_pitr_restore_cdc_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    from spans import ProgressLog, Tracer
    from workloads import WORKLOADS, Ctx, median

    log = ProgressLog()
    spark.streams.addListener(log)
    tracer = Tracer(spark, bool(args.trace), log)
    tracer.record("session.get_spark", "session", session_s)
    ctx = Ctx(spark, tracer, os.path.join(work, "data"), args.seed, args.tiny, args.tamper)
    workload = WORKLOADS[args.workload](ctx)
    e2e, layers, rounds = {}, {"setup.session_s": session_s}, []
    try:
        with tracer.span("sources.inputs", "sources") as s_in:
            os.makedirs(ctx.work)
            workload.prepare()
        with tracer.span("warmup", "warmup", leaf=False) as s_wu:
            r = workload.warmup()  # the first measured round
        layers["setup.inputs_s"] = s_in["wall_s"]
        layers["setup.warmup_s"] = s_wu["wall_s"]
        e2e["setup_s"] = session_s + s_in["wall_s"] + s_wu["wall_s"]

        start = time.perf_counter()
        while True:
            rounds.append(workload.round(r))
            r += 1
            elapsed = time.perf_counter() - start
            typical = median([rd["wall"] for rd in rounds])
            if len(rounds) >= MIN_ROUNDS and (args.trace or elapsed + typical > args.seconds):
                break
        print(f"rounds: {[round(rd['wall'], 3) for rd in rounds]}", file=sys.stderr)
        e2e["round_s"] = median([rd["wall"] for rd in rounds])
        extra = workload.finish(rounds)
        if args.trace:
            per_round = [round_layers(rd) for rd in rounds]
            for key in per_round[0]:
                layers[key] = median([pr.get(key, 0) for pr in per_round])
            layers.update(extra)
    except Exception as e:  # noqa: BLE001 — reported as a failed operation
        ctx.attempted += 1
        ctx.failures.append(f"workload aborted: {type(e).__name__}: {e}"[:500])
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
        layers.update(count_leaks(spark, os.environ["TMPDIR"]))
        release(spark)
        spark.streams.removeListener(log)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"))
        stop_spark(spark)

    for f in ctx.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"gates: {ctx.gates}", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = layers if args.trace else e2e
    if args.trace:
        # layers only another workload loads are idle here: they read 0
        idle = tuple(p for w in WORKLOADS.values() if w is not type(workload) for p in w.OWN)
        for m in wanted:
            if m["name"].startswith(idle):
                got.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing and not ctx.failures:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    return {
        "correct": not ctx.failures,
        "attempted": max(ctx.attempted, 1),
        "failed": len(ctx.failures),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        pin_environment(work, cpus)
        result = run(args, work, spec, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
