"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 20 --trace 0

Run from the repository root. Starts one Spark session through the
package's ``session.build_spark`` at local[nproc], generates the
workload's inputs from the seed into a fresh directory under
``.perfbench_tmp/``, runs an untimed warm-up, then the timed phase, checks
the outputs, stops everything it started, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With ``--trace 1`` the
metrics are the per-layer ones and the spans and Spark event-log summary
are also written to ``.perfbench_out/``.
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

WORKLOADS = ("cdc_catchup", "cdc_trickle", "corpus_refresh")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="Spark task threads (default: the cores this process may use)")
    return ap.parse_args(argv)


def configure_environment(work: str, trace: bool, cpus: int) -> str | None:
    """Launch configuration for the Spark JVM; must run before the session
    starts. Keeps every file Spark and Python write inside ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "--driver-java-options", f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
        f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'"{a}"' if " " in a else a for a in args) + " pyspark-shell"
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    args = parse_args(sys.argv[1:])
    sys.path.insert(0, ROOT)
    try:
        import k8s_vectordb_sync_spark  # noqa: F401
        from k8s_vectordb_sync_spark.session import build_spark
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import harness

    cpus = args.cpus or len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    run_id = os.path.basename(work)
    proc_start = harness.process_start_epoch()
    spark = None
    try:
        log_dir = configure_environment(work, bool(args.trace), cpus)
        tracer = harness.Tracer(bool(args.trace), args.workload, run_id)
        t = time.time()
        spark = build_spark(app_name=f"perfbench-{args.workload}")
        session_start_s = time.time() - t
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.sc = spark.sparkContext
        ctx = {
            "spark": spark, "seed": args.seed, "seconds": args.seconds, "work": work,
            "tracer": tracer, "cpus": cpus, "proc_start": proc_start,
        }
        result = run_workload(args.workload, ctx)
        if args.trace:
            # recorded, not reported: it spreads too far between runs to bound
            jvm = harness.jvm_pids()
            result["peak_rss_mb"] = harness.peak_rss_mb(jvm[0]) if jvm else 0.0
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics = named_metrics("per_layer", traced_layers(args, result, tracer, log_dir, cpus,
                                                               session_start_s))
        else:
            metrics = named_metrics("end_to_end", result["metrics"])
    except Exception as exc:
        # the session or the workload's set-up failed: every operation of a
        # round fails, and the result says so
        print(f"perfbench: {args.workload} failed: {exc!r}", file=sys.stderr, flush=True)
        result = failed_result(args, proc_start)
        metrics = named_metrics("per_layer" if args.trace else "end_to_end", result["metrics"])
    finally:
        if spark is not None:
            stop_spark(spark)
        leftover = [p for p in harness.descendants(os.getpid()) if p != os.getpid()]
        if leftover:
            print(f"perfbench: processes still running after stop: {leftover}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print(json.dumps({
        "correct": bool(result["correct"]), "attempted": int(result["attempted"]),
        "failed": int(result["failed"]), "metrics": metrics,
    }, separators=(",", ":")))
    return 0


def run_workload(workload: str, ctx: dict) -> dict:
    if workload == "corpus_refresh":
        import corpus
        return corpus.corpus_refresh(ctx)
    import cdc
    return getattr(cdc, workload)(ctx)


def failed_result(args, proc_start: float) -> dict:
    """The result of a run whose session or set-up raised: one round's
    operations, all failed."""
    import cdc
    import corpus

    ops = {
        "cdc_catchup": cdc.CATCHUP_FILES,
        "cdc_trickle": cdc.trickle_timed_files(args.seconds) * cdc.TRICKLE_PER_FILE,
        "corpus_refresh": corpus.OPS_PER_ROUND,
    }[args.workload]
    return {"correct": False, "attempted": ops, "failed": ops,
            "metrics": {"setup_s": time.time() - proc_start}}


def traced_layers(args, result, tracer, log_dir, cpus, session_start_s) -> dict:
    """Per-layer values of a traced run; also writes the spans, self times
    and the Spark event-log summary to .perfbench_out/."""
    import harness

    layers = dict(result["layers"], **{"session.start_s": session_start_s})
    spark_groups = harness.read_event_log(log_dir, result["timed_from"], result["timed_to"], cpus)
    rounds = max(1, result["rounds"])
    for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "narrow_stages"):
        layers[f"spark.{key}"] = sum(g[key] for g in spark_groups.values()) / rounds
    if args.workload == "corpus_refresh":
        layers["dedup.cluster_jobs"] = spark_groups.get("dedup.dup_clusters", {}).get("jobs", 0) / rounds
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "run": tracer.run_id,
            "layers": layers, "self_times": tracer.self_times(), "spark_by_span": spark_groups,
            "end_to_end": result["metrics"], "peak_rss_mb": result["peak_rss_mb"],
            "spans": tracer.spans,
        }, fh, indent=1)
    return layers


def named_metrics(kind: str, values: dict) -> dict:
    """Every metric of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    list with its unit; one the run did not reach reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in json.load(fh)[kind]}


if __name__ == "__main__":
    sys.exit(main())
