"""Linkage benchmark: one workload, one closed-loop client, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Workloads are defined in ``workloads.py``; notes on what each measures
are in ``NOTES.md``. Spark runs on ``local[nproc]`` with shuffle
partitions and driver memory derived from the host. Every file the run
writes, Spark's scratch space and temp files included, stays under
``perfbench/.work/`` and is removed at exit. Spark's event log is on in
every run: the engine's task CPU per operation is read from it.

Output: a report line (``{"report": ...}``: host resources, window
labels, every operation's wall and CPU time, wall-time throughput and
latency, correctness details), then the result line ``{"correct",
"attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, measured with tracing off; ``--trace 1``
additionally runs one traced operation and reports the per-layer
metrics (see ``tracing.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_GROUP = "perfbench.op"

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "task_cpu_s": "s",
    "task_cpu_max_s": "s",
    "pairwise_f1": "frac",
    "storage_amplification": "ratio",
    "success_rate": "frac",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temp-file writer of this process and its children
    (Python's tempfile, every JVM's java.io.tmpdir) at the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files here and no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None


def _session(res: dict, work: str, event_dir: str):
    from ai_data_matching_spark.session import build_session
    from tracing import event_log_conf

    conf = {
        "spark.driver.memory": res["driver_memory"],
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **event_log_conf(event_dir),
    }
    return build_session(
        app_name="perfbench",
        master=res["master"],
        shuffle_partitions=res["shuffle_partitions"],
        extra_conf=conf,
    )


def _stop(spark) -> None:
    """Stop the session and the JVM gateway, then wait until every process
    the run started (the JVM, the Python worker daemon and its workers)
    has exited."""
    from pyspark import SparkContext

    from host import alive, process_tree

    started = process_tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"perfbench: processes still running: {started}")
        time.sleep(0.1)


def run(args) -> dict:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from host import PeakRss, bandwidth_window, cpu_jiffies, host_resources, tree_cpu_s

    try:
        import ai_data_matching_spark  # noqa: F401
    except ImportError as exc:
        raise SystemExit(f"perfbench: the engine package is not importable: {exc}")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        res = host_resources()
        window = bandwidth_window()
        event_dir = os.path.join(work, "eventlog")
        ticks0 = cpu_jiffies()
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = _session(res, work, event_dir)
            try:
                session_s = time.perf_counter() - t0
                wl = WORKLOADS[args.workload](spark, work, args.seed)
                wl.setup()
                setup_s = time.perf_counter() - t0
                sc = spark.sparkContext
                op_s, op_cpu, worker_cpu = [], [], []
                t_loop = time.perf_counter()
                while True:
                    # the op's Spark jobs carry its group, for executor CPU
                    sc.setJobGroup(f"{OP_GROUP}{len(op_s)}", "perfbench op")
                    cpu0, workers0, sampler0 = *tree_cpu_s(os.getpid()), rss.cpu_s
                    op_s.append(wl.op())
                    cpu1, workers1 = tree_cpu_s(os.getpid())
                    op_cpu.append(cpu1 - cpu0 - (rss.cpu_s - sampler0))
                    worker_cpu.append(workers1 - workers0)
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    if wl.loop_done(time.perf_counter() - t_loop, args.seconds):
                        break
                check = wl.check()
                # every timed operation plus the correctness check
                attempted, failed = len(op_s) + 1, int(not check["ok"])
                if args.trace:
                    from tracing import Tracer

                    tracer = Tracer(spark, barrier=args.workload == "er_batch")
                    traced_s, untraced_s = wl.traced_op(tracer)
            finally:
                _stop(spark)
        hz = os.sysconf("SC_CLK_TCK")
        window.update({f"{k}_s": (v - ticks0[k]) / hz for k, v in cpu_jiffies().items()})
        out = wl.results()
        from tracing import group_task_metrics

        groups = group_task_metrics(event_dir)
        executor_cpu = [
            groups.get(f"{OP_GROUP}{i}", {}).get("cpu_s", 0.0) for i in range(len(op_s))
        ]
        task_cpu = [e + w for e, w in zip(executor_cpu, worker_cpu)]
        layers = None
        if args.trace:
            from tracing import layer_metrics

            layers = layer_metrics(tracer, groups)
            layers["trace.untraced_op_s"] = untraced_s
            layers["trace.traced_op_s"] = traced_s
            layers["trace.overhead_frac"] = traced_s / untraced_s - 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "task_cpu_s": statistics.median(task_cpu),
        "task_cpu_max_s": max(task_cpu),
        "pairwise_f1": check["pairwise_f1"],
        "storage_amplification": out["storage_amplification"],
        "success_rate": 1 - failed / attempted,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "host": res,
        "window": window,
        "setup": {"session_s": session_s, **wl.setup_phases},
        "error_rate": failed / attempted,
        "op_s": op_s,
        "op_cpu_s": op_cpu,
        "op_executor_cpu_s": executor_cpu,
        "op_worker_cpu_s": worker_cpu,
        "op_task_cpu_s": task_cpu,
        "sampler_cpu_s": rss.cpu_s,
        "check": check,
        **out["report"],
        "e2e": e2e,
    }
    if layers is not None:
        report["layers"] = layers
        from tracing import layer_unit

        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, HERE)
    out = run(args)
    print(json.dumps({"report": out["report"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
