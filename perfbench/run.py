"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_job --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). A summary with the error rate and the host load goes to
standard error and is appended to ``.perfbench_work/runs.jsonl``; a
traced run also writes its spans there. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WORKLOAD_NAMES = ("crawl_job", "spatial_queries", "stream_ingest")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "call_p50_s": "s",
}

PER_LAYER = {
    "setup.first_s": "s",
    "trace.call_p50_s": "s",
    "trace.span_bookkeeping_s": "s",
    "session.jobs": "count",
    "session.tasks": "count",
    "session.tasks_failed": "count",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.no_task_s": "s",
    "sources.read_s": "s",
    "jobs.partition_wall_s.p50": "s",
    "jobs.partition_wall_s.max": "s",
    "jobs.output_bytes_per_page": "bytes",
    "jobs.partitions_resumed": "count",
    "snapshot.s": "s",
    "snapshot.rows_kept_frac": "ratio",
    "pages.extract_s": "s",
    "pages.addrs_per_page": "ratio",
    "text.extract_pages_per_s": "1/s",
    "geocode_kernel.s": "s",
    "geocode_kernel.rows_per_s": "1/s",
    "geocode.index_build_s": "s",
    "tiling.udf_s": "s",
    "h3.cells_per_s": "1/s",
    "s2.cells_per_s": "1/s",
    **{
        f"spatial.{q}{suffix}": unit
        for q in ("pip_grid", "pip_h3", "knn_h3", "knn_grid", "rollup")
        for suffix, unit in (
            ("_s", "s"), (".tasks", "count"), (".shuffle_write_bytes", "bytes"),
            (".no_task_s", "s"), (".output_rows", "count"),
        )
    },
    "spatial.pip.hits_per_point": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.dup_rows_dropped": "count",
}


def _env(work: str) -> None:
    """Keep every file the run makes inside ``work``, let Python workers
    import the package from any working directory, and leave the
    program's own configuration alone."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ.pop("NWSPARK_JOB_CONCURRENCY", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the session is stopped and
    # every process the run started is waited for on every path out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness
    from workloads import WORKLOADS  # imports the package: fails before any file is made

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)  # before the session starts: the JVM and its workers read it
    harness.adopt_orphans()
    load = harness.LoadSampler()
    tracer = harness.Tracer(enabled=bool(args.trace))
    try:
        metrics, loop, record = _run(args, work, tracer, WORKLOADS[args.workload])
    finally:
        harness.reap_children()
        shutil.rmtree(work, ignore_errors=True)
    record.update(load.close())
    if args.trace:
        tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
    with open(os.path.join(work_root, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record), file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


def _run(args, work: str, tracer, workload_cls):
    """Set up SETUP_REPS times, run the closed loop, and in a traced run
    the per-layer measurements; returns (metrics, loop, run record)."""
    import harness
    from workloads import Ctx

    from nominatimwrapper_spark.session import get_spark

    events = os.path.join(work, "events")
    extra = harness.event_log_conf(events) if args.trace else None
    spark = wl = None
    try:
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is None:
                spark = get_spark(
                    master=harness.MASTER, app_name=f"perfbench-{args.workload}",
                    extra_conf=extra,
                )
                spark.sparkContext.setLogLevel("ERROR")
                wl = workload_cls(
                    Ctx(spark=spark, work=work, seed=args.seed, tracer=tracer, tiny=args.tiny)
                )
            wl.setup(os.path.join(work, f"setup{rep}"), warm=rep == 0)
            setups.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)

        loop = harness.closed_loop(wl.call, args.seconds)
        lat = loop.latencies()
        if args.trace:
            metrics = wl.layers()
            metrics["setup.first_s"] = setups[0]
            metrics["trace.call_p50_s"] = harness.median(lat)
            metrics["trace.span_bookkeeping_s"] = tracer.bookkeeping_s
        else:
            metrics = {
                "setup_s": harness.median(setups),
                "ops_per_s": loop.ops_per_s(),
                "call_p50_s": harness.median(lat),
            }
    finally:
        harness.stop_session(spark)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "calls": len(loop.calls), "latency_samples": len(lat),
        "attempted": loop.attempted, "failed": loop.failed,
        "error_rate": loop.failed / loop.attempted, "setups_s": setups,
        "latencies_s": [round(x, 3) for x in lat][:50],
        **({"per_query_s": wl.per_query} if hasattr(wl, "per_query") else {}),
    }
    if args.trace:
        # the event log is complete once the session has stopped
        log = harness.EventLog(events)
        per_call = log.counters([s for s in tracer.spans if s.name in wl.CALL_SPANS])
        for k, v in per_call.items():
            metrics[f"session.{k}"] = v / len(loop.calls)
        for q in getattr(wl, "QUERY_SPANS", ()):
            spans = tracer.named(f"spatial.{q}")
            c = log.counters(spans)
            for k in ("tasks", "shuffle_write_bytes", "no_task_s"):
                metrics[f"spatial.{q}.{k}"] = c[k] / max(1, len(spans))
        record["self_s"] = {
            s.name: round(tracer.self_time(s), 4) for s in tracer.spans if s.parent is None
        }
    return metrics, loop, record


if __name__ == "__main__":
    sys.exit(main())
