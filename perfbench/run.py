"""Log-pipeline benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload ship --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json

Run from the root of a source checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``).  Progress and diagnostics go to standard error.  See
``perfbench/README.md`` for what each workload and metric is and why.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import consume, plans_probe, ship  # noqa: E402
from perfbench.harness import (  # noqa: E402
    Context,
    MemorySampler,
    _descendants,
    prepare_environment,
    setup_session,
)
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {
    "ship": (ship, "producer path: file source, v1 transform and the keyed retrying sink; bypasses the pull source and state"),
    "consume": (consume, "pull source, JSON decode, quarantine, watermark dedup and windowed state; bypasses the producer transform and sink"),
}
RUN_SECONDS = 16

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "records_per_s": ("1/s", "higher", 0.25),
    "latency_p50_ms": ("ms", "lower", 0.25),
    "latency_p95_ms": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

#: name -> (unit, better); README.md says which end-to-end metric each should move
PER_LAYER = {
    "session.import_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "session.ensure_runtime_confs_s": ("s", "lower"),
    "session.register_pull_source_s": ("s", "lower"),
    "session.warm_setup_s": ("s", "lower"),
    "memory.jvm_peak_mb": ("MB", "lower"),
    "memory.python_workers_peak_mb": ("MB", "lower"),
    "pipeline.batches": ("count", "lower"),
    "pipeline.rows_per_batch_p50": ("count", "higher"),
    "pipeline.trigger_ms_p50": ("ms", "lower"),
    "pipeline.add_batch_ms_p50": ("ms", "lower"),
    "pipeline.overhead_ms_p50": ("ms", "lower"),
    "pipeline.latest_offset_ms_p50": ("ms", "lower"),
    "pipeline.query_planning_ms_p50": ("ms", "lower"),
    "pipeline.wal_commit_ms_p50": ("ms", "lower"),
    "pipeline.backlog_end": ("count", "lower"),
    "pipeline.backlog_growing": ("count", "lower"),
    "latency.samples": ("count", "higher"),
    "latency.batches": ("count", "higher"),
    "generator.lateness_ms_p95": ("ms", "lower"),
    "etl.transform_records_per_s": ("1/s", "higher"),
    "etl.parse_records_per_s": ("1/s", "higher"),
    "etl.bytes_per_record": ("bytes", "lower"),
    "etl.quarantined": ("count", "higher"),
    "sink.put_calls": ("count", "lower"),
    "sink.records_per_call": ("count", "higher"),
    "sink.retried_records": ("count", "lower"),
    "sink.attempts_per_record": ("count", "lower"),
    "sink.client_ms": ("ms", "lower"),
    "sink.bytes_out": ("bytes", "lower"),
    "sink.busiest_task_share": ("share", "lower"),
    "pull_source.get_records_calls": ("count", "lower"),
    "pull_source.records_per_call": ("count", "higher"),
    "pull_source.iterator_calls": ("count", "lower"),
    "pull_source.latest_sequences_calls": ("count", "lower"),
    "pull_source.client_ms": ("ms", "lower"),
    "pull_source.lag_records_p95": ("count", "lower"),
    "pull_source.partition_skew": ("ratio", "lower"),
    "state.rows_total_end": ("count", "lower"),
    "state.memory_bytes_peak": ("bytes", "lower"),
    "state.commit_ms_p50": ("ms", "lower"),
    "state.rows_dropped_by_watermark": ("count", "lower"),
    "state.duplicates_dropped": ("count", "higher"),
    **{f"plans.{q}_s": ("s", "lower") for q in plans_probe.QUERIES},
    **{f"plans.{q}_rows": ("count", "higher") for q in plans_probe.QUERIES},
    "plans.mismatched": ("count", "lower"),
    "baseline.local1_records_per_s": ("1/s", "higher"),
    **{f"trace.{layer}_self_s": ("s", "lower") for layer in ("session", "pipeline", "etl", "plans", "check", "baseline")},
    **{f"trace.{name}": (unit, better) for name, (unit, better, _) in END_TO_END.items()},
}


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, (_, why) in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    if spark is not None:
        spark.stop()
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _metrics(names: dict, values: dict) -> dict:
    return {n: {"value": float(values.get(n, 0.0)), "unit": names[n][0]} for n in names}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-manifest", action="store_true")
    args = p.parse_args(argv)
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(manifest(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        p.error("--workload is required")

    module = WORKLOADS[args.workload][0]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(ROOT, work)
    memory = MemorySampler()
    ctx = Context(
        args.seed, args.seconds, bool(args.trace), ROOT, work, Tracer(bool(args.trace)), memory
    )
    try:
        with memory:
            ctx.spark, setup_s, calls, warm_setup_s = setup_session(
                ctx.tracer, T_PROCESS, module.USES_PULL_SOURCE, ctx.path("tmp")
            )
            out = module.run(ctx)
    finally:
        _shutdown(ctx.spark)
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            ctx.tracer.write(
                os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json")
            )
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    jvm_mb, python_mb = memory.peak_mb(lambda s: s[0]), memory.peak_mb(lambda s: s[1])
    e2e = {**out["e2e"], "setup_s": setup_s, "peak_rss_mb": memory.peak_mb()}
    ctx.log(
        f"set-up {setup_s:.3f}s cold, {warm_setup_s:.3f}s warm; peak memory {e2e['peak_rss_mb']:.0f} MB "
        f"(JVM {jvm_mb:.0f} MB, Python workers {python_mb:.0f} MB; "
        f"raw maximum {max(map(sum, memory.samples), default=0) / 1024:.0f} MB)"
    )
    if args.trace:
        layers = {
            **out["layers"],
            "session.warm_setup_s": warm_setup_s,
            "memory.jvm_peak_mb": jvm_mb,
            "memory.python_workers_peak_mb": python_mb,
            **{f"session.{k}_s": v for k, v in calls.items()},
            **{f"trace.{k}_self_s": v for k, v in ctx.tracer.layer_self_times().items()},
            **{f"trace.{k}": v for k, v in e2e.items()},
        }
        metrics = _metrics(PER_LAYER, layers)
    else:
        metrics = _metrics(END_TO_END, e2e)
    failed = int(out["failed"])
    print(
        json.dumps(
            {
                "correct": failed == 0 and not out["layers"].get("plans.mismatched"),
                "attempted": int(out["attempted"]),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
