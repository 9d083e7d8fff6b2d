"""``ship``: the producer path.

Docker log records are written as LOG_INPUT JSON files and run through
``produce_pipeline`` (file source -> ``logstash_message`` v1 ->
``serialize_json`` -> ``make_batch_writer``) into a stand-in ``put_records``
client that refuses about 2% of records on their first attempt.

Phases, after an untimed warm-up drain:

1. closed loop: drain a backlog written before the phase starts, one file per
   micro-batch (``availableNow``) -> ``records_per_s``, the median batch rate;
2. open loop: a generator process writes one file per 100 ms tick at a fixed
   rate while the query runs at the engine's default flush-interval trigger
   -> ``latency_p50_ms``, ``latency_p95_ms``.  Ticks are finer than the
   trigger so each batch holds records created across the whole interval.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import checks, etl_probe
from perfbench.clients import refusing_put_client
from perfbench.harness import (
    Context,
    batch_rates,
    pipeline_metrics,
    progress_list,
    run_query_until,
)
from perfbench.stats import (
    backlog_growing,
    lateness_ms,
    latencies_ms,
    median,
    percentile,
    read_stats,
    tail,
)
from perfbench.traffic import DOCKER_HOST, STREAM, Traffic, write_log_input_files

USES_PULL_SOURCE = False
RATE = 8_000  # open-loop records/s: about half the seed's drain rate here
TICK_S = 0.1
BACKLOG_FILES = 6
BACKLOG_PER_FILE = 20_000
#: Large enough that the drain batches' rates no longer rise batch by batch.
WARMUP_FILES, WARMUP_PER_FILE = 4, 20_000
LOCAL1_FILES = 3


def generator_main(seed, first, ticks, t_open, src_dir, tmp_dir, out_path) -> None:
    """Open-loop generator process: one file per tick, on a wall-clock
    schedule that does not slow when the pipeline does."""
    traffic = Traffic(seed)
    per_tick = round(RATE * TICK_S)
    scheduled, actual = [], []
    for k in range(ticks):
        due = t_open + (k + 1) * TICK_S
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        lo = first + k * per_tick
        write_log_input_files(
            traffic, src_dir, lo, per_tick, 1, lambda p: t_open + (p - first) / RATE, tmp_dir
        )
        scheduled.append(due)
        actual.append(time.time())
    with open(out_path, "w") as f:
        json.dump({"scheduled": scheduled, "actual": actual}, f)


def _drain(ctx: Context, src: str, name: str, stats_dir: str):
    from logspout_kinesis_tests_spark.config import EngineConfig
    from logspout_kinesis_tests_spark.streaming.pipeline import produce_pipeline

    cfg = EngineConfig(stream_name=STREAM, docker_host=DOCKER_HOST)
    factory = refusing_put_client(stats_dir, ctx.seed)
    t0 = time.perf_counter()
    q = produce_pipeline(
        ctx.spark, src, ctx.path(f"ckpt-{name}"), cfg, factory, max_files_per_trigger=1
    )
    if not q.awaitTermination(150):
        q.stop()
        raise TimeoutError(f"{name} drain did not finish")
    if q.exception() is not None:
        raise RuntimeError(f"{name} drain failed: {q.exception()}")
    return time.perf_counter() - t0, progress_list(q)


def run(ctx: Context) -> dict:
    from logspout_kinesis_tests_spark.config import EngineConfig
    from logspout_kinesis_tests_spark.streaming.pipeline import produce_pipeline

    traffic = Traffic(ctx.seed)
    tmp = ctx.path("gen-tmp")
    os.makedirs(tmp, exist_ok=True)
    backlog = BACKLOG_FILES * BACKLOG_PER_FILE
    t_backlog = time.time()
    created_backlog = lambda p: t_backlog - (backlog - p) / RATE  # noqa: E731
    warm_first = 10**9  # far from the measured positions
    write_log_input_files(
        traffic, ctx.path("warm"), warm_first, WARMUP_PER_FILE, WARMUP_FILES, lambda p: t_backlog, tmp
    )
    write_log_input_files(traffic, ctx.path("backlog"), 0, BACKLOG_PER_FILE, BACKLOG_FILES, created_backlog, tmp)

    with ctx.tracer.span("pipeline.warmup"):
        _drain(ctx, ctx.path("warm"), "warm", ctx.path("stats-warm"))

    # closed loop: drain the backlog
    with ctx.tracer.span("pipeline.drain"):
        drain_s, drain_progress = _drain(ctx, ctx.path("backlog"), "drain", ctx.path("stats-drain"))

    # open loop at RATE
    open_s = max(4.0, ctx.seconds * 0.5)
    ticks = round(open_s / TICK_S)
    per_tick = round(RATE * TICK_S)
    n_open = ticks * per_tick
    first = backlog
    cfg = EngineConfig(stream_name=STREAM, docker_host=DOCKER_HOST)
    factory = refusing_put_client(ctx.path("stats-open"), ctx.seed)
    os.makedirs(ctx.path("open"), exist_ok=True)
    with ctx.tracer.span("pipeline.open_loop"):
        q = produce_pipeline(
            ctx.spark,
            ctx.path("open"),
            ctx.path("ckpt-open"),
            cfg,
            factory,
            trigger={"processingTime": f"{cfg.flush_interval_s} seconds"},
            max_files_per_trigger=10**6,
        )
        t_open = time.time() + 1.0
        gen_args = [ctx.seed, first, ticks, t_open, ctx.path("open"), tmp, ctx.path("lateness.json")]
        gen = subprocess.Popen(
            [sys.executable, "-m", "perfbench.ship", json.dumps(gen_args)], cwd=ctx.root
        )
        ctx.memory.exclude(gen.pid)  # benchmark code, not the program's memory
        try:
            if gen.wait(open_s + 60) != 0:
                raise RuntimeError("generator process failed")
            processed_at_gen_end = sum(p["numInputRows"] for p in progress_list(q))
            run_query_until(
                q, lambda: sum(p["numInputRows"] for p in progress_list(q)) >= n_open, 60
            )
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        open_progress = progress_list(q)
    ctx.memory.stop()

    with ctx.tracer.span("check.outputs"):
        created_open = lambda p: t_open + (p - first) / RATE  # noqa: E731
        drain_calls = read_stats(ctx.path("stats-drain"), "put")
        open_calls = read_stats(ctx.path("stats-open"), "put")
        failed = checks.ship_failures(traffic, drain_calls, range(0, backlog), BACKLOG_PER_FILE, created_backlog)
        failed += checks.ship_failures(traffic, open_calls, range(first, first + n_open), per_tick, created_open)
        seen = checks.first_accepted_at(open_calls)
        lat = latencies_ms({p: created_open(p) for p in range(first, first + n_open)}, seen)
        with open(ctx.path("lateness.json")) as f:
            gen_log = json.load(f)
        late = lateness_ms(gen_log["scheduled"], gen_log["actual"])

    samples = []
    done = 0
    for p in open_progress:
        done += p["numInputRows"]
        t_end = checks.progress_end_time(p)
        samples.append((t_end, max(0, min(n_open, (t_end - t_open) * RATE) - done)))
    growing = backlog_growing(samples, RATE)
    if growing:
        ctx.log(f"open-loop backlog grows at {RATE} records/s: rate is above what the pipeline sustains")
    rates = batch_rates(drain_progress)
    e2e = {
        "records_per_s": median(rates),
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": tail(lat, 95),
    }
    ctx.log(
        f"ship: drain {backlog} records in {drain_s:.3f}s, batch rates {[round(r) for r in rates]}; "
        f"open loop {n_open} records at {RATE}/s, {len(lat)} latency samples over "
        f"{len(open_progress)} batches; {e2e}"
    )
    layers = {}
    if ctx.trace:
        layers.update(pipeline_metrics(open_progress))
        layers["pipeline.backlog_end"] = max(0, n_open - processed_at_gen_end)
        layers["pipeline.backlog_growing"] = int(growing)
        layers.update(checks.sink_metrics(drain_calls + open_calls))
        layers["generator.lateness_ms_p95"] = percentile(late, 95)
        layers["latency.samples"] = len(lat)
        layers["latency.batches"] = len(open_progress)
        layers.update(etl_probe.run(ctx))
        with ctx.tracer.span("baseline.local1"):
            layers["baseline.local1_records_per_s"] = _local1_baseline(ctx, traffic)
    return {"attempted": backlog + n_open, "failed": failed, "e2e": e2e, "layers": layers}


def _local1_baseline(ctx: Context, traffic: Traffic) -> float:
    """Drain part of the backlog on a single-thread ``local[1]`` session:
    the single-thread baseline, reported but not gated."""
    from logspout_kinesis_tests_spark import session

    files = LOCAL1_FILES
    write_log_input_files(
        traffic, ctx.path("local1"), 0, BACKLOG_PER_FILE, files, float, ctx.path("gen-tmp")
    )
    ctx.spark.stop()
    ctx.spark = session.get_spark(app_name="perfbench-local1", master="local[1]", shuffle_partitions=1)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    _, progress = _drain(ctx, ctx.path("local1"), "local1", ctx.path("stats-local1"))
    return median(batch_rates(progress))


if __name__ == "__main__":
    generator_main(*json.loads(sys.argv[1]))
