"""``consume``: the consumer path plus stream analytics.

``pull_stream`` reads nproc shards through a stand-in ``get_records`` client
that builds each record from the seed and its position and exposes it on a
wall-clock schedule.  Records flow through ``parse_consumed`` ->
``quarantine_split`` (about 1% malformed) -> ``dedup_within_watermark``
(about 2% redelivered) -> per-container, per-minute record and error counts
over an event-time window with a watermark, in update mode, into a collector
owned by the benchmark.

Phases, after untimed warm-up queries:

1. closed loop: ``DRAINS`` queries in turn each drain a slice of a backlog
   that exists before the phase starts, as fast as they can.  The source
   admits a fresh query's whole backlog in its first micro-batch, so each
   drain is one batch; ``records_per_s`` is the median of their rates;
2. open loop: positions appear at ``RATE`` while one more query runs at a
   ``TRIGGER_S`` trigger.  A record's latency runs from its
   creation to the arrival at the collector of the results of the
   micro-batch that read it.
"""

from __future__ import annotations

import calendar
import json
import os
import time

from perfbench import checks, etl_probe, plans_probe
from perfbench.clients import Schedule, scheduled_shard_client
from perfbench.harness import (
    Context,
    batch_rates,
    pipeline_metrics,
    progress_list,
    run_query_until,
)
from perfbench.stats import backlog_growing, median, percentile, read_stats, tail
from perfbench.traffic import STREAM, Traffic

USES_PULL_SOURCE = True
RATE = 4_000  # open-loop records/s: a third of the seed's drain rate here
#: Open-loop trigger interval.  At the engine's 1 s flush interval the
#: per-batch state commit (about 1 s on a 4-core box) keeps the consumer
#: running batches back to back, where latency amplifies every slowdown of
#: the host; at 2 s each batch finishes inside its interval.
TRIGGER_S = 2
DRAINS, DRAIN_RECORDS = 4, 25_000
#: Untimed warm-up queries: after one, the drain rate still climbs from
#: query to query while the JVM compiles the decode and state paths.
WARMUPS, WARMUP_RECORDS = 2, 10_000
WATERMARK = "10 seconds"
MALFORMED_SHARE, REDELIVERED_SHARE = 0.01, 0.02


class Collector:
    """``foreachBatch`` sink: keeps the newest count per (window, container)
    and when each micro-batch's results arrived."""

    def __init__(self):
        self.final: dict = {}
        self.arrival: dict[int, float] = {}

    def __call__(self, df, batch_id: int) -> None:
        rows = df.collect()
        self.arrival[batch_id] = time.time()
        for r in rows:
            minute = calendar.timegm(r["w"]["start"].timetuple()) // 60
            self.final[(minute, r["container"])] = (r["n"], r["errors"] or 0)


def _start(ctx: Context, name: str, schedule: Schedule, positions: range, trigger: dict):
    """Start the consumer query over stream ``positions``."""
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.etl import parse_consumed, quarantine_split
    from logspout_kinesis_tests_spark.schemas import LOGSTASH_V1
    from logspout_kinesis_tests_spark.streaming.joins import dedup_within_watermark
    from logspout_kinesis_tests_spark.streaming.pull_source import pull_stream

    shards = int(os.environ["SPARK_GRAFT_CPUS"])
    src = pull_stream(
        ctx.spark,
        scheduled_shard_client,
        {
            "stats_dir": ctx.path(f"stats-{name}"),
            "seed": ctx.seed,
            "malformed_share": MALFORMED_SHARE,
            "redelivered_share": REDELIVERED_SHARE,
            "shards": shards,
            "schedule": schedule,
            "base": positions.start,
            "limit": positions.stop,
        },
        stream=STREAM,
        # admits twice what arrives per trigger; drains are uncapped
        max_records_per_fetch=2 * RATE * TRIGGER_S // shards,
    )
    parsed = parse_consumed(src, LOGSTASH_V1).observe("pulled", F.count(F.lit(1)).alias("n"))
    # A well-formed record must carry ``docker``, the object the windows key
    # on.  With the default (every top-level field NULL) a truncated payload
    # that parses partially, up to ``docker``, would pass as good.
    good, _quarantined = quarantine_split(parsed, required=("docker",))
    events = good.observe("good", F.count(F.lit(1)).alias("n")).select(
        F.col("parsed.docker.name").alias("container"),
        F.to_timestamp(F.col("parsed.`@timestamp`")).alias("ts"),
        F.col("parsed.message").alias("message"),
        (F.col("parsed.docker.source") == "stderr").cast("int").alias("is_error"),
    )
    deduped = dedup_within_watermark(
        events, ["container", "ts", "message"], ts_col="ts", max_delay=WATERMARK
    )
    counts = deduped.groupBy(F.window("ts", "1 minute").alias("w"), "container").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_error").alias("errors"),
    )
    collector = Collector()
    query = (
        counts.writeStream.outputMode("update")
        .foreachBatch(collector)
        .option("checkpointLocation", ctx.path(f"ckpt-{name}"))
        .trigger(**trigger)
        .start()
    )
    return query, collector


def _pulled(progress: list[dict]) -> int:
    return sum(p["numInputRows"] for p in progress)


def _consumed(query) -> int:
    """Positions the query has finished, from its latest progress offsets."""
    p = query.lastProgress
    if p is None:
        return 0
    return sum(checks.offsets(json.loads(p.json)["sources"][0]["endOffset"]).values())


def _consume(ctx, name, schedule, positions, trigger, timeout_s):
    """Run one query until it has finished every position of ``positions``."""
    q, collector = _start(ctx, name, schedule, positions, trigger)
    run_query_until(q, lambda: _consumed(q) >= len(positions), timeout_s)
    return progress_list(q), collector


def _record_latencies_ms(progress, collector, schedule, base: int, shards: int) -> list[float]:
    """Per record: when the results of its micro-batch reached the collector,
    minus when the record was created."""
    out = []
    for p in progress:
        arrival = collector.arrival[p["batchId"]]
        src = p["sources"][0]
        start = checks.offsets(src["startOffset"]) if src.get("startOffset") else {}
        for shard, end in checks.offsets(src["endOffset"]).items():
            s = int(shard.rsplit("-", 1)[1])
            out.extend(
                (arrival - schedule.due(base + seq * shards + s)) * 1e3
                for seq in range(start.get(shard, 0), end)
            )
    return out


def _failures(ctx, traffic, schedule, positions, progress, collector) -> int:
    """Records of one query that the windowed counts, the quarantine count or
    the pulled count show wrong, each counted once."""
    expected, quarantined = checks.expected_windows(traffic, positions, schedule.due)
    got_quarantined = sum(
        p["observedMetrics"]["pulled"]["n"] - p["observedMetrics"]["good"]["n"]
        for p in progress
        if "observedMetrics" in p
    )
    failed = max(
        checks.count_failures(
            {**collector.final, "quarantined": (got_quarantined, 0)},
            {**expected, "quarantined": (quarantined, 0)},
        ),
        abs(_pulled(progress) - len(positions)),
    )
    if failed:
        ctx.log(
            f"consume [{positions.start}, {positions.stop}): {failed} failures "
            f"(quarantined {got_quarantined}, expected {quarantined})"
        )
    return failed


def run(ctx: Context) -> dict:
    traffic = Traffic(ctx.seed, MALFORMED_SHARE, REDELIVERED_SHARE)
    backlog = DRAINS * DRAIN_RECORDS
    open_s = ctx.seconds * 0.75
    total = backlog + round(open_s * RATE)
    open_path = ctx.path("t_open")
    schedule = Schedule(backlog, total, RATE, time.time(), open_path)
    drain = {"processingTime": "0 seconds"}

    with ctx.tracer.span("pipeline.warmup"):
        for k in range(WARMUPS):
            positions = range(k * WARMUP_RECORDS, (k + 1) * WARMUP_RECORDS)
            _consume(ctx, f"warm{k}", schedule, positions, drain, 150)

    queries = []  # (positions, progress, collector)
    with ctx.tracer.span("pipeline.drain"):
        for k in range(DRAINS):
            positions = range(k * DRAIN_RECORDS, (k + 1) * DRAIN_RECORDS)
            queries.append((positions, *_consume(ctx, f"drain{k}", schedule, positions, drain, 150)))
    rates = [r for _, progress, _ in queries for r in batch_rates(progress)]

    with ctx.tracer.span("pipeline.open_loop"):
        positions = range(backlog, total)
        q, col = _start(ctx, "open", schedule, positions, {"processingTime": f"{TRIGGER_S} seconds"})
        t_open = time.time() + 0.5
        with open(open_path + ".tmp", "w") as f:
            f.write(repr(t_open))
        os.rename(open_path + ".tmp", open_path)
        run_query_until(q, lambda: _consumed(q) >= len(positions), open_s + 60)
        open_progress = progress_list(q)
        queries.append((positions, open_progress, col))
    ctx.memory.stop()

    with ctx.tracer.span("check.outputs"):
        failed = sum(_failures(ctx, traffic, schedule, *query) for query in queries)
        lat = _record_latencies_ms(
            open_progress, col, schedule, backlog, int(os.environ["SPARK_GRAFT_CPUS"])
        )

    samples, done = [], 0
    for p in open_progress:
        done += p["numInputRows"]
        t_end = checks.progress_end_time(p)
        samples.append((t_end, schedule.available(t_end) - backlog - done))
    growing = backlog_growing(samples, RATE)
    if growing:
        ctx.log(f"open-loop backlog grows at {RATE} records/s: above what the pipeline sustains")
    e2e = {
        "records_per_s": median(rates),
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": tail(lat, 95),
    }
    ctx.log(
        f"consume: drain rates {[round(r) for r in rates]}; open loop {len(positions)} records "
        f"at {RATE}/s, {len(lat)} latency samples over {len(open_progress)} batches; {e2e}"
    )
    layers = {}
    if ctx.trace:
        layers.update(pipeline_metrics(open_progress))
        layers["pipeline.backlog_end"] = samples[-1][1] if samples else 0
        layers["pipeline.backlog_growing"] = int(growing)
        calls = [c for k in range(DRAINS) for c in read_stats(ctx.path(f"stats-drain{k}"), "pull")]
        calls += read_stats(ctx.path("stats-open"), "pull")
        layers.update(
            checks.pull_metrics(calls, open_progress, lambda t: schedule.available(t) - backlog)
        )
        layers.update(checks.state_metrics([p for _, pr, _ in queries for p in pr]))
        layers["latency.samples"] = len(lat)
        layers["latency.batches"] = len(open_progress)
        layers.update(etl_probe.run(ctx))
        layers.update(plans_probe.run(ctx))
    return {"attempted": total, "failed": failed, "e2e": e2e, "layers": layers}
