"""``operators.etl`` timed in isolation: the producer transform and the
consumer parse on a cached batch, written to Spark's ``noop`` sink."""

from __future__ import annotations

import time

from perfbench.stats import median
from perfbench.traffic import DOCKER_HOST, Traffic, write_log_input_files

REPEATS = 3
TRANSFORM_FILES, TRANSFORM_PER_FILE = 4, 20_000
PARSE_RECORDS = 40_000
PARSE_MALFORMED_SHARE = 0.01


def _timed_noop(df) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return median(times)


def run(ctx) -> dict[str, float]:
    """Time the v1 transform over generated LOG_INPUT files and the consumer
    parse over generated stream payloads."""
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.config import EngineConfig
    from logspout_kinesis_tests_spark.operators.etl import parse_consumed, quarantine_split
    from logspout_kinesis_tests_spark.schemas import LOG_INPUT, LOGSTASH_V1
    from logspout_kinesis_tests_spark.streaming.pipeline import transform

    spark = ctx.spark
    log_input_dir = ctx.path("etl-input")
    write_log_input_files(
        Traffic(ctx.seed), log_input_dir, 0, TRANSFORM_PER_FILE,
        TRANSFORM_FILES, float, ctx.path("etl-tmp"),
    )
    with ctx.tracer.span("etl.transform"):
        src = spark.read.schema(LOG_INPUT).json(log_input_dir).cache()
        n_src = src.count()
        out = transform(src, EngineConfig(docker_host=DOCKER_HOST))
        transform_s = _timed_noop(out)
        bytes_per_record = out.agg(F.avg(F.length("value"))).first()[0]
        src.unpersist()

    with ctx.tracer.span("etl.parse"):
        traffic = Traffic(ctx.seed, PARSE_MALFORMED_SHARE)
        payloads = [(traffic.stream_payload(g, float),) for g in range(PARSE_RECORDS)]
        raw = spark.createDataFrame(payloads, "value string").repartition(
            spark.sparkContext.defaultParallelism
        ).cache()
        raw.count()
        good, bad = quarantine_split(parse_consumed(raw, LOGSTASH_V1), required=("docker",))
        parse_s = _timed_noop(good)
        quarantined = bad.count()
        raw.unpersist()
    return {
        "etl.transform_records_per_s": n_src / transform_s,
        "etl.parse_records_per_s": PARSE_RECORDS / parse_s,
        "etl.bytes_per_record": bytes_per_record,
        "etl.quarantined": quarantined,
    }
