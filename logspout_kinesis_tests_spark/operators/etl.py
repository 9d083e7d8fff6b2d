"""The reference's record transform, Spark-first — operators A7-A14, A19.

``createLogstashMessage`` (logspoutkinesis.go:231-271) is, in Spark terms,
one nested-struct projection: a single ``select`` that Catalyst constant-folds
and runs inside whole-stage codegen.  The v0/v1 schema switch is a plan-time
constant (resolved at adapter construction, logspoutkinesis.go:84-87), so it
is a Python-level ``if`` choosing between two projection builders — not a
row-level ``F.when`` (the *schema* differs, not the values).

omitempty parity (logspoutkinesis.go:32,34,35): Go's ``json.Marshal`` drops
keys whose value is the type's zero value ("" / empty map).  Spark's
``to_json`` drops NULLs when ``ignoreNullFields=true``.  So the projection
normalizes empty-string / empty-map → NULL *before* serialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.functions.scalars import (
    cid_prefix,
    rfc3339,
    split_image_name,
    split_image_tag,
    strip_leading_slash,
)


def _null_if_empty(col: Column) -> Column:
    """'' → NULL (Go omitempty on string fields)."""
    return F.when(col == "", F.lit(None)).otherwise(col)


def _null_if_empty_map(col: Column) -> Column:
    """empty map → NULL (Go omitempty on map fields)."""
    return F.when(F.size(col) <= 0, F.lit(None)).otherwise(col)


def docker_fields(docker_host: str) -> Column:
    """Build the ``DockerFields`` struct (logspoutkinesis.go:28-36, populated
    at :231-236 and :243-251/:261-269).

    Expects the LOG_INPUT columns (schemas.LOG_INPUT) in scope.
    ``docker_host`` is a plan-time constant from config (env LK_DOCKER_HOST,
    logspoutkinesis.go:81), never empty in practice because the reference
    defaults it to "unknown-docker-host" — but omitempty still applies.
    """
    host = _null_if_empty(F.lit(docker_host))
    return F.struct(
        strip_leading_slash(F.col("container_name")).alias("name"),
        cid_prefix(F.col("container_id")).alias("cid"),
        split_image_name(F.col("image")).alias("image"),
        _null_if_empty(split_image_tag(F.col("image"))).alias("image_tag"),
        F.col("source").alias("source"),
        host.alias("docker_host"),
        _null_if_empty_map(F.col("labels")).alias("labels"),
    )


def logstash_message(
    df: DataFrame,
    docker_host: str = "unknown-docker-host",
    use_v0: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """A7+A12: project LOG_INPUT rows into the nested Logstash document.

    v1 (logspoutkinesis.go:257-270): ``@timestamp, host, message, docker``.
    v0 (logspoutkinesis.go:239-255): ``@timestamp, @source_host, @message,
    @fields.docker``.

    Returns a DataFrame with a single ``msg`` struct column plus the
    partition key (``partition_key`` = docker_host, the PutRecords key at
    logspoutkinesis.go:209).  ``passthrough`` names input columns to carry
    along unchanged (e.g. a record id for differential tests).
    """
    docker = docker_fields(docker_host)
    ts = rfc3339(F.col("time"))
    if use_v0:
        msg = F.struct(
            ts.alias("@timestamp"),
            F.col("hostname").alias("@source_host"),
            F.col("data").alias("@message"),
            F.struct(docker.alias("docker")).alias("@fields"),
        )
    else:
        msg = F.struct(
            ts.alias("@timestamp"),
            F.col("hostname").alias("host"),
            F.col("data").alias("message"),
            docker.alias("docker"),
        )
    return df.select(
        *[F.col(c) for c in passthrough],
        msg.alias("msg"),
        F.lit(docker_host).alias("partition_key"),
    )


def serialize_json(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """A13: struct → JSON string with omitempty parity
    (``json.Marshal``, logspoutkinesis.go:199)."""
    return df.withColumn(
        "value", F.to_json(F.col(msg_col), {"ignoreNullFields": "true"})
    ).drop(msg_col)


def parse_consumed(df: DataFrame, schema, value_col: str = "value") -> DataFrame:
    """A14: consumer-side JSON decode.  PERMISSIVE mode: malformed input
    never fails the query (the Spark analogue of the reference's
    log-and-continue, logspoutkinesis.go:201-216).  Most malformed input,
    including most truncations, yields a struct of NULL fields.  But Spark's
    JSON partial results mean a record can parse *partially*: a v1 payload
    cut right after a key inside its trailing ``docker`` object parses with
    ``@timestamp``/``host``/``message`` set and ``docker`` NULL.  Pass the
    fields a good record must carry to :func:`quarantine_split`'s
    ``required`` to reject such records."""
    return df.withColumn(
        "parsed",
        F.from_json(F.col(value_col).cast("string"), schema, {"mode": "PERMISSIVE"}),
    )


def quarantine_split(
    df: DataFrame,
    parsed_col: str = "parsed",
    required: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """A19: route un-parseable records to a quarantine stream instead of
    muting/skipping (mute latch, logspoutkinesis.go:194-219).

    Returns ``(good, quarantined)``.  The reference logs once and drops;
    we keep the bad rows addressable — at 100 TB, silently dropped records
    are un-debuggable.

    Malformed detection: Spark's PERMISSIVE ``from_json`` yields a struct of
    NULL fields (not a NULL struct) for garbage input, so a record counts as
    quarantined when the struct is NULL **or** every ``required`` field is
    NULL.  Pass the fields a well-formed record must carry (defaults to all
    top-level fields of the parsed struct).
    """
    schema_fields = [f.name for f in df.schema[parsed_col].dataType.fields]
    required = required or tuple(schema_fields)
    all_null = F.lit(True)
    for name in required:
        all_null = all_null & F.col(parsed_col).getField(name).isNull()
    is_bad = F.col(parsed_col).isNull() | all_null
    return df.filter(~is_bad), df.filter(is_bad)
