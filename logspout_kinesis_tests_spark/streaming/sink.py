"""Micro-batch sink with the reference producer's semantics (A15-A18).

The reference buffers records, flushes every BatchSize/FlushInterval,
retries failed records up to MaxAttemptsPerRecord, and keys every record by
docker_host (logspoutkinesis.go:74-172, :209).  Spark-first mapping:

- buffer + flush interval  → the micro-batch itself (trigger interval)
- batch size               → ≤500-record PutRecords groups inside a
                             partition (the AWS per-call cap; the
                             reference's BatchSize=10 is a flush trigger,
                             which the trigger interval already provides)
- partition-key routing    → ``repartition(partition_key)`` so one key's
                             records land in one task, in order (A16)
- bounded per-record retry → retry loop over the failed-record indices the
                             client reports (A17)
- backpressure             → inherent: Spark pulls micro-batches; the
                             "drop when buffer full" reference default is
                             data loss and intentionally not reproduced (A18)

The Kinesis client is injectable: tests use :class:`FileRecordingClient`
(records every call to disk — executors run in separate worker processes,
so shared-memory fakes can't work); production wires boto3 PutRecords with
the same ``put_records`` contract.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.config import EngineConfig

#: Kinesis PutRecords hard cap — records per API call (AWS service limit,
#: not a reference constant; the reference's vendored batchproducer enforces
#: the same limit internally).
MAX_RECORDS_PER_PUT = 500


class FileRecordingClient:
    """Test double for the Kinesis client: appends each ``put_records`` call
    as one JSON file in ``out_dir`` (visible across executor processes).

    ``fail_every``: deterministically report every Nth record (1-based,
    counted per call) as failed on its first delivery attempt — drives the
    A17 bounded-retry path.  Failure state lives on disk keyed by record
    payload hash so retried records succeed on the second attempt.
    """

    def __init__(self, out_dir: str, fail_every: int = 0):
        self.out_dir = out_dir
        self.fail_every = fail_every

    def put_records(self, stream_name: str, records: list[tuple[str, str]]) -> list[int]:
        os.makedirs(self.out_dir, exist_ok=True)
        failed: list[int] = []
        if self.fail_every:
            seen_dir = os.path.join(self.out_dir, "_seen")
            os.makedirs(seen_dir, exist_ok=True)
            for i, (data, _key) in enumerate(records, start=1):
                if i % self.fail_every == 0:
                    import hashlib

                    marker = os.path.join(
                        seen_dir, hashlib.md5(data.encode()).hexdigest()
                    )
                    if not os.path.exists(marker):
                        with open(marker, "w") as f:
                            f.write("1")
                        failed.append(i - 1)
        delivered = [r for i, r in enumerate(records) if i not in set(failed)]
        if delivered:
            path = os.path.join(self.out_dir, f"put-{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump(
                    {
                        "stream": stream_name,
                        "ts": time.time(),
                        "records": [{"data": d, "partition_key": k} for d, k in delivered],
                    },
                    f,
                )
        return failed


def boto3_client_factory(region: str):
    """Production client: boto3 Kinesis PutRecords behind the same contract.

    Import-gated; correctness tests drive it against an injected protocol
    fake speaking the real PutRecords response shapes
    (``FailedRecordCount``/``Records[].ErrorCode``) — never AWS (SURVEY.md
    §5, tests/test_boto3_adapters.py).
    """

    def factory():
        try:
            import boto3
        except ImportError as exc:
            raise NotImplementedError(
                "boto3 is not available in this environment; inject a client "
                "factory (e.g. FileRecordingClient) instead"
            ) from exc

        client = boto3.client("kinesis", region_name=region)

        class _Boto3Client:
            def put_records(self, stream_name, records):
                resp = client.put_records(
                    StreamName=stream_name,
                    Records=[
                        {"Data": d.encode("utf-8"), "PartitionKey": k}
                        for d, k in records
                    ],
                )
                # the all-succeeded fast path is the documented contract:
                # FailedRecordCount == 0 means no per-record ErrorCode scan.
                # Only when the key is PRESENT and zero — a nonconforming
                # response missing it must still get the ErrorCode scan, or
                # its failed records would be silently dropped (ADVICE r12)
                if resp.get("FailedRecordCount") == 0:
                    return []
                recs = resp.get("Records")
                if not isinstance(recs, list) or len(recs) != len(records):
                    # response carries neither a zero failure count nor a
                    # scannable per-record outcome list: delivery is
                    # UNKNOWN, and treating unknown as success silently
                    # drops records — retry the whole batch instead
                    # (at-least-once; the retry loop bounds attempts)
                    return list(range(len(records)))
                failed = [i for i, rec in enumerate(recs) if "ErrorCode" in rec]
                fc = resp.get("FailedRecordCount")
                # isinstance guard: a nonconforming None/string count must
                # not crash the very branch built for nonconforming shapes
                # (dict.get's default only covers a MISSING key — r14 review)
                if isinstance(fc, int) and fc > len(failed):
                    # contradictory shape: the count asserts MORE failures
                    # than the records flag (including the no-flags case) —
                    # we cannot tell WHICH unflagged records failed, so
                    # delivery is unknown; retry the whole batch
                    # (at-least-once) rather than silently dropping the
                    # failures the count asserted (ADVICE r13, generalized
                    # to partial flagging per ADVICE r14)
                    return list(range(len(records)))
                return failed

        return _Boto3Client()

    return factory


def _send_partition(
    rows: Iterator,
    client_factory: Callable[[], object],
    config: EngineConfig,
) -> None:
    """Executor-side: group a partition's records into ≤cap PutRecords calls
    with bounded per-record retry (A15+A17)."""
    client = client_factory()

    def flush(buf: list[tuple[str, str]]) -> None:
        if not buf:
            return
        pending = buf
        for _attempt in range(config.max_attempts_per_record):
            failed = client.put_records(config.stream_name, pending)
            if not failed:
                return
            pending = [pending[i] for i in failed]
        raise RuntimeError(
            f"{len(pending)} records failed after "
            f"{config.max_attempts_per_record} attempts"  # task retry → at-least-once
        )

    buf: list[tuple[str, str]] = []
    for row in rows:
        buf.append((row["value"], row["partition_key"]))
        if len(buf) >= MAX_RECORDS_PER_PUT:
            flush(buf)
            buf = []
    flush(buf)


def make_batch_writer(
    client_factory: Callable[[], object], config: EngineConfig
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: key-partitioned, batched,
    retrying sink (A15-A17).

    ``repartition(partition_key)`` hash-routes each key to exactly one task
    — the Spark analogue of Kinesis's key→shard mapping, preserving per-key
    order within the micro-batch (A16).  Partition count follows the
    session's shuffle setting; at scale, AQE coalesces small batches.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.select("value", "partition_key")
            .repartition(F.col("partition_key"))
            .foreachPartition(
                lambda rows: _send_partition(rows, client_factory, config)
            )
        )

    return write_batch
