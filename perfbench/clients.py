"""Kinesis stand-ins injected into the package's sink and pull source.

Both follow the contracts documented in
``logspout_kinesis_tests_spark.streaming.sink`` (``put_records``) and
``logspout_kinesis_tests_spark.streaming.pull_source`` (``list_shards``,
``latest_sequences``, ``get_shard_iterator``, ``get_records``).  They run in
executor (and planner) Python workers, so each client instance appends its
calls to its own JSON-lines file under ``stats_dir``; the benchmark merges
the files after the run (:func:`perfbench.stats.read_stats`).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from perfbench.traffic import Traffic, mix64

_MESSAGE = '"message":"'
#: Share of records ``put_records`` refuses on their first attempt.
REFUSE_SHARE = 0.02
#: Every this many positions, the full payload is kept for the layout check.
SAMPLE_EVERY = 97


def _task() -> tuple[int, int]:
    """(stage id, partition id) of the running Spark task, or (-1, -1)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return (ctx.stageId(), ctx.partitionId()) if ctx else (-1, -1)


class _StatsFile:
    def __init__(self, stats_dir: str, prefix: str):
        os.makedirs(stats_dir, exist_ok=True)
        self.path = os.path.join(
            stats_dir, f"{prefix}-{os.getpid()}-{uuid.uuid4().hex[:12]}.jsonl"
        )

    def append(self, row: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(row) + "\n")


def position_of(payload: str) -> int:
    """The generator position a v1 payload carries at the start of its message."""
    i = payload.index(_MESSAGE) + len(_MESSAGE)
    return int(payload[i : payload.index(" ", i)])


class RefusingPutClient:
    """``put_records`` stand-in that refuses ``REFUSE_SHARE`` of records on
    their first attempt, as Kinesis throttling does, and accepts the rest.

    One instance serves one sink task (the sink calls the factory once per
    partition), so first attempts are remembered in memory.  Each call
    appends the accepted positions per partition key in arrival order, the
    ones accepted on a retry, and the full payload of every
    ``SAMPLE_EVERY``-th position for the layout check.
    """

    def __init__(self, stats_dir: str, seed: int):
        self._stats = _StatsFile(stats_dir, "put")
        self._key = mix64(seed ^ 0x5EED)
        self._refuse = round(REFUSE_SHARE * 1024)
        self._attempted: set[int] = set()
        self._task = _task()

    def put_records(self, stream_name: str, records: list[tuple[str, str]]) -> list[int]:
        t0 = time.perf_counter()
        refused: list[int] = []
        retried: list[int] = []
        by_key: dict[str, list[int]] = {}
        samples: dict[int, str] = {}
        nbytes = 0
        for i, (data, key) in enumerate(records):
            pos = position_of(data)
            if pos in self._attempted:
                retried.append(pos)
            else:
                self._attempted.add(pos)
                if mix64(self._key ^ pos) & 1023 < self._refuse:
                    refused.append(i)
                    continue
            by_key.setdefault(key, []).append(pos)
            nbytes += len(data.encode())
            if pos % SAMPLE_EVERY == 0:
                samples[pos] = data
        self._stats.append(
            {
                "t": time.time(),
                "stage": self._task[0],
                "task": self._task[1],
                "n": len(records),
                "refused": len(refused),
                "bytes": nbytes,
                "by_key": by_key,
                "retried": retried,
                "samples": samples,
                "ms": (time.perf_counter() - t0) * 1e3,
            }
        )
        return refused


def refusing_put_client(stats_dir: str, seed: int):
    """A ``client_factory`` for ``make_batch_writer`` / ``produce_pipeline``."""
    return lambda: RefusingPutClient(stats_dir, seed)


class Schedule:
    """When each stream position exists: positions below ``backlog`` were
    created before the run, spaced at ``rate`` and ending at ``t_start``;
    position ``backlog + k`` (up to ``total``) is created at
    ``t_open + k / rate``.  ``t_open`` is written to ``open_path`` by the
    benchmark when the open-loop phase begins; until then only the backlog
    exists."""

    def __init__(self, backlog: int, total: int, rate: float, t_start: float, open_path: str):
        self.backlog = backlog
        self.total = total
        self.rate = rate
        self.t_start = t_start
        self.open_path = open_path
        self._t_open: float | None = None

    def t_open(self) -> float | None:
        if self._t_open is None and os.path.exists(self.open_path):
            with open(self.open_path) as f:
                self._t_open = float(f.read())
        return self._t_open

    def due(self, pos: int) -> float:
        if pos < self.backlog:
            return self.t_start - (self.backlog - pos) / self.rate
        return self.t_open() + (pos - self.backlog) / self.rate

    def available(self, now: float) -> int:
        t_open = self.t_open()
        if t_open is None or now < t_open:
            return self.backlog
        return min(self.total, self.backlog + int((now - t_open) * self.rate) + 1)


class ScheduledShardClient:
    """``get_records`` stand-in over the stream positions ``[base, limit)``.

    It builds each record from the seed and its position, with no disk I/O,
    and exposes a position only once the :class:`Schedule` says it exists,
    which makes the source an open-loop generator.  Stream position
    ``base + l`` lives on shard ``l % shards`` at sequence number
    ``l // shards``."""

    def __init__(
        self,
        stats_dir: str,
        seed: int,
        malformed_share: float,
        redelivered_share: float,
        shards: int,
        schedule: Schedule,
        base: int,
        limit: int,
    ):
        self._stats = _StatsFile(stats_dir, "pull")
        self.traffic = Traffic(seed, malformed_share, redelivered_share)
        self.shards = shards
        self.schedule = schedule
        self.base = base
        self.limit = limit
        self._names = [f"shard-{i:03d}" for i in range(shards)]

    def _exposed(self) -> int:
        """How many of this client's positions exist now."""
        return max(0, min(self.limit, self.schedule.available(time.time())) - self.base)

    def _shard_count(self, shard: int, exposed: int) -> int:
        return max(0, (exposed - shard + self.shards - 1) // self.shards)

    def list_shards(self, stream: str) -> list[str]:
        return list(self._names)

    def latest_sequences(self, stream: str) -> dict[str, int]:
        exposed = self._exposed()
        self._stats.append({"call": "latest"})
        return {name: self._shard_count(i, exposed) for i, name in enumerate(self._names)}

    def get_shard_iterator(self, stream, shard_id, position, sequence_number=None) -> str:
        if position == "AT_SEQUENCE_NUMBER":
            seq = int(sequence_number or 0)
        elif position == "AFTER_SEQUENCE_NUMBER":
            seq = int(sequence_number) + 1
        elif position == "TRIM_HORIZON":
            seq = 0
        else:  # LATEST
            seq = self._shard_count(self._names.index(shard_id), self._exposed())
        self._stats.append({"call": "iterator"})
        return f"{shard_id}/{seq}"

    def get_records(self, iterator: str, limit: int = 500) -> dict:
        t0 = time.perf_counter()
        shard_id, _, seq_s = iterator.rpartition("/")
        shard, seq = self._names.index(shard_id), int(seq_s)
        end = min(seq + limit, self._shard_count(shard, self._exposed()))
        payload, due, base, n = self.traffic.stream_payload, self.schedule.due, self.base, self.shards
        records = [
            {"Data": payload(base + s * n + shard, due), "PartitionKey": shard_id, "SequenceNumber": s}
            for s in range(seq, end)
        ]
        self._stats.append(
            {"call": "get", "n": len(records), "ms": (time.perf_counter() - t0) * 1e3}
        )
        return {"Records": records, "NextShardIterator": f"{shard_id}/{max(seq, end)}"}


def scheduled_shard_client(**kwargs) -> ScheduledShardClient:
    """The ``client`` factory handed to ``pull_stream``."""
    return ScheduledShardClient(**kwargs)
