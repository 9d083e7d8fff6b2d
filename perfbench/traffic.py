"""Seeded Docker log traffic shared by the ``ship`` and ``consume`` workloads.

Every record is a pure function of ``(seed, position)``, so the generator
process, the stand-in Kinesis clients running in executor workers and the
output checks all derive the same record without sharing state.  The program
under test only ever sees what is generated here.

What varies, and why (the pipeline's behaviour depends on each):

- container popularity follows a Zipf law, so a few containers dominate the
  per-container windows and state keys are skewed;
- log-line length runs from short access-log lines to multi-KB stack traces
  with quotes, backslashes, tabs, newlines and non-ASCII text, which moves
  JSON encode/decode cost and exercises escaping;
- some containers have no labels, an untagged image or an empty tag, which
  exercises the omitempty paths of the Logstash layout;
- ``malformed_share`` of stream payloads are truncated JSON (quarantine path);
- ``redelivered_share`` of stream positions repeat an earlier payload a
  little later (producer retries; watermark-bounded dedup);
- ``LATE_SHARE`` of records carry an event time up to ``MAX_LATE_S`` before
  their creation time, which stays inside the consumer's watermark.

The constants below are assumptions, not measurements: no characterisation of
container log traffic was at hand to derive them from.  ``README.md`` says
which end-to-end metric each one moves.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import random
import time
from dataclasses import dataclass
from typing import NamedTuple

_MASK = (1 << 64) - 1
_PICK_BITS = 12  # container pick resolution: 4096 buckets
_SHARE_SCALE = 1 << 10  # shares are resolved in 1/1024 steps

DOCKER_HOST = "dh-bench"
STREAM = "logbuffer-bench"


def mix64(x: int) -> int:
    """splitmix64 finaliser: a cheap, well-mixed 64-bit hash."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


@dataclass(frozen=True)
class Container:
    id: str
    name: str
    image: str
    hostname: str
    labels: dict


#: Containers, and the Zipf exponent of their popularity.
CONTAINERS, ZIPF_S = 128, 1.1
#: Shares of log bodies that are stack traces (1.5-3.5 KB) and medium lines
#: (200-700 B); the rest are short lines (under 150 B).
STACK_SHARE, MEDIUM_SHARE = 0.03, 0.22
#: Share of containers without labels.
EMPTY_LABELS_SHARE = 0.2
#: Positions between a record and its redelivery.
REDELIVERY_GAP = 200
#: Share of records whose event time is up to ``MAX_LATE_S`` before creation.
LATE_SHARE, MAX_LATE_S = 0.03, 2.0


_WORDS = (
    "GET POST PUT DELETE /api/v1/items /api/v2/orders /healthz user order "
    "cache miss hit backend timeout retry upstream ok done queued flushed "
    "shard lease commit offset batch worker pool conn reset tls handshake"
).split()
_UNICODE = ("café", "naïve", "日本語", "Ωmega", "emoji ✓")


def _short_line(rng: random.Random) -> str:
    level = rng.choice(("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR"))
    words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 14)))
    return f"{level} {words} {rng.randint(1, 999)}ms"


def _medium_line(rng: random.Random) -> str:
    parts = [_short_line(rng)]
    while sum(map(len, parts)) < rng.randint(200, 800):
        k = rng.choice(_WORDS).strip("/")
        parts.append(
            rng.choice(
                (
                    f'{k}="{rng.choice(_WORDS)} {rng.choice(_UNICODE)}"',
                    f"path=C:\\\\tmp\\\\{k}\\\\{rng.randint(0, 99)}",
                    f"{k}={rng.random():.6f}\t{rng.choice(_WORDS)}",
                )
            )
        )
    return " ".join(parts)


def _stack_trace(rng: random.Random) -> str:
    lines = [f'ERROR unhandled exception: java.lang.IllegalStateException: "{rng.choice(_WORDS)}"']
    while sum(map(len, lines)) < rng.randint(1500, 6000):
        pkg = ".".join(rng.choice(_WORDS).strip("/").split("/")[0] or "x" for _ in range(3))
        lines.append(f"\tat com.example.{pkg}.Handler.run(Handler.java:{rng.randint(1, 999)})")
    return "\n".join(lines)


def _container(rng: random.Random, k: int) -> Container:
    cid = f"{rng.getrandbits(256):064x}"
    svc = rng.choice(("api", "web", "db", "cache", "worker", "proxy"))
    image = rng.choice(
        (
            f"team/{svc}:1.{k % 7}.{k % 3}",
            f"team/{svc}:1.{k % 7}.{k % 3}",
            svc,  # untagged: image_tag omitted
            f"{svc}:",  # empty tag: image_tag omitted
            f"reg.local:5000/team/{svc}:v{k % 4}",  # first-colon split
        )
    )
    labels = (
        {}
        if rng.random() < EMPTY_LABELS_SHARE
        else {"env": rng.choice(("prod", "staging")), "team": svc, "idx": str(k)}
    )
    hostname = cid[:12] if k % 2 else f"{svc}-{k}.internal"
    return Container(cid, f"/{svc}-{k}", image, hostname, labels)


class Draw(NamedTuple):
    container: int
    body: int
    stderr: bool
    late_s: float
    malformed: bool
    repeats: int | None  # the earlier position this one redelivers


_COMPACT = (",", ":")


def _dumps(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, separators=_COMPACT)


@functools.lru_cache(maxsize=4)
def _second_prefix(second: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(second))


def rfc3339(epoch_s: float) -> str:
    """The layout's timestamp: UTC, microseconds, ``Z`` suffix."""
    us = round(epoch_s * 1e6)
    return f"{_second_prefix(us // 1_000_000)}.{us % 1_000_000:06d}Z"


class Traffic:
    """Deterministic record source: ``draw(position)`` for any position."""

    def __init__(self, seed: int, malformed_share: float = 0.0, redelivered_share: float = 0.0):
        rng = random.Random(seed)
        self.containers = [_container(rng, k) for k in range(CONTAINERS)]
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(CONTAINERS)]
        total, acc, cum = sum(weights), 0.0, []
        for w in weights:
            acc += w / total
            cum.append(acc)
        n = 1 << _PICK_BITS
        self._pick = [
            min(bisect.bisect_left(cum, (i + 0.5) / n), CONTAINERS - 1) for i in range(n)
        ]
        bodies = []
        for i in range(512):
            u = rng.random()
            bodies.append(
                _stack_trace(rng)
                if u < STACK_SHARE
                else _medium_line(rng)
                if u < STACK_SHARE + MEDIUM_SHARE
                else _short_line(rng)
            )
        self.bodies = bodies
        self._key = mix64(seed & _MASK)
        share = lambda s: round(s * _SHARE_SCALE)  # noqa: E731
        self._malformed = share(malformed_share)
        self._redelivered = share(redelivered_share)
        self._late = share(LATE_SHARE)
        # pre-encoded JSON fragments for stream_payload
        self._body_json = [_dumps(b)[1:-1] for b in bodies]
        self._host_json = [_dumps(c.hostname) for c in self.containers]
        self._input_json = [
            _dumps(
                {
                    "container_id": c.id,
                    "container_name": c.name,
                    "image": c.image,
                    "hostname": c.hostname,
                    "labels": c.labels,
                }
            )[1:-1]
            for c in self.containers
        ]
        self._docker_json = [
            tuple(_dumps(self._docker_fields(c, s)) for s in ("stdout", "stderr"))
            for c in self.containers
        ]

    # -- per-position draws ------------------------------------------------
    def draw(self, pos: int) -> Draw:
        """Every random property of position ``pos``, from one hash."""
        h = mix64(self._key ^ pos)
        late = (
            ((h >> 34) & 1023) / 1024 * MAX_LATE_S if (h >> 24) & 1023 < self._late else 0.0
        )
        repeats = (
            pos - REDELIVERY_GAP
            if pos >= REDELIVERY_GAP and (h >> 54) & 1023 < self._redelivered
            else None
        )
        return Draw(
            container=self._pick[h & ((1 << _PICK_BITS) - 1)],
            body=(h >> 12) & 511,
            stderr=(h >> 21) & 7 == 0,  # one record in eight goes to stderr
            late_s=late,
            malformed=(h >> 44) & 1023 < self._malformed,
            repeats=repeats,
        )

    def root_of(self, pos: int) -> tuple[int, Draw]:
        """The position whose record ``pos`` carries (itself unless a
        repeat), with its draw."""
        d = self.draw(pos)
        while d.repeats is not None:
            pos = d.repeats
            d = self.draw(pos)
        return pos, d

    def data_of(self, pos: int, d: Draw) -> str:
        """The log line; it leads with the position so sinks can identify it."""
        return f"{pos} {self.bodies[d.body]}"

    # -- the producer's input (LOG_INPUT) ------------------------------------
    def log_input_line(self, pos: int, created: float) -> str:
        """One Docker log record as a JSON line of the producer's input
        (``schemas.LOG_INPUT``), built from pre-encoded fragments."""
        d = self.draw(pos)
        return "".join(
            (
                '{"data":"',
                str(pos),
                " ",
                self._body_json[d.body],
                '","source":"',
                "stderr" if d.stderr else "stdout",
                '","time":"',
                rfc3339(created - d.late_s),
                '",',
                self._input_json[d.container],
                "}\n",
            )
        )

    # -- the v1 Logstash layout, rendered in pure Python -----------------------
    def _docker_fields(self, c: Container, source: str) -> dict:
        name, _, tag = c.image.partition(":")
        docker = {"name": c.name[1:], "cid": c.id[:12], "image": name}
        if tag:
            docker["image_tag"] = tag
        docker["source"] = source
        docker["docker_host"] = DOCKER_HOST
        if c.labels:
            docker["labels"] = c.labels
        return docker

    def v1_json(self, pos: int, created: float) -> str:
        """Expected ``serialize_json(logstash_message(...))`` output (v1)."""
        d = self.draw(pos)
        c = self.containers[d.container]
        doc = {
            "@timestamp": rfc3339(created - d.late_s),
            "host": c.hostname,
            "message": self.data_of(pos, d),
            "docker": self._docker_fields(c, "stderr" if d.stderr else "stdout"),
        }
        return json.dumps(doc, ensure_ascii=False, separators=_COMPACT)

    def stream_payload(self, pos: int, due) -> str:
        """The record at stream position ``pos`` as a consumer reads it: the
        producer's v1 JSON (``due(position)`` gives its creation time),
        truncated when malformed, or an earlier record's payload when it is a
        redelivery.  Built from pre-encoded fragments: it runs once per record
        inside the stand-in ``get_records``."""
        pos, d = self.root_of(pos)
        out = "".join(
            (
                '{"@timestamp":"',
                rfc3339(due(pos) - d.late_s),
                '","host":',
                self._host_json[d.container],
                ',"message":"',
                str(pos),
                " ",
                self._body_json[d.body],
                '","docker":',
                self._docker_json[d.container][d.stderr],
                "}",
            )
        )
        if d.malformed:
            return out[: len(out) // 2]
        return out


def write_log_input_files(traffic, directory, first, per_file, files, created, tmp_dir) -> None:
    """Write ``files`` LOG_INPUT JSON files of ``per_file`` consecutive
    positions from ``first``; each appears in ``directory`` atomically."""
    os.makedirs(directory, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    for k in range(files):
        lo = first + k * per_file
        name = f"part-{lo:010d}.json"
        tmp = os.path.join(tmp_dir, name)
        with open(tmp, "w") as f:
            f.writelines(traffic.log_input_line(p, created(p)) for p in range(lo, lo + per_file))
        os.rename(tmp, os.path.join(directory, name))
