"""Engine configuration with the reference's option surface.

Reproduces the reference adapter's config resolution — string-keyed route
options with typed defaults and env fallback (``logspoutkinesis.go:114-180``)
— as a plain dataclass.  Precedence: explicit option > environment variable >
default, matching ``route.Options[...]`` then ``getopt(...)``.

Only the settings the Spark pipeline reads are kept.  The reference's
``buffer_size``, ``batch_size``, ``stat_interval`` and
``add_blocks_when_buffer_full`` options have no Spark analogue: Spark pulls
micro-batches (no producer buffer to size or drop from), the trigger
interval flushes, and ``StreamingQuery.recentProgress`` carries the
throughput stats.  Route options with those keys are ignored.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def getopt(name: str, default: str = "") -> str:
    """Env lookup with default — reference ``getopt``, logspoutkinesis.go:174-180."""
    value = os.environ.get(name, "")
    return value if value != "" else default


def _parse_bool(raw: str | None, default: bool) -> bool:
    if raw is None or raw == "":
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")


def _parse_int(raw: str | None, default: int) -> int:
    if raw is None or raw == "":
        return default
    try:
        return int(raw)
    except ValueError:
        return default


def _parse_duration_seconds(raw: str | None, default: float) -> float:
    """Parse a duration given in whole seconds (reference passes ints and
    multiplies by ``time.Second``, logspoutkinesis.go:136)."""
    if raw is None or raw == "":
        return default
    try:
        return float(raw)
    except ValueError:
        return default


@dataclass
class EngineConfig:
    """Bound pipeline configuration (reference adapter struct + producer config).

    Field ↔ reference map:

    - ``stream_name``      ← route.Address (logspoutkinesis.go:66)
    - ``docker_host``      ← LK_DOCKER_HOST env (logspoutkinesis.go:81)
    - ``use_v0_layout``    ← route option / LK_USE_V0_LAYOUT (logspoutkinesis.go:84-87)
    - ``flush_interval_s`` ← "flush_interval", default 1s (logspoutkinesis.go:131-137)
    - ``max_attempts_per_record`` ← "max_attempts_per_record", default 10
                             (logspoutkinesis.go:147-153)
    """

    stream_name: str = "logbuffer-dev"
    docker_host: str = "unknown-docker-host"
    use_v0_layout: bool = False
    flush_interval_s: float = 1.0
    max_attempts_per_record: int = 10

    @classmethod
    def from_route(
        cls, address: str = "logbuffer-dev", options: dict[str, str] | None = None
    ) -> "EngineConfig":
        """Resolve option > env > default, mirroring NewLogspoutAdapter
        (logspoutkinesis.go:61-97) + getKinesisConfig (:114-172)."""
        opts = options or {}

        def opt(key: str, env: str | None = None) -> str | None:
            if key in opts and opts[key] != "":
                return opts[key]
            if env is not None:
                raw = os.environ.get(env, "")
                if raw != "":
                    return raw
            return None

        return cls(
            stream_name=address,
            docker_host=getopt("LK_DOCKER_HOST", "unknown-docker-host"),
            use_v0_layout=_parse_bool(opt("use_v0_layout", "LK_USE_V0_LAYOUT"), False),
            flush_interval_s=_parse_duration_seconds(opt("flush_interval"), 1.0),
            max_attempts_per_record=_parse_int(opt("max_attempts_per_record"), 10),
        )
