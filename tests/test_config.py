"""EngineConfig resolution (A20/A21): option > env > default, typed parsing."""

from __future__ import annotations

from logspout_kinesis_tests_spark.config import EngineConfig, getopt


def test_defaults_match_reference():
    cfg = EngineConfig.from_route()
    # logspoutkinesis.go defaults: flush 1s (:131), attempts 10 (:147)
    assert cfg.stream_name == "logbuffer-dev"
    assert cfg.flush_interval_s == 1.0
    assert cfg.max_attempts_per_record == 10
    assert cfg.docker_host == "unknown-docker-host"  # go:81 default
    assert cfg.use_v0_layout is False


def test_options_override_defaults():
    cfg = EngineConfig.from_route(
        "my-stream",
        {
            "flush_interval": "5",
            "max_attempts_per_record": "3",
            "use_v0_layout": "true",
        },
    )
    assert cfg.stream_name == "my-stream"
    assert cfg.flush_interval_s == 5.0
    assert cfg.max_attempts_per_record == 3
    assert cfg.use_v0_layout is True


def test_env_fallback_and_option_precedence(monkeypatch):
    monkeypatch.setenv("LK_DOCKER_HOST", "env-host")
    monkeypatch.setenv("LK_USE_V0_LAYOUT", "1")
    cfg = EngineConfig.from_route()
    assert cfg.docker_host == "env-host"
    assert cfg.use_v0_layout is True
    # explicit option beats env (route.Options checked first, go:84-87)
    cfg2 = EngineConfig.from_route(options={"use_v0_layout": "false"})
    assert cfg2.use_v0_layout is False


def test_malformed_values_fall_back_to_defaults():
    cfg = EngineConfig.from_route(
        options={"max_attempts_per_record": "not-a-number", "flush_interval": ""}
    )
    assert cfg.max_attempts_per_record == 10
    assert cfg.flush_interval_s == 1.0


def test_getopt(monkeypatch):
    monkeypatch.delenv("SOME_UNSET_VAR", raising=False)
    assert getopt("SOME_UNSET_VAR", "fallback") == "fallback"
    monkeypatch.setenv("SOME_UNSET_VAR", "")
    assert getopt("SOME_UNSET_VAR", "fallback") == "fallback"  # empty = unset (go:176)
    monkeypatch.setenv("SOME_UNSET_VAR", "x")
    assert getopt("SOME_UNSET_VAR", "fallback") == "x"
