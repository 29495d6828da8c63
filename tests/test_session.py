"""Session sizing and parser-mode guard — pure functions, no JVM."""

from __future__ import annotations

import pytest

from evidence_datasource_parsers_spark import session


def test_driver_memory_is_sized_from_host_ram():
    gib = 2**30
    # half of RAM on a mid-size host (a 15 GiB host gets 7.5 GiB)
    assert session._default_driver_memory(15 * gib) == f"{15 * 1024 // 2}m"
    assert session._default_driver_memory(64 * gib) == f"{32 * 1024}m"
    # small hosts keep 4 GiB for everything else, down to a 1 GiB floor
    assert session._default_driver_memory(6 * gib) == f"{2 * 1024}m"
    assert session._default_driver_memory(2 * gib) == "1024m"
    assert session._default_driver_memory(None) == "4g"
    # never more than the host has: the old 32g default OOM-killed a
    # 15 GiB host's test JVM
    for ram in (4, 8, 15, 16, 32):
        heap_mb = int(session._default_driver_memory(ram * gib)[:-1])
        assert heap_mb <= max(1024, ram * 1024 - 4096)


def test_session_sizing_env_overrides_win(monkeypatch):
    monkeypatch.setattr(session, "_host_cpus", lambda: 6)
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 16 * 2**30)
    assert session._session_sizing({}) == ("6", "8192m")
    assert session._session_sizing(
        {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    ) == ("2", "3g")
    assert session._session_sizing({"SPARK_GRAFT_CPUS": "3"}) == (
        "3", "8192m"
    )


def test_host_probes_report_this_machine():
    assert session._host_cpus() >= 1
    ram = session._host_memory_bytes()
    assert ram is None or ram > 0


@pytest.mark.parametrize("value", ["true", "TRUE", "True", " true "])
def test_escaped_string_literals_refused_in_any_case(value):
    with pytest.raises(RuntimeError, match="escapedStringLiterals"):
        session._check_parser_mode(value)


@pytest.mark.parametrize("value", ["false", "FALSE", ""])
def test_default_parser_mode_accepted(value):
    session._check_parser_mode(value)
