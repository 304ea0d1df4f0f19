"""Driver heap sizing and JVM options, checked without starting a JVM."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from sparkroach import session


def _meminfo(tmp_path, available_kb: int):
    p = tmp_path / "meminfo"
    p.write_text(
        "MemTotal:       16479424 kB\n"
        "MemFree:         1000000 kB\n"
        f"MemAvailable:   {available_kb} kB\n"
    )
    return str(p)


@pytest.fixture
def no_override(monkeypatch):
    monkeypatch.delenv("SPARKROACH_DRIVER_MEM", raising=False)


def test_default_heap_is_half_of_available_memory(tmp_path, no_override):
    # a 15.7 GB host with 15.25 GB available: 16g cannot be committed
    path = _meminfo(tmp_path, 15_992_248)
    assert session.default_driver_memory(path) == "7808m"


def test_default_heap_is_capped_at_16g(tmp_path, no_override):
    path = _meminfo(tmp_path, 256 * 1024 * 1024)
    assert session.default_driver_memory(path) == "16384m"


def test_unreadable_meminfo_falls_back_to_the_cap(tmp_path, no_override):
    missing = str(tmp_path / "absent")
    assert session.default_driver_memory(missing) == "16384m"


def test_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARKROACH_DRIVER_MEM", "1g")
    assert session.default_driver_memory(_meminfo(tmp_path, 8_000_000)) == "1g"


def test_heap_flags_merge_with_caller_java_options(monkeypatch):
    # getOrCreate would start the JVM: return the collected options instead
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: b._options)
    monkeypatch.setenv("SPARKROACH_DRIVER_MEM", "2g")
    opts = session.get_spark(
        extra_conf={
            "spark.driver.extraJavaOptions": "-Dfoo=bar",
            "spark.ui.showConsoleProgress": "false",
        }
    )
    assert opts["spark.driver.memory"] == "2g"
    assert opts["spark.driver.extraJavaOptions"] == (
        "-Xms2g -XX:+AlwaysPreTouch -Dfoo=bar"
    )
    assert opts["spark.ui.showConsoleProgress"] == "false"
