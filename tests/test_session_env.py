"""get_spark's env knobs fail fast: a malformed SPARK_GRAFT_CPUS or
SPARK_GRAFT_DRIVER_MEM raises a ValueError naming the variable and its
value before any JVM starts. Only values that start nothing are tried."""

from __future__ import annotations

import pytest

from holochatstats_spark.session import _env_knob, get_spark

BAD = [
    ("SPARK_GRAFT_CPUS", "0"),
    ("SPARK_GRAFT_CPUS", "-2"),
    ("SPARK_GRAFT_CPUS", "four"),
    ("SPARK_GRAFT_CPUS", "4 "),
    ("SPARK_GRAFT_CPUS", ""),
    ("SPARK_GRAFT_DRIVER_MEM", "lots"),
    ("SPARK_GRAFT_DRIVER_MEM", "2 g"),
    ("SPARK_GRAFT_DRIVER_MEM", "0g"),
    ("SPARK_GRAFT_DRIVER_MEM", "-1g"),
    ("SPARK_GRAFT_DRIVER_MEM", "2gib"),
]


@pytest.mark.parametrize("name,value", BAD)
def test_get_spark_rejects_malformed_env_knob(monkeypatch, name, value):
    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=f"^{name}={value!r}: expected "):
        get_spark("holochatstats-bad-env")


@pytest.mark.parametrize(
    "name,value",
    [
        ("SPARK_GRAFT_CPUS", "*"),
        ("SPARK_GRAFT_CPUS", "4"),
        ("SPARK_GRAFT_DRIVER_MEM", "2g"),
        ("SPARK_GRAFT_DRIVER_MEM", "512m"),
        ("SPARK_GRAFT_DRIVER_MEM", "8G"),
        ("SPARK_GRAFT_DRIVER_MEM", "2048"),
    ],
)
def test_env_knob_accepts_well_formed_values(monkeypatch, name, value):
    monkeypatch.setenv(name, value)
    assert _env_knob(name) == value


def test_env_knob_defaults(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert (_env_knob("SPARK_GRAFT_CPUS"), _env_knob("SPARK_GRAFT_DRIVER_MEM")) == ("*", "8g")
