"""Local core-count default of the engine's SparkSession factory."""

from __future__ import annotations

import os

from zenodb_spark.session import _local_cpus


def test_unset_env_defaults_to_machine_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _local_cpus() == os.cpu_count()


def test_env_pins_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _local_cpus() == 3
