"""The session's one CPU default."""

from __future__ import annotations

import os

from go_zoom_kinesis_spark.session import local_cpus


def test_local_cpus_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cpus() == len(os.sched_getaffinity(0))
