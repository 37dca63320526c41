"""Session defaults (session.py): the local core count."""

from __future__ import annotations

import os

from data_engineering_challenge_spark import session


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._default_cpus() == 3
