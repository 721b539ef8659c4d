"""Session defaults follow the cores this process may run on (``nproc``),
not the machine's core count: on a shared host the two differ."""

from __future__ import annotations

import os

import pytest

from batch_doc_vqa_spark import session


@pytest.mark.skipif(not hasattr(os, "sched_getaffinity"), reason="no CPU affinity on this OS")
def test_default_cpus_follows_affinity_and_env_wins(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert session.default_cpus() == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.default_cpus() == 6
