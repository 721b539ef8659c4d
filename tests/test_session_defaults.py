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


def test_get_spark_and_extract_submit_apply_session_conf(spark, monkeypatch):
    """The spark-submit job runs with every fixed setting a local session
    has (string run_id partitions, UTC, ...) and leaves the master to
    spark-submit."""
    import runpy
    import sys

    import pyspark
    from pyspark.sql import SparkSession

    for key, value in session.SESSION_CONF.items():
        assert spark.sparkContext.getConf().get(key) == value, key

    class Built(Exception):
        pass

    def capture(builder):
        raise Built(dict(builder._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    # a spark-submit launch that sets none of the keys
    conf_class = pyspark.SparkConf
    monkeypatch.setattr(pyspark, "SparkConf", lambda: conf_class(loadDefaults=False))
    monkeypatch.setattr(sys, "argv", ["extract_submit.py", "--synthesize", "1", "--out", "unused"])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with pytest.raises(Built) as built:
        runpy.run_path(os.path.join(root, "jobs", "extract_submit.py"), run_name="__main__")
    options = built.value.args[0]
    assert {k: options.get(k) for k in session.SESSION_CONF} == session.SESSION_CONF
    assert "spark.master" not in options


def test_extract_submit_leaves_launch_conf_keys_alone(spark):
    """A key spark-submit already set (``--conf``) keeps its launch value:
    the job passes only the unset ``SESSION_CONF`` keys to the builder,
    whose options would override the launch conf."""
    import runpy

    from pyspark import SparkConf

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    job = runpy.run_path(os.path.join(root, "jobs", "extract_submit.py"), run_name="extract_submit")
    launch = SparkConf(loadDefaults=False).set("spark.ui.enabled", "true")
    assert job["unset_session_conf"](launch) == {
        k: v for k, v in session.SESSION_CONF.items() if k != "spark.ui.enabled"
    }
