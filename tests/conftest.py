from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from activedata_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", parallelism=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _jx_test_limit():
    """The engine ships the reference's DEFAULT_LIMIT=10 (jx_base/query.py:29)
    for queries with no limit clause.  Most tests here assert on full result
    sets without spelling a limit every time, so raise the default for the
    suite; tests that verify the shipped default (test_jx.py::
    test_default_limit_reference_parity) restore the real value themselves."""
    from activedata_etl_spark.plans import jx

    old = jx.DEFAULT_LIMIT
    jx.DEFAULT_LIMIT = 10_000
    yield
    jx.DEFAULT_LIMIT = old


@pytest.fixture
def py4j_round_trips(spark):
    """``count(fn) -> int``: the py4j commands the Python driver sends the
    JVM while ``fn`` runs, counted by wrapping the gateway client's
    ``send_command``.  Proxy deletes (``m\\nd\\n`` memory commands) are left
    out: they fire whenever Python's GC collects a JVM object proxy, so
    their timing is not the measured code's."""
    client = spark.sparkContext._gateway._gateway_client

    def count(fn) -> int:
        n = 0
        send = client.send_command

        def counted(command, *args, **kwargs):
            nonlocal n
            if not command.startswith("m\nd\n"):
                n += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        try:
            fn()
        finally:
            client.send_command = send
        return n

    return count


@pytest.fixture
def spark_jobs(spark):
    """``count(fn) -> int``: the Spark jobs ``fn`` runs, counted through a
    job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


def _jvm_counter(spark, read):
    """``count(fn) -> int``: how far the JVM counter ``read(jvm)`` moves
    while ``fn`` runs."""
    jvm = spark.sparkContext._jvm

    def count(fn) -> int:
        before = read(jvm)
        fn()
        return read(jvm) - before

    return count


@pytest.fixture
def catalyst_rule_runs(spark):
    """``count(fn) -> int``: the Catalyst rule executions (analyzer,
    optimizer and planner rules, ``RuleExecutor.getCurrentMetrics``) while
    ``fn`` runs.  Classic pyspark analyzes every DataFrame it creates, so
    this counts intermediate frames as well as executed plans."""
    return _jvm_counter(spark, lambda jvm: jvm.org.apache.spark.sql.catalyst
                        .rules.RuleExecutor.getCurrentMetrics().numRuns())


@pytest.fixture
def codegen_compiles(spark):
    """``count(fn) -> int``: the Janino compiles of generated classes
    (``CodegenMetrics.METRIC_COMPILATION_TIME``) while ``fn`` runs.  A plan
    whose generated source matches an earlier one's hits Spark's codegen
    cache and compiles nothing."""
    return _jvm_counter(spark, lambda jvm: jvm.org.apache.spark.metrics
                        .source.CodegenMetrics.METRIC_COMPILATION_TIME()
                        .getCount())
