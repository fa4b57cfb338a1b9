"""Shared fixtures: one session-scoped SparkSession + corpus fixtures."""

from __future__ import annotations

import pytest

from knowledgegraph_spark import get_spark
from knowledgegraph_spark.config import PAGES_SCHEMA
from knowledgegraph_spark.corpus import generate_corpus


def _start():
    return get_spark(
        "kg-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _jvm_alive(session) -> bool:
    try:
        session.sparkContext._jvm.java.lang.System.nanoTime()
        return True
    except Exception:
        return False


class _LiveSession:
    """The suite's SparkSession, replaced by a fresh one if the JVM dies.

    Attribute access goes to the current session, so fixtures and tests use
    this object as a SparkSession.  Without the replacement a test that
    kills the JVM (e.g. a driver-heap OOM) made every later test fail with
    ``ConnectionRefusedError``.
    """

    def __init__(self):
        self._session = _start()

    def __getattr__(self, name):
        return getattr(self._session, name)

    def ensure_alive(self) -> None:
        if _jvm_alive(self._session):
            return
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        # the dead gateway cannot stop anything: drop pyspark's handles to it
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
        self._session = _start()


_live: _LiveSession | None = None


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    # before any fixture of the test is set up, so module fixtures built
    # after a JVM death are built on the fresh session
    if _live is not None:
        _live.ensure_alive()


@pytest.fixture(scope="session")
def spark():
    global _live
    _live = _LiveSession()
    yield _live
    _live.stop()
    _live = None


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(120, seed=42)


@pytest.fixture(scope="module")
def pages_df(spark, corpus):
    # module scope: a frame bound to a dead JVM stays dead, so it must not
    # outlive the module whose test killed the JVM
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(**p) for p in corpus["pages"]], schema=PAGES_SCHEMA
    )
