"""Repo-root conftest: makes oboyu_spark importable and hosts the shared
SparkSession fixture (session-scoped — one JVM for the whole test run)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from oboyu_spark.session import get_spark

    s = get_spark(app_name="oboyu_spark_tests", cores=4, shuffle_partitions=4,
                  driver_memory="4g")
    yield s


@pytest.fixture
def crash_after_manifests(monkeypatch):
    """``with crash_after_manifests(n):`` lets exactly ``n`` part
    manifests be written, then every further ``_write_manifest`` raises
    "injected failure" — a build that crashes after n parts. Safe under
    the concurrent part loop: the call counter is an itertools.count,
    whose next() is atomic."""
    import itertools
    from contextlib import contextmanager

    from oboyu_spark.operators import postings

    real = postings._write_manifest

    @contextmanager
    def arm(n: int):
        calls = itertools.count()

        def write(*a, **kw):
            if next(calls) >= n:
                raise RuntimeError(f"injected failure after {n} manifests")
            real(*a, **kw)

        with monkeypatch.context() as m:
            m.setattr(postings, "_write_manifest", write)
            yield

    return arm
