from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from incident_pii_redactor_spark.plans import build_session

    s = build_session("pytest", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def no_cache_or_count(spark):
    """A context manager under which DataFrame.persist, .cache and .count
    fail: a batch job takes its row counts from Observations on the
    actions it runs anyway, and caches nothing."""
    cls = type(spark.range(1))

    def forbidden(name):
        def fail(self, *a, **k):
            raise AssertionError(f"batch job called DataFrame.{name}")
        return fail

    @contextlib.contextmanager
    def guard():
        with pytest.MonkeyPatch.context() as m:
            for name in ("persist", "cache", "count"):
                m.setattr(cls, name, forbidden(name))
            yield

    return guard


@pytest.fixture(scope="session")
def pages_parquet(tmp_path_factory):
    """2,000-row deterministic pages fixture (FIXTURES.md F1 small scale)."""
    from incident_pii_redactor_spark.sources.pages import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages_parquet(path, 2000)
    return path


@pytest.fixture(scope="session")
def pages_pdf(pages_parquet):
    import pyarrow.parquet as pq

    return pq.read_table(pages_parquet).to_pandas()
