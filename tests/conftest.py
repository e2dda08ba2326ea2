from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_jira_scraper_spark.session import get_spark  # noqa: E402

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture
def session_store(monkeypatch):
    """An empty io session store for one test: the module's store and
    build-lock map are swapped for fresh dicts and restored afterwards,
    so the test can build, inspect and drain entries without touching the
    session's shared silver tables."""
    from apache_jira_scraper_spark import io

    store: dict = {}
    monkeypatch.setattr(io, "_STORE", store)
    monkeypatch.setattr(io, "_BUILD_LOCKS", {})
    return store


def store_entries(store: dict, name: str) -> dict:
    """The store's entries under one name, keyed (app, name, *key)."""
    return {k: v for k, v in store.items() if k[1] == name}
