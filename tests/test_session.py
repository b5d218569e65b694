"""Session helpers: shipping the package to Python workers."""

from __future__ import annotations

import os

from ctgov_ai_etl_spark import session


def test_ship_package_reuses_one_archive_per_process(spark, monkeypatch):
    session.ship_package(spark)
    archive = session._package_archive()
    assert os.path.isfile(archive)
    shipped: list[str] = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    other = spark.newSession()
    # sessions are remembered by id(); a dead session's id may be reused
    session._SHIPPED_SESSIONS.discard(id(other))
    try:
        session.ship_package(other)
        assert shipped == [archive]  # same zip, not a freshly built one
        assert os.path.isfile(archive)
    finally:
        session._SHIPPED_SESSIONS.discard(id(other))
