"""Hand-computed semantics for the r7 analytics additions: linear
interpolation anchors/edges, ordered-funnel step gating, and cohort
bucketing.  The oracles already hash-check these end-to-end on the
corpus; these tests pin the SEMANTICS on tiny hand-built series where
every expected value is derived by hand."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), u, t, v, "{}")
            for i, (h, u, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_interpolation_reconstructs_the_line(spark, tmp_path):
    # User 1 has anchors at 6h-buckets 0 and 3 (values 10 and 40):
    # buckets 1 and 2 must interpolate to 20 and 30; user 2 has one
    # anchor, so its other cells are edges (null).
    from ctgov_ai_etl_spark.queries.registry import REGISTRY
    from ctgov_ai_etl_spark.queries import windows as _w  # noqa: F401

    ev = _events(
        spark,
        [
            (0, 1, "view", 10.0),
            (18, 1, "view", 40.0),   # bucket 3
            (0, 2, "view", 7.0),
        ],
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    ev.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = REGISTRY["ts_interpolate_linear"].fn(spark, sf)
    got = {
        (r.user_id, r.bucket_ts.hour // 6, r.kind): r.value_interp
        for r in out.collect()
    }
    assert got[(1, 0, "known")] == 10.0
    assert got[(1, 1, "interp")] == 20.0
    assert got[(1, 2, "interp")] == 30.0
    assert got[(1, 3, "known")] == 40.0
    assert got[(2, 0, "known")] == 7.0
    # user 2 after its only anchor: edge cells, null value
    assert got[(2, 1, "edge")] is None
    assert got[(2, 3, "edge")] is None


def test_funnel_requires_step_order(spark, tmp_path):
    # u1: view->click->purchase in order (full conversion).
    # u2: click BEFORE its first view, purchase after -> the click
    #     must NOT count, so u2 stops at stage 1.
    # u3: view then purchase but no click -> stops at stage 1.
    from ctgov_ai_etl_spark.queries.registry import REGISTRY
    from ctgov_ai_etl_spark.queries import windows as _w  # noqa: F401

    ev = _events(
        spark,
        [
            (1, 1, "view", 0.0),
            (2, 1, "click", 0.0),
            (3, 1, "purchase", 0.0),
            (1, 2, "click", 0.0),
            (2, 2, "view", 0.0),
            (3, 2, "purchase", 0.0),
            (1, 3, "view", 0.0),
            (2, 3, "purchase", 0.0),
        ],
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    ev.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    r = REGISTRY["funnel_conversion"].fn(spark, sf).collect()[0]
    assert (r.n_view, r.n_view_click, r.n_view_click_purchase) == (3, 1, 1)


def test_retention_counts_distinct_users_per_offset(spark, tmp_path):
    # u1 signs up week 0, active weeks 0 and 2; u2 signs up week 0,
    # active week 0 only; u3 never signs up -> excluded entirely.
    from ctgov_ai_etl_spark.queries.registry import REGISTRY
    from ctgov_ai_etl_spark.queries import windows as _w  # noqa: F401

    ev = _events(
        spark,
        [
            (0, 1, "signup", 0.0),
            (24 * 14 + 1, 1, "click", 0.0),   # week 2
            (1, 2, "signup", 0.0),
            (2, 2, "view", 0.0),
            (3, 3, "view", 0.0),
        ],
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    ev.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = REGISTRY["retention_cohorts"].fn(spark, sf)
    got = {
        (r.cohort_week, r.week_offset): r.n_users for r in out.collect()
    }
    w0 = min(k[0] for k in got)
    assert got[(w0, 0)] == 2      # both signed-up users active week 0
    assert got[(w0, 2)] == 1      # only u1 returns in week 2
    assert (w0, 1) not in got     # nobody active in week 1
    assert all(k[0] == w0 for k in got)  # u3 creates no cohort


def test_bradley_terry_checkpoint_same_result(spark):
    """ml_bradley_terry's eager localCheckpoint of the 5-row base frame
    must not change strengths: re-derive them from the query at the
    smallest SF and check normalization + determinism across two runs."""
    import os

    from tests.conftest import SF_SMALL as sf

    if not os.path.isdir(sf):
        import pytest

        pytest.skip("no sf0.001 testdata")
    from ctgov_ai_etl_spark.queries import load_all

    reg = load_all()
    r1 = sorted(
        (r.item, r.wins, r.strength)
        for r in reg["ml_bradley_terry"].fn(spark, sf).collect()
    )
    r2 = sorted(
        (r.item, r.wins, r.strength)
        for r in reg["ml_bradley_terry"].fn(spark, sf).collect()
    )
    assert r1 == r2
    assert abs(sum(s for _, _, s in r1) - 1.0) < 1e-4
