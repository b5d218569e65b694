"""Unit tests for the r7 operator additions: data-quality expectations
(operators/expectations.py), leakage-safe group-aware splits
(operators/splits.py), and the deletion-neighborhood fuzzy join
(operators/fuzzy.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.expectations import Rule, validate
from ctgov_ai_etl_spark.operators.fuzzy import fuzzy_self_join_lev1
from ctgov_ai_etl_spark.operators.splits import group_aware_split


# ------------------------------------------------------- expectations

@pytest.fixture()
def messy(spark):
    return spark.createDataFrame(
        [
            (1, "A", 10.0, "ok-1"),
            (2, "A", -5.0, "ok-2"),   # range violation
            (2, "B", 20.0, "bad"),    # duplicate id + regex violation
            (None, "Z", 30.0, "ok-3"),  # null id + unaccepted status
        ],
        "id long, status string, price double, tag string",
    )


def test_validate_counts_each_rule(spark, messy):
    dim = spark.createDataFrame([(1,), (2,)], "ref_id long")
    report = {
        r.rule: (r.violations, r.total, r.passed)
        for r in validate(
            messy,
            [
                Rule("id_not_null", "not_null", "id"),
                Rule("id_unique", "unique", "id"),
                Rule("status_ok", "accepted_values", "status",
                     {"values": ["A", "B"]}),
                Rule("price_range", "in_range", "price", {"lo": 0, "hi": 100}),
                Rule("tag_format", "regex_match", "tag", {"pattern": "^ok-"}),
                Rule("id_fk", "referential", "id",
                     {"ref": dim, "ref_col": "ref_id"}),
            ],
        ).collect()
    }
    assert report["id_not_null"] == (1, 4, False)
    # ids (1, 2, 2): count=3, distinct=2 -> one row beyond the first
    assert report["id_unique"] == (1, 4, False)
    assert report["status_ok"] == (1, 4, False)   # Z
    assert report["price_range"] == (1, 4, False)  # -5.0
    assert report["tag_format"] == (1, 4, False)   # "bad"
    # null id has no match -> FK violation (key is required)
    assert report["id_fk"] == (1, 4, False)


def test_validate_green_table_passes(spark):
    df = spark.createDataFrame([(1, "A"), (2, "B")], "id long, s string")
    out = validate(
        df,
        [
            Rule("nn", "not_null", "id"),
            Rule("uq", "unique", "id"),
        ],
    ).collect()
    assert all(r.passed and r.violations == 0 and r.total == 2 for r in out)


def test_validate_rejects_bad_rules(spark, messy):
    with pytest.raises(ValueError, match=">= 1 rule"):
        validate(messy, [])
    with pytest.raises(ValueError, match="unknown kind"):
        validate(messy, [Rule("x", "bogus", "id")])


# ------------------------------------------------------------- splits

def test_group_aware_split_keeps_groups_together(spark):
    rows = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # groups of 4 consecutive ids
    comp = rows.select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 4).alias("component")
    )
    out = group_aware_split(rows, comp, "doc_id", test_fraction=0.25)
    sides = out.groupBy("component").agg(
        F.countDistinct("split").alias("n_sides"), F.count("*").alias("n")
    )
    assert sides.filter(F.col("n_sides") != 1).count() == 0
    assert sides.filter(F.col("n") != 4).count() == 0
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "test"}  # 25% of 50 groups: both present


def test_group_aware_split_singletons_self_label(spark):
    rows = spark.createDataFrame([(1,), (2,)], "doc_id long")
    empty = spark.createDataFrame([], "doc_id long, component long")
    out = {r.doc_id: r.component for r in
           group_aware_split(rows, empty, "doc_id").collect()}
    assert out == {1: 1, 2: 2}


def test_group_aware_split_validates_fraction(spark):
    rows = spark.createDataFrame([(1,)], "doc_id long")
    empty = spark.createDataFrame([], "doc_id long, component long")
    with pytest.raises(ValueError, match="test_fraction"):
        group_aware_split(rows, empty, "doc_id", test_fraction=1.5)


# -------------------------------------------------------------- fuzzy

def test_fuzzy_lev1_matches_bruteforce(spark):
    names = [
        "alpha", "alphas", "alpa", "alPha",  # del / ins / del / sub vs alpha
        "beta", "betta", "gamma", "delta", "dolta",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(names)], "id long, s string"
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join_lev1(df, "id", "s").collect()
    }
    # brute force in python
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    want = {
        (i, j, lev(a, b))
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and lev(a, b) <= 1
    }
    assert got == want
    assert (0, 1, 1) in got and (0, 2, 1) in got and (0, 3, 1) in got


def test_fuzzy_lev1_empty_and_identical_strings(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "a"), (4, "ab")], "id long, s string"
    )
    got = {(r.id_a, r.id_b, r.dist)
           for r in fuzzy_self_join_lev1(df, "id", "s").collect()}
    assert got == {(1, 2, 1), (1, 3, 1), (2, 3, 0), (2, 4, 1), (3, 4, 1)}


def test_fuzzy_lev1_hypothesis_random_strings(spark):
    # Deletion-neighborhood completeness on adversarial short strings:
    # every Levenshtein<=1 pair must be found (no false negatives),
    # and the verify stage must kill every >1 candidate.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abc", min_size=0, max_size=5),
            min_size=2, max_size=8,
        )
    )
    def check(strings):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(strings)], "id long, s string"
        )
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in fuzzy_self_join_lev1(df, "id", "s").collect()
        }
        want = {
            (i, j, lev(a, b))
            for i, a in enumerate(strings)
            for j, b in enumerate(strings)
            if i < j and lev(a, b) <= 1
        }
        assert got == want

    check()


def test_group_aware_split_has_no_near_dup_leakage(spark):
    # THE guarantee the operator exists for: on the real corpus, no
    # jaccard>=0.95 near-dup pair may straddle the train/test boundary.
    from pyspark.sql import functions as F

    from ctgov_ai_etl_spark.operators.dedup import (
        connected_components,
        jaccard_token_pairs,
    )
    from ctgov_ai_etl_spark.tables import load_table
    from tests.conftest import SF_SMALL

    d = load_table(spark, SF_SMALL, "documents")
    pairs = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.95, spanning=True
    ).select("id_a", "id_b")
    comp = connected_components(d.select("doc_id"), pairs, id_col="doc_id")
    split = group_aware_split(d.select("doc_id"), comp, "doc_id", 0.2)
    # check against the FULL pair list, not the spanning subset
    full = jaccard_token_pairs(d, "doc_id", "text", threshold=0.95)
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leaks = (
        full.join(sa, "id_a").join(sb, "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaks == 0
    # and the split actually produced both sides on this corpus
    sides = {r.split for r in split.select("split").distinct().collect()}
    assert sides == {"train", "test"}


def test_profile_columns_report(spark):
    from ctgov_ai_etl_spark.operators.expectations import profile_columns

    df = spark.createDataFrame(
        [(1, "x", None), (2, "y", 5.0), (2, None, 7.5)],
        "id long, s string, v double",
    )
    rep = {r.column: r for r in profile_columns(df, ["id", "s", "v"]).collect()}
    assert set(rep) == {"id", "s", "v"}
    assert all(r.total == 3 for r in rep.values())
    assert (rep["id"].nulls, rep["id"].n_distinct) == (0, 2)
    assert (rep["id"].min_value, rep["id"].max_value) == ("1", "2")
    assert (rep["s"].nulls, rep["s"].n_distinct) == (1, 2)
    assert (rep["v"].nulls, rep["v"].min_value, rep["v"].max_value) == (
        1, "5.0", "7.5",
    )
    with pytest.raises(ValueError, match=">= 1 column"):
        profile_columns(df, [])


def test_profile_columns_spread_unchanged(spark):
    """profile_columns prunes+spreads its input; the report must be
    unchanged (vs a hand computation) for an in-memory relation."""
    from ctgov_ai_etl_spark.operators.expectations import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, None, 4.0), (3, "b", None), (3, "b", 8.0)],
        "id long, s string, v double",
    )
    rep = {r.column: r for r in profile_columns(df, ["id", "s", "v"]).collect()}
    assert rep["id"].total == 4 and rep["id"].n_distinct == 3
    assert rep["s"].nulls == 1 and rep["s"].min_value == "a"
    assert rep["v"].nulls == 1 and rep["v"].max_value == "8.0"


def test_containment_pairs_finds_subsets_jaccard_misses(spark):
    from ctgov_ai_etl_spark.operators.fuzzy import containment_pairs

    # doc 1 is a tiny excerpt of docs 2/5 (containment 1.0, jaccard
    # ~0.3); docs 3/4 are an identical pair.  Every doc-2 token also
    # appears in doc 5 so the min_df=2 band keeps the full sets and
    # the size asymmetry is real (banded |1|=3 < |2|=|5|=10).
    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, big),
            (3, "one two three four"),
            (4, "one two three four"),  # identical pair, both directions
            (5, big),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs, "doc_id", "text", threshold=0.9
        ).collect()
    }
    assert got[(1, 2)] == 1.0 and got[(1, 5)] == 1.0
    assert (2, 1) not in got and (5, 1) not in got  # big side never probes into small
    assert got[(3, 4)] == 1.0 and got[(4, 3)] == 1.0  # ties: both ways
    assert got[(2, 5)] == 1.0 and got[(5, 2)] == 1.0  # identical big pair
    assert set(got) == {(1, 2), (1, 5), (3, 4), (4, 3), (2, 5), (5, 2)}


def test_containment_fuzz_vs_bruteforce(spark):
    # Random tiny corpora: prefix-filtered containment must equal the
    # brute-force definition over the identical df band.
    import random

    from ctgov_ai_etl_spark.operators.fuzzy import containment_pairs

    rng = random.Random(7411)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        docs = [
            (i, " ".join(sorted(rng.sample(vocab, rng.randint(1, 8)))))
            for i in range(rng.randint(4, 10))
        ]
        t = 0.7
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): r.containment
            for r in containment_pairs(
                df, "doc_id", "text", threshold=t, min_df=2, max_df=100
            ).collect()
        }
        # brute force over the SAME banded universe
        sets = {i: set(s.split()) for i, s in docs}
        dfreq = {}
        for s in sets.values():
            for tok in s:
                dfreq[tok] = dfreq.get(tok, 0) + 1
        banded = {
            i: {tok for tok in s if 2 <= dfreq[tok] <= 100}
            for i, s in sets.items()
        }
        want = {}
        for a, sa in banded.items():
            for b, sb in banded.items():
                if a == b or not sa or len(sa) > len(sb):
                    continue
                c = round(len(sa & sb) / len(sa), 6)
                if c >= t:
                    want[(a, b)] = c
        assert got == want, (trial, docs)
