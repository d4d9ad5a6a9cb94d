"""R1-R5: seeded degradations — reference semantics
(/root/reference/func_aux/func_test.py:548-574) + the distributed-
determinism property the reference never needed (partition independence)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def make_windows(spark, n=6, T=5, F_=3):
    rows = []
    for w in range(n):
        mat = [[float(w * 100 + t * 10 + f) for f in range(F_)] for t in range(T)]
        rows.append((w, mat))
    return spark.createDataFrame(rows, "window_id long, matrix array<array<double>>")


@pytest.mark.parametrize("kind", ["packet_loss", "missing_variables", "clock_offset", "drift"])
def test_degrade_deterministic_under_repartition(spark, kind):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows

    df = make_windows(spark)
    a = degrade_windows(df, "matrix", "window_id", 0.5, kind, seed=123)
    b = degrade_windows(df.repartition(5), "matrix", "window_id", 0.5, kind, seed=123)
    pa = {r["window_id"]: r["matrix"] for r in a.collect()}
    pb = {r["window_id"]: r["matrix"] for r in b.collect()}
    assert pa == pb


def test_packet_loss_zeroes_whole_timesteps(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows

    df = make_windows(spark, n=4, T=8, F_=3)
    out = degrade_windows(df, "matrix", "window_id", 0.6, "packet_loss", seed=1).collect()
    changed = False
    for r in out:
        m = np.array(r["matrix"]) + 1.0  # originals have no -1 values
        for t in range(m.shape[0]):
            row = m[t] - 1.0
            assert (row == 0).all() or (row != 0).all() or t == 0  # whole-row zeroing
            changed |= (row == 0).all()
    assert changed


def test_missing_variables_zeroes_whole_features(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows

    df = make_windows(spark, n=4, T=5, F_=4)
    out = degrade_windows(df, "matrix", "window_id", 0.5, "missing_variables", seed=2).collect()
    for r in out:
        m = np.array(r["matrix"])
        zero_cols = (m == 0).all(axis=0)
        partial = ((m == 0).any(axis=0)) & ~zero_cols
        assert not partial.any()  # a feature is zeroed everywhere or nowhere


def test_clock_offset_is_circular_roll(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows

    df = make_windows(spark, n=3, T=6, F_=2)
    orig = {r["window_id"]: np.array(r["matrix"]) for r in df.collect()}
    out = degrade_windows(df, "matrix", "window_id", 0.5, "clock_offset", seed=3).collect()
    for r in out:
        m = np.array(r["matrix"])
        o = orig[r["window_id"]]
        assert any((np.roll(o, s, axis=0) == m).all() for s in range(-3, 4))


def test_severity_zero_is_identity(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows

    df = make_windows(spark)
    out = degrade_windows(df, "matrix", "window_id", 0.0, "drift", seed=9)
    assert {r["window_id"]: r["matrix"] for r in out.collect()} == {
        r["window_id"]: r["matrix"] for r in df.collect()
    }


@pytest.mark.parametrize("kind", ["packet_loss", "missing_variables", "clock_offset", "drift"])
def test_empty_window_degrades_to_empty(spark, kind):
    """A zero-row window matrix comes back as an empty matrix (np.stack
    raises on zero rows) and leaves its neighbours' seeded draws alone."""
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows

    full = make_windows(spark, n=3, T=4, F_=2)
    empty = spark.createDataFrame([(99, [])], "window_id long, matrix array<array<double>>")
    got = {
        r["window_id"]: r["matrix"]
        for r in degrade_windows(full.union(empty), "matrix", "window_id", 0.5, kind, seed=7).collect()
    }
    want = {
        r["window_id"]: r["matrix"]
        for r in degrade_windows(full, "matrix", "window_id", 0.5, kind, seed=7).collect()
    }
    assert got.pop(99) == []
    assert got == want


def test_r5_permutation_preserves_multiset(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import permute_feature_globally

    df = spark.createDataFrame([(i, float(i * 7 % 13)) for i in range(50)], ["rid", "v"])
    out = permute_feature_globally(df, "v", seed=5, order_tiebreak="rid")
    vals_in = sorted(r["v"] for r in df.collect())
    vals_out = sorted(r["v"] for r in out.collect())
    assert vals_in == vals_out
    assert out.count() == 50
    # deterministic given the seed
    again = permute_feature_globally(df, "v", seed=5, order_tiebreak="rid")
    assert {r["rid"]: r["v"] for r in out.collect()} == {
        r["rid"]: r["v"] for r in again.collect()
    }


@pytest.mark.parametrize("kind", ["packet_loss", "missing_variables", "clock_offset", "drift"])
def test_hash_degrade_deterministic_under_repartition(spark, kind):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    df = make_windows(spark)
    a = degrade_windows_hash(df, "matrix", "window_id", 0.5, kind, seed=123)
    b = degrade_windows_hash(df.repartition(5), "matrix", "window_id", 0.5, kind, seed=123)
    pa = {r["window_id"]: r["matrix"] for r in a.collect()}
    pb = {r["window_id"]: r["matrix"] for r in b.collect()}
    assert pa == pb


def test_hash_clock_offset_is_circular_roll(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    df = make_windows(spark, n=8, T=5, F_=3)
    orig = {r["window_id"]: r["matrix"] for r in df.collect()}
    out = degrade_windows_hash(df, "matrix", "window_id", 0.5, "clock_offset", seed=9)
    got = {r["window_id"]: r["matrix"] for r in out.collect()}
    for wid, mat in got.items():
        x, y = np.array(orig[wid]), np.array(mat)
        rolls = [s for s in range(-2, 3) if np.array_equal(np.roll(x, s, axis=0), y)]
        assert rolls, wid  # result must be SOME roll within ±int(0.5·T)


def test_hash_drift_adds_linear_ramps(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    T, F_ = 5, 3
    df = make_windows(spark, n=4, T=T, F_=F_)
    orig = {r["window_id"]: r["matrix"] for r in df.collect()}
    out = degrade_windows_hash(df, "matrix", "window_id", 0.4, "drift", seed=9)
    for r in out.collect():
        diff = np.array(r["matrix"]) - np.array(orig[r["window_id"]])
        # row 0 untouched; row t = t/(T-1) · coef — proportional ramps
        assert np.allclose(diff[0], 0.0)
        coef = diff[T - 1]
        for t_ in range(T):
            assert np.allclose(diff[t_], coef * t_ / (T - 1), atol=1e-12), t_


def test_hash_permutation_matches_reference_pairing(spark):
    """permute_feature_hash = value at the row's id-rank drawn from the
    md5-key order — verify against a driver-side recomputation."""
    import hashlib

    from cicevse2024_tfm_datapipeline_spark.operators.degrade import (
        permute_feature_hash,
    )

    rows = [(i, float(i * 7 % 13)) for i in range(40)]
    df = spark.createDataFrame(rows, ["rid", "v"])
    out = permute_feature_hash(df, "v", "rid", seed=17)
    got = {r["rid"]: r["v"] for r in out.collect()}

    by_id = sorted(rows)
    by_key = sorted(rows, key=lambda r: (hashlib.md5(f"17|{r[0]}".encode()).hexdigest(), r[0]))
    want = {rid: by_key[slot][1] for slot, (rid, _) in enumerate(by_id)}
    assert got == want

    # partition-independent + multiset-preserving
    again = permute_feature_hash(df.repartition(7), "v", "rid", seed=17)
    assert {r["rid"]: r["v"] for r in again.collect()} == want
    assert sorted(got.values()) == sorted(v for _, v in rows)


def test_pii_redaction_counts_and_cleans(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        pii_count_exprs,
        redact_pii_expr,
    )

    df = spark.createDataFrame(
        [
            (0, "write to bob@example.org or call 555-123-4567 today"),
            (1, "server at 10.1.2.3 rebooted"),
            (2, "no sensitive content here"),
            (3, "two mails: a@b.io c.d@e-f.com and 1.2.3.4"),
        ],
        ["rid", "text"],
    )
    counts = pii_count_exprs("text")
    red = redact_pii_expr("text")
    rcounts = pii_count_exprs("red")
    out = df.select(
        "rid",
        counts["email"].alias("e"),
        counts["phone"].alias("p"),
        counts["ipv4"].alias("i"),
        red.alias("red"),
    ).select("rid", "e", "p", "i", "red", *[rcounts[k].alias(f"r_{k}") for k in ("email", "phone", "ipv4")])
    rows = {r["rid"]: r for r in out.collect()}
    assert (rows[0]["e"], rows[0]["p"], rows[0]["i"]) == (1, 1, 0)
    assert (rows[1]["e"], rows[1]["p"], rows[1]["i"]) == (0, 0, 1)
    assert (rows[2]["e"], rows[2]["p"], rows[2]["i"]) == (0, 0, 0)
    assert (rows[3]["e"], rows[3]["i"]) == (2, 1)
    for r in rows.values():
        assert r["r_email"] == r["r_phone"] == r["r_ipv4"] == 0
    assert "<PII>" in rows[0]["red"] and "bob@example.org" not in rows[0]["red"]
    assert rows[2]["red"] == "no sensitive content here"
