"""CMIM / FCBF / ANOVA-F / variance-threshold tests against brute-force
NumPy oracles (same harness style as test_jmi.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fastselect_spark.selection import (
    CMIMSelector,
    FCBFSelector,
    anova_f_score,
    cmim_select,
    fcbf_select,
    feature_variances,
    variance_threshold,
)
from tests.oracle_numpy import mi_oracle


def _to_df(spark, X, y, partitions=4):
    cols = [f"f{i}" for i in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    return spark.createDataFrame(pdf).repartition(partitions), cols


# ------------------------------------------------------------------ CMIM --

def _cmim_oracle(X, y, n_select):
    p = X.shape[1]
    rel = np.array([mi_oracle(X[:, f], y) for f in range(p)])
    kmax = X.max() + 1
    joint = np.zeros((p, p))
    for i in range(p):
        for j in range(i + 1, p):
            m = mi_oracle(X[:, i] * kmax + X[:, j], y)
            joint[i, j] = joint[j, i] = m
    cond = joint - rel[None, :]  # I(f;Y|s) = I((f,s);Y) - I(s;Y)
    sel = [int(np.argmax(rel))]
    while len(sel) < n_select:
        best, bs = -1, -np.inf
        for f in range(p):
            if f in sel:
                continue
            sc = min(cond[f, s] for s in sel)
            if sc > bs:
                bs, best = sc, f
        sel.append(best)
    return sel


def test_cmim_matches_oracle(spark):
    rng = np.random.default_rng(31)
    X = rng.integers(0, 4, (250, 7))
    y = ((X[:, 1] + X[:, 3]) % 2).astype(int)
    df, cols = _to_df(spark, X, y)
    assert cmim_select(df, cols, "label", n_select=4) == _cmim_oracle(X, y, 4)


def test_cmim_penalizes_redundant_copy(spark):
    """f1 = exact copy of f0: after picking f0, the copy carries ZERO
    conditional information — CMIM must prefer any weakly-informative
    independent feature over the clone (mRMR-style redundancy avoidance,
    here via the min-conditional criterion)."""
    rng = np.random.default_rng(7)
    n = 500
    f0 = rng.integers(0, 2, n)
    y = np.where(rng.random(n) < 0.85, f0, 1 - f0)
    f1 = f0.copy()  # clone: I(f1;y|f0) = 0
    f2 = np.where(rng.random(n) < 0.60, y, rng.integers(0, 2, n))
    X = np.column_stack([f0, f1, f2])
    df, cols = _to_df(spark, X, y)
    sel = CMIMSelector(2).fit(df, cols, "label")
    assert sel.top_features_.tolist() == [0, 2]
    assert sel.selected_cols_ == ["f0", "f2"]


def test_cmim_transform_contract(spark):
    rng = np.random.default_rng(3)
    X = rng.integers(0, 3, (60, 4))
    df, cols = _to_df(spark, X, rng.integers(0, 2, 60))
    sel = CMIMSelector(2).fit(df, cols, "label")
    with pytest.raises(ValueError, match="features"):
        sel.transform(df.drop(cols[0]))


# ------------------------------------------------------------------ FCBF --

def _entropy(v):
    _, c = np.unique(v, return_counts=True)
    p = c / c.sum()
    return float(-(p * np.log2(p)).sum())


def _su_oracle(a, b):
    ha, hb = _entropy(a), _entropy(b)
    if ha + hb < 1e-12:
        return 0.0
    return 2.0 * mi_oracle(a, b) / (ha + hb)


def _fcbf_oracle(X, y, delta=0.0):
    p = X.shape[1]
    su_y = np.array([_su_oracle(X[:, f], y) for f in range(p)])
    order = sorted((f for f in range(p) if su_y[f] > delta), key=lambda f: (-su_y[f], f))
    selected, removed = [], set()
    for f in order:
        if f in removed:
            continue
        selected.append(f)
        for q in order:
            if q in removed or q in selected:
                continue
            if _su_oracle(X[:, f], X[:, q]) >= su_y[q]:
                removed.add(q)
    return selected


def test_fcbf_matches_oracle(spark):
    rng = np.random.default_rng(41)
    X = rng.integers(0, 4, (300, 6))
    y = ((X[:, 0] + X[:, 4]) % 3 == 0).astype(int)
    df, cols = _to_df(spark, X, y)
    assert fcbf_select(df, cols, "label") == _fcbf_oracle(X, y)


def test_fcbf_removes_redundant_clone(spark):
    """A noisy copy of the top feature is predominated by it (SU(f0,f1)
    high, SU(f1,y) lower) and must be eliminated; an independent
    informative feature survives."""
    rng = np.random.default_rng(11)
    n = 800
    f0 = rng.integers(0, 3, n)
    y = (f0 > 0).astype(int)
    f1 = np.where(rng.random(n) < 0.95, f0, rng.integers(0, 3, n))
    f2 = np.where(rng.random(n) < 0.70, y, rng.integers(0, 2, n))
    f3 = rng.integers(0, 4, n)  # noise
    X = np.column_stack([f0, f1, f2, f3])
    df, cols = _to_df(spark, X, y)
    got = fcbf_select(df, cols, "label")
    assert got == _fcbf_oracle(X, y)
    assert 0 in got and 1 not in got and 2 in got


def test_fcbf_delta_floor_and_constant(spark):
    """A constant feature has SU 0 and is dropped by the delta floor."""
    rng = np.random.default_rng(5)
    n = 200
    f0 = rng.integers(0, 2, n)
    X = np.column_stack([f0, np.zeros(n, dtype=int)])
    df, cols = _to_df(spark, X, f0)
    sel = FCBFSelector().fit(df, cols, "label")
    assert sel.top_features_.tolist() == [0]
    with pytest.raises(ValueError, match="features"):
        sel.transform(df.drop("f1"))


# ------------------------------------------------------- ANOVA / variance --

def _anova_oracle(X, y):
    k = len(np.unique(y))
    n = len(y)
    groups = [X[y == c] for c in np.unique(y)]
    mu = X.mean(axis=0)
    ssb = sum(len(g) * (g.mean(axis=0) - mu) ** 2 for g in groups)
    ssw = sum(((g - g.mean(axis=0)) ** 2).sum(axis=0) for g in groups)
    msb = ssb / (k - 1)
    msw = ssw / (n - k)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(msw > 0, msb / msw, np.where(msb > 0, np.inf, 0.0))


def test_anova_matches_oracle(spark):
    rng = np.random.default_rng(13)
    y = rng.integers(0, 3, 400)
    X = rng.normal(0, 1, (400, 5))
    X[:, 1] += y * 0.8  # informative
    X[:, 3] += y * 2.5  # strongly informative
    df, cols = _to_df(spark, np.round(X, 6), y)
    got = anova_f_score(df, cols, "label")
    np.testing.assert_allclose(got, _anova_oracle(np.round(X, 6), y), rtol=1e-8)
    assert got[3] > got[1] > got[0]


def test_anova_constant_and_separable(spark):
    """Constant feature → 0; zero within-class variance with distinct
    means → +inf (documented convention, same as fisher_score)."""
    y = np.array([0, 0, 1, 1])
    X = np.column_stack([[5.0, 5.0, 5.0, 5.0], [1.0, 1.0, 2.0, 2.0]])
    df, cols = _to_df(spark, X, y, partitions=2)
    got = anova_f_score(df, cols, "label")
    assert got[0] == 0.0 and np.isinf(got[1])


def test_variance_threshold(spark):
    rng = np.random.default_rng(19)
    n = 300
    X = np.column_stack([
        np.full(n, 7.0),              # constant -> dropped at 0.0
        rng.normal(0, 0.1, n),        # tiny variance
        rng.normal(0, 2.0, n),        # large variance
    ])
    df, cols = _to_df(spark, X, np.zeros(n, dtype=int))
    var = feature_variances(df, cols)
    np.testing.assert_allclose(var, X.var(axis=0), rtol=1e-9, atol=1e-12)
    assert variance_threshold(df, cols) == [1, 2]
    assert variance_threshold(df, cols, threshold=1.0) == [2]


# ---------------------------------------------------------------- BH FDR --

def _bh_oracle(pvals, alpha):
    """statsmodels multipletests(method='fdr_bh') semantics in NumPy."""
    p = np.asarray(pvals, dtype=np.float64)
    m = len(p)
    order = np.argsort(p, kind="stable")
    ranked = p[order]
    q = m * ranked / np.arange(1, m + 1)
    adj = np.minimum(1.0, np.minimum.accumulate(q[::-1])[::-1])
    crit = alpha * np.arange(1, m + 1) / m
    below = np.nonzero(ranked <= crit)[0]
    thr = ranked[below[-1]] if len(below) else None
    sel = (p <= thr) if thr is not None else np.zeros(m, dtype=bool)
    p_adj = np.empty(m)
    p_adj[order] = adj
    return p_adj, sel.astype(int)


def test_fdr_bh_matches_oracle(spark):
    from fastselect_spark.selection import fdr_bh

    rng = np.random.default_rng(7)
    # a mix of strong signals and uniform nulls so the step-up threshold
    # lands mid-table
    pv = np.concatenate([rng.uniform(0, 1e-4, 20), rng.uniform(0, 1, 180)])
    feats = [f"f{i:04d}" for i in range(len(pv))]
    df = spark.createDataFrame(
        list(zip(feats, pv.tolist())), schema="feature string, p_value double"
    ).repartition(6)
    out = fdr_bh(df, alpha=0.05, num_partitions=5)
    rows = {r["feature"]: r for r in out.collect()}
    assert len(rows) == len(pv)
    p_adj, sel = _bh_oracle(pv, 0.05)
    m = len(pv)
    ranks = {}
    for f, r in rows.items():
        i = int(f[1:])
        assert rows[f]["p_adj"] == pytest.approx(p_adj[i], abs=0, rel=1e-12)
        assert rows[f]["selected"] == sel[i]
        assert rows[f]["p_bonf"] == min(1.0, m * pv[i])
        ranks[r["rank"]] = f
    assert sorted(ranks) == list(range(1, m + 1))  # a permutation of 1..m


def test_fdr_bh_driver_path_matches_distributed(spark, monkeypatch):
    """The small-input driver fast path must equal the two-pass
    range-partitioned kernel row-for-row (exact doubles)."""
    import fastselect_spark.selection._agg as aggmod
    from fastselect_spark.selection import fdr_bh

    pv = spark.range(5_000).selectExpr(
        "CAST(id AS STRING) AS feature",
        "((id * 2654435761) % 1000003) / 1000003.0 AS p_value",
    )
    fast = fdr_bh(pv, num_partitions=8).toPandas().sort_values(
        "feature"
    ).reset_index(drop=True)
    monkeypatch.setattr(aggmod, "small_frame", lambda *_a, **_k: False)
    slow = fdr_bh(pv, num_partitions=8).toPandas().sort_values(
        "feature"
    ).reset_index(drop=True)
    assert fast.equals(slow)


def test_fdr_bh_none_selected(spark):
    from fastselect_spark.selection import fdr_bh

    df = spark.createDataFrame(
        [("a", 0.9), ("b", 0.95), ("c", 0.99)], "feature string, p_value double"
    )
    out = fdr_bh(df, alpha=0.05).collect()
    assert all(r["selected"] == 0 for r in out)
    assert all(r["p_adj"] >= 0.95 for r in out)


def test_fdr_bh_all_selected_and_empty(spark):
    from fastselect_spark.selection import fdr_bh

    df = spark.createDataFrame(
        [("a", 1e-9), ("b", 2e-9), ("c", 3e-9)], "feature string, p_value double"
    )
    out = fdr_bh(df, alpha=0.05).collect()
    assert all(r["selected"] == 1 for r in out)
    empty = spark.createDataFrame([], "feature string, p_value double")
    assert fdr_bh(empty).count() == 0


# ------------------------------------------------- selection stability --

def test_stability_topk_matches_bruteforce(spark):
    """Pairwise top-k Jaccard/Kuncheva vs a set-based Python oracle."""
    from fastselect_spark.selection import stability_topk

    rng = np.random.default_rng(11)
    folds, feats, k = 4, 10, 3
    rows = [
        (f, f"x{j}", float(rng.normal()))
        for f in range(folds)
        for j in range(feats)
    ]
    df = spark.createDataFrame(rows, "fold int, feature string, score double")
    out = {
        (r["fold_a"], r["fold_b"]): r
        for r in stability_topk(df, k=k).collect()
    }
    by_fold = {}
    for f, feat, s in rows:
        by_fold.setdefault(f, []).append((-s, feat))
    tops = {
        f: {t[1] for t in sorted(v)[:k]} for f, v in by_fold.items()
    }
    exp_term = k * k / feats
    assert len(out) == folds * (folds - 1) // 2
    for a in range(folds):
        for b in range(a + 1, folds):
            inter = len(tops[a] & tops[b])
            r = out[(a, b)]
            assert r["n_common"] == inter
            assert r["jaccard"] == pytest.approx(inter / (2 * k - inter))
            assert r["kuncheva"] == pytest.approx(
                (inter - exp_term) / (k - exp_term)
            )


def test_chi2_fold_scores_matches_per_fold_chi2(spark):
    from fastselect_spark.selection import chi2_fold_scores
    from fastselect_spark.selection.chi2 import chi2

    rng = np.random.default_rng(3)
    X = rng.integers(0, 4, (400, 5))
    y = rng.integers(0, 3, 400)
    fold = rng.integers(0, 3, 400)
    pdf = pd.DataFrame(X, columns=[f"f{i}" for i in range(5)])
    pdf["label"], pdf["fold"] = y, fold
    df = spark.createDataFrame(pdf).repartition(4)
    got = {
        (r["fold"], r["feature"]): r["score"]
        for r in chi2_fold_scores(df, [f"f{i}" for i in range(5)]).collect()
    }
    for f in range(3):
        sub = df.where(F.col("fold") == f)
        stats, _ = chi2(sub, [f"f{i}" for i in range(5)], "label")
        for i, s in enumerate(stats):
            assert got[(f, f"f{i}")] == pytest.approx(float(s), rel=1e-12)


def test_stability_driver_path_matches_distributed(spark, monkeypatch):
    """The small-table driver fast path must return exactly the distributed
    window/join rows (values compared exactly — same doubles)."""
    import fastselect_spark.selection._agg as aggmod
    from fastselect_spark.selection import stability_topk

    rng = np.random.default_rng(3)
    rows = [
        (f, f"x{j}", float(rng.normal()))
        for f in range(4)
        for j in range(7)
    ]
    df = spark.createDataFrame(rows, "fold int, feature string, score double")
    fast = stability_topk(df, k=3).toPandas().sort_values(
        ["fold_a", "fold_b"]
    ).reset_index(drop=True)
    monkeypatch.setattr(aggmod, "small_frame", lambda *_a, **_k: False)
    slow = stability_topk(df, k=3).toPandas().sort_values(
        ["fold_a", "fold_b"]
    ).reset_index(drop=True)
    assert fast.equals(slow)


def test_stability_driver_path_orders_nan_like_spark(spark, monkeypatch):
    """Spark's ``desc(score)`` ranks NaN above every number and NULL last;
    the driver replica must pick the same top-k sets. Folds 10-14 each hold
    one feature, so n_common against them spells out fold 0's set."""
    import fastselect_spark.selection._agg as aggmod
    import fastselect_spark.selection.stability as stab
    from fastselect_spark.selection import stability_topk

    feats = ["a", "b", "c", "d", "e"]
    # row order matters to a NaN-unaware sort: this one made it keep {b, c}
    rows = [(0, "b", 3.0), (0, "c", 2.0), (0, "a", float("nan")), (0, "d", 1.0), (0, "e", None)]
    rows += [(10 + i, x, 1.0) for i, x in enumerate(feats)]
    df = spark.createDataFrame(rows, "fold int, feature string, score double")

    def run(driver: bool):
        ran = []
        real = stab._stability_topk_driver
        monkeypatch.setattr(aggmod, "small_frame", lambda *_a, **_k: driver)
        monkeypatch.setattr(
            stab, "_stability_topk_driver", lambda *a, **kw: ran.append(1) or real(*a, **kw)
        )
        out = stability_topk(df, k=2).toPandas()
        monkeypatch.undo()
        assert bool(ran) == driver
        out = out.sort_values(["fold_a", "fold_b"]).reset_index(drop=True)
        first = out[out.fold_a == 0].set_index("fold_b")["n_common"]
        return {x for i, x in enumerate(feats) if first[10 + i] == 1}, out

    driver_set, driver_out = run(True)
    dist_set, dist_out = run(False)
    assert driver_set == dist_set == {"a", "b"}
    assert driver_out.equals(dist_out)


def test_stability_short_fold_uses_actual_sizes(spark):
    """When a fold's score table holds fewer than k features, overlap
    metrics must use the ACTUAL set sizes (|A|+|B|−r Jaccard denominator,
    per-pair Kuncheva correction — round-5 ADVICE fix)."""
    from fastselect_spark.selection import stability_topk

    # fold 0 has 3 features, fold 1 only 1; k=2 -> sizes (2, 1)
    rows = [
        (0, "a", 3.0), (0, "b", 2.0), (0, "c", 1.0),
        (1, "a", 5.0),
    ]
    df = spark.createDataFrame(rows, "fold int, feature string, score double")
    r = stability_topk(df, k=2).collect()[0]
    # A = {a, b}, B = {a}; r = 1 -> jaccard = 1 / (2 + 1 - 1) = 0.5
    assert r["n_common"] == 1
    assert abs(r["jaccard"] - 0.5) < 1e-12
    # kuncheva: exp = 2*1/3, denom = min(2,1) - exp = 1/3 -> (1 - 2/3)/(1/3) = 1
    assert abs(r["kuncheva"] - 1.0) < 1e-12


def test_stability_kuncheva_k_equals_p_is_null(spark):
    from fastselect_spark.selection import stability_topk

    df = spark.createDataFrame(
        [(0, "a", 1.0), (0, "b", 2.0), (1, "a", 3.0), (1, "b", 0.5)],
        "fold int, feature string, score double",
    )
    rows = stability_topk(df, k=2).collect()
    assert rows[0]["kuncheva"] is None and rows[0]["jaccard"] == 1.0


# --------------------------------------------------- dispersion ratio --

def test_dispersion_ratio_matches_numpy(spark):
    from fastselect_spark.selection import dispersion_ratios

    rng = np.random.default_rng(5)
    X = rng.integers(0, 6, (300, 4))
    pdf = pd.DataFrame(X, columns=[f"f{i}" for i in range(4)])
    df = spark.createDataFrame(pdf).repartition(3)
    got = {
        r["feature"]: r["dispersion"]
        for r in dispersion_ratios(df, [f"f{i}" for i in range(4)]).collect()
    }
    for i in range(4):
        x = X[:, i] + 1.0
        am = x.mean()
        gm = np.exp(np.log(x).mean())
        assert got[f"f{i}"] == pytest.approx(am / gm, rel=1e-9)
    # constant feature scores exactly 1
    cdf = spark.createDataFrame([(2,)] * 10, "c int")
    one = dispersion_ratios(cdf, ["c"]).collect()[0]
    assert one["dispersion"] == pytest.approx(1.0, abs=1e-15)


# ------------------------------------------------------- stump gain --

def _stump_oracle(X, y):
    """Brute-force best-split IG per feature."""
    def H(labels):
        if len(labels) == 0:
            return 0.0
        h = 0.0
        for c in sorted(set(labels)):
            p = (labels == c).mean()
            h -= p * np.log(p)
        return h

    n = len(y)
    hp = H(y)
    out = []
    for j in range(X.shape[1]):
        vals = np.unique(X[:, j])
        best = (0.0, None)
        for v in vals[:-1]:
            m = X[:, j] <= v
            gain = hp - m.mean() * H(y[m]) - (~m).mean() * H(y[~m])
            if gain > best[0] + 1e-12:
                best = (gain, float(v))
        out.append(best)
    return out


def test_stump_gain_matches_bruteforce(spark):
    from fastselect_spark.selection import stump_gain_scores

    rng = np.random.default_rng(17)
    X = rng.integers(0, 5, (300, 6))
    y = ((X[:, 2] >= 3).astype(int) + rng.integers(0, 2, 300)).clip(0, 1)
    pdf = pd.DataFrame(X, columns=[f"f{i}" for i in range(6)])
    pdf["label"] = y
    df = spark.createDataFrame(pdf).repartition(4)
    got = {
        r["feature"]: r
        for r in stump_gain_scores(df, [f"f{i}" for i in range(6)]).collect()
    }
    for j, (gain, thr) in enumerate(_stump_oracle(X, y)):
        r = got[f"f{j}"]
        assert r["gain"] == pytest.approx(gain, abs=1e-9)
        if thr is not None:
            assert r["threshold"] == thr
    # the planted feature dominates
    assert max(got.values(), key=lambda r: r["gain"])["feature"] == "f2"


def test_stump_gain_constant_feature(spark):
    from fastselect_spark.selection import stump_gain_scores

    df = spark.createDataFrame(
        [(1, 0), (1, 1), (1, 0)], "c int, label int"
    )
    r = stump_gain_scores(df, ["c"]).collect()[0]
    assert r["threshold"] is None and r["gain"] == 0.0
