"""Streaming-expression evaluator parity vs numpy closed forms.

Reference behaviors mirrored from solrj-streaming eval/ (MovingAverageEvaluator,
ExponentialMovingAverageEvaluator, TimeDifferencingEvaluator, ...); numeric
ground truth from numpy, with known-value checks for the p-value machinery.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_spark.functions import evaluators as E


SERIES = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
OTHER = [2.0, 7.0, 1.0, 8.0, 2.0, 8.0, 1.0, 8.0, 2.0, 8.0]


@pytest.fixture(scope="module")
def row(spark):
    """One-row DataFrame carrying the two test series as array<double>."""
    return spark.createDataFrame([(SERIES, OTHER)], "a array<double>, b array<double>")


def _one(df, col):
    return df.select(col.alias("v")).collect()[0]["v"]


def test_scalar_evaluators(spark):
    df = spark.createDataFrame([(2.0, 3.0, "Hello")], "x double, y double, s string")
    got = df.select(
        E.ev("add", "x", "y", 1.0).alias("add"),
        E.ev("mult", "x", "y").alias("mult"),
        E.ev("pow", "x", 10).alias("pow"),
        E.ev("recip", "x").alias("recip"),
        E.ev("if", E.ev("gt", "x", "y"), F.lit(1), F.lit(0)).alias("iff"),
        E.ev("factorial", 5).alias("fact"),
        E.ev("binomialCoefficient", 10, 3).alias("choose"),
        E.ev("lower", "s").alias("low"),
        E.ev("trunc", F.lit(-1.77), 1).alias("trunc"),
    ).collect()[0]
    assert got["add"] == 6.0 and got["mult"] == 6.0 and got["pow"] == 1024.0
    assert got["recip"] == 0.5 and got["iff"] == 0
    assert got["fact"] == 120 and got["choose"] == 120
    assert got["low"] == "hello"
    assert got["trunc"] == pytest.approx(-1.7)


def test_ebe_and_norms(row):
    a, b = np.array(SERIES), np.array(OTHER)
    assert _one(row, E.ev("ebeAdd", "a", "b")) == pytest.approx(list(a + b))
    assert _one(row, E.ev("ebeMultiply", "a", "b")) == pytest.approx(list(a * b))
    assert _one(row, E.ev("scalarMultiply", 2.0, "a")) == pytest.approx(list(2 * a))
    assert _one(row, E.ev("dotProduct", "a", "b")) == pytest.approx(float(a @ b))
    assert _one(row, E.ev("l1norm", "a")) == pytest.approx(float(np.abs(a).sum()))
    assert _one(row, E.ev("l2norm", "a")) == pytest.approx(float(np.linalg.norm(a)))
    assert _one(row, E.ev("linfnorm", "a")) == pytest.approx(float(np.abs(a).max()))
    cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert _one(row, E.ev("cosineSimilarity", "a", "b")) == pytest.approx(cos)
    assert _one(row, E.ev("euclidean", "a", "b")) == pytest.approx(
        float(np.linalg.norm(a - b)))
    assert _one(row, E.ev("manhattan", "a", "b")) == pytest.approx(
        float(np.abs(a - b).sum()))
    assert _one(row, E.ev("chebyshev", "a", "b")) == pytest.approx(
        float(np.abs(a - b).max()))
    canb = float((np.abs(a - b) / (np.abs(a) + np.abs(b))).sum())
    assert _one(row, E.ev("canberra", "a", "b")) == pytest.approx(canb)


def test_array_transforms(row):
    a = np.array(SERIES)
    assert _one(row, E.ev("unitize", "a")) == pytest.approx(
        list(a / np.linalg.norm(a)))
    assert _one(row, E.ev("normalizeSum", "a")) == pytest.approx(list(a / a.sum()))
    assert _one(row, E.ev("standardize", "a")) == pytest.approx(
        list((a - a.mean()) / a.std(ddof=1)))
    mms = (a - a.min()) / (a.max() - a.min())
    assert _one(row, E.ev("minMaxScale", "a")) == pytest.approx(list(mms))
    assert _one(row, E.ev("rev", "a")) == list(reversed(SERIES))
    assert _one(row, E.ev("asc", "a")) == sorted(SERIES)
    assert _one(row, E.ev("copyOfRange", "a", 2, 5)) == SERIES[2:5]
    assert _one(row, E.ev("copyOf", "a", 3)) == SERIES[:3]
    assert _one(row, E.ev("copyOf", "a", 12)) == SERIES + [0.0, 0.0]
    assert _one(row, E.ev("length", "a")) == 10
    assert _one(row, E.ev("valueAt", "a", 4)) == SERIES[4]
    assert _one(row, E.ev("sequence", 5, 10, 3)) == [10.0, 13.0, 16.0, 19.0, 22.0]
    assert _one(row, E.ev("natural", 4)) == [0, 1, 2, 3]
    assert _one(row, E.ev("ones", 3)) == [1.0, 1.0, 1.0]
    assert _one(row, E.ev("mean", "a")) == pytest.approx(float(a.mean()))
    assert _one(row, E.ev("var", "a")) == pytest.approx(float(a.var(ddof=1)))
    assert _one(row, E.ev("stddev", "a")) == pytest.approx(float(a.std(ddof=1)))
    assert _one(row, E.ev("sumSq", "a")) == pytest.approx(float((a * a).sum()))
    assert _one(row, E.ev("percentile", "a", 50)) == pytest.approx(
        float(np.percentile(a, 50)))
    assert _one(row, E.ev("percentile", "a", 90)) == pytest.approx(
        float(np.percentile(a, 90)))


def test_moving_windows(row):
    a = np.array(SERIES)
    w = 4
    expect = [float(a[i:i + w].mean()) for i in range(len(a) - w + 1)]
    assert _one(row, E.ev("movingAvg", "a", w)) == pytest.approx(expect)
    med = [float(np.median(a[i:i + 3])) for i in range(len(a) - 2)]
    assert _one(row, E.ev("movingMedian", "a", 3)) == pytest.approx(med)
    mad = [float(np.abs(a[i:i + w] - a[i:i + w].mean()).mean())
           for i in range(len(a) - w + 1)]
    assert _one(row, E.ev("movingMAD", "a", w)) == pytest.approx(mad)
    # EMA per ExponentialMovingAverageEvaluator.java: seed = mean(first w),
    # then ema = alpha*(x-last)+last
    alpha = 2.0 / (w + 1)
    ema = [float(a[:w].mean())]
    for x in a[w:]:
        ema.append(alpha * (x - ema[-1]) + ema[-1])
    assert _one(row, E.ev("expMovingAvg", "a", w)) == pytest.approx(ema)
    # window larger than the series -> empty
    assert _one(row, E.ev("movingAvg", "a", 11)) == []


def test_diff_conv_integral(row):
    a, b = np.array(SERIES), np.array(OTHER)
    assert _one(row, E.ev("diff", "a")) == pytest.approx(list(np.diff(a)))
    assert _one(row, E.ev("diff", "a", 3)) == pytest.approx(list(a[3:] - a[:-3]))
    assert _one(row, E.ev("conv", "a", "b")) == pytest.approx(
        list(np.convolve(a, b)))
    assert _one(row, E.ev("integral", "a")) == pytest.approx(float(np.trapz(a)))
    d = _one(row, E.ev("derivative", "a"))
    assert d[0] == pytest.approx(a[1] - a[0])
    assert d[-1] == pytest.approx(a[-1] - a[-2])
    assert d[3] == pytest.approx((a[4] - a[2]) / 2)


def test_finddelay(spark):
    base = [0.0, 0.0, 0.0, 1.0, 5.0, 2.0, 0.0, 0.0, 0.0, 0.0]
    shifted = [0.0] * 2 + base[:-2]  # b lags a by 2
    df = spark.createDataFrame([(base, shifted)], "a array<double>, b array<double>")
    # xcorr convention: delay k maximizing sum a[i]*b[i-k] -> negative when b lags
    assert abs(_one(df, E.ev("finddelay", "a", "b"))) == 2


def test_matrix_ops(spark):
    df = spark.createDataFrame([(1,)], "i int")
    m = E.ev("matrix", F.array(F.lit(1.0), F.lit(2.0)),
             F.array(F.lit(3.0), F.lit(4.0)))
    got = df.select(
        E.ev("transpose", m).alias("t"),
        E.ev("matrixMult", m, m).alias("mm"),
        E.ev("sumRows", m).alias("sr"),
        E.ev("sumColumns", m).alias("sc"),
        E.ev("grandSum", m).alias("gs"),
        E.ev("rowAt", m, 1).alias("r1"),
        E.ev("colAt", m, 0).alias("c0"),
        E.ev("rowCount", m).alias("rc"),
        E.ev("columnCount", m).alias("cc"),
    ).collect()[0]
    assert got["t"] == [[1.0, 3.0], [2.0, 4.0]]
    assert got["mm"] == [[7.0, 10.0], [15.0, 22.0]]  # [[1,2],[3,4]]^2
    assert got["sr"] == [3.0, 7.0] and got["sc"] == [4.0, 6.0]
    assert got["gs"] == 10.0
    assert got["r1"] == [3.0, 4.0] and got["c0"] == [1.0, 3.0]
    assert got["rc"] == 2 and got["cc"] == 2


def test_distributions(spark):
    df = spark.createDataFrame([(0.0,)], "x double")
    nd = E.ev("normalDistribution", 0.0, 1.0)
    assert _one(df, E.ev("cumulativeProbability", nd, 0.0)) == pytest.approx(0.5, abs=1e-6)
    assert _one(df, E.ev("cumulativeProbability", nd, 1.96)) == pytest.approx(0.975, abs=1e-4)
    assert _one(df, E.ev("probability", nd, 0.0)) == pytest.approx(
        1 / math.sqrt(2 * math.pi))
    ud = E.ev("uniformDistribution", 2.0, 6.0)
    assert _one(df, E.ev("cumulativeProbability", ud, 3.0)) == pytest.approx(0.25)
    pd_ = E.ev("poissonDistribution", 3.0)
    # P(X=2) for Poisson(3) = 9/2 * e^-3
    assert _one(df, E.ev("probability", pd_, 2)) == pytest.approx(4.5 * math.exp(-3))
    assert _one(df, E.ev("cumulativeProbability", pd_, 2)) == pytest.approx(
        math.exp(-3) * (1 + 3 + 4.5))
    bd = E.ev("binomialDistribution", 10, 0.5)
    assert _one(df, E.ev("probability", bd, 5)) == pytest.approx(252 / 1024)
    samples = nd.sample(spark, 4000, seed=11).agg(
        F.avg("sample"), F.stddev("sample")).collect()[0]
    assert samples[0] == pytest.approx(0.0, abs=0.1)
    assert samples[1] == pytest.approx(1.0, abs=0.1)


def test_describe_corr_regress(spark):
    rng = np.random.default_rng(5)
    x = rng.normal(10, 2, 400)
    y = 3.0 * x + rng.normal(0, 1, 400)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double")

    d = E.describe(df, "x").collect()[0]
    assert d["n"] == 400
    assert d["mean"] == pytest.approx(float(x.mean()))
    assert d["stddev"] == pytest.approx(float(x.std(ddof=1)))
    assert d["geometric_mean"] == pytest.approx(
        float(np.exp(np.log(x).mean())), rel=1e-6)

    c = E.dataset_corr(df, "x", "y").collect()[0]["corr"]
    assert c == pytest.approx(float(np.corrcoef(x, y)[0, 1]))
    sp = E.dataset_corr(df, "x", "y", method="spearman").collect()[0]["corr"]
    # spearman of a monotone-ish relation ~ pearson of ranks
    rx, ry = x.argsort().argsort(), y.argsort().argsort()
    assert sp == pytest.approx(float(np.corrcoef(rx, ry)[0, 1]), abs=1e-6)

    r = E.regress(df, "x", "y").collect()[0]
    slope, intercept = np.polyfit(x, y, 1)
    assert r["slope"] == pytest.approx(float(slope), rel=1e-6)
    assert r["intercept"] == pytest.approx(float(intercept), rel=1e-4, abs=1e-3)
    assert 0.9 < r["r_squared"] <= 1.0

    ols = E.ols_regress(df, ["x"], "y")
    assert ols["coefficients"][0] == pytest.approx(float(intercept), rel=1e-4, abs=1e-3)
    assert ols["coefficients"][1] == pytest.approx(float(slope), rel=1e-6)

    pf = E.polyfit(df, "x", "y", degree=2)
    np_c = np.polyfit(x, y, 2)  # highest power first
    assert pf["coefficients"][2] == pytest.approx(float(np_c[0]), abs=1e-2)


def test_betainc_and_pvalues():
    # I_x(a,b) known values: I_0.5(1,1)=0.5; I_x(1,b) = 1-(1-x)^b
    assert E.betainc(1, 1, 0.5) == pytest.approx(0.5)
    assert E.betainc(1, 3, 0.3) == pytest.approx(1 - 0.7 ** 3)
    # two-sided t p-value at t=2.0, df=10 -> 0.07338... (scipy reference value)
    assert E.t_sf(2.0, 10) == pytest.approx(0.073388, abs=1e-5)
    # F upper tail, d1=2 closed form: sf = (1 + 2f/d2)^(-d2/2) = 1.3^-10
    assert E.f_sf(3.0, 2, 20) == pytest.approx(1.3 ** -10, abs=1e-9)


def test_ttest_anova_mw_ks(spark):
    rng = np.random.default_rng(9)
    g1 = rng.normal(10.0, 2.0, 150)
    g2 = rng.normal(11.0, 2.5, 120)
    rows = [("a", float(v)) for v in g1] + [("b", float(v)) for v in g2]
    df = spark.createDataFrame(rows, "g string, v double")

    tt = E.ttest(df, "v", "g")
    # Welch closed form recomputed in numpy
    se2 = g1.var(ddof=1) / len(g1) + g2.var(ddof=1) / len(g2)
    t_np = (g1.mean() - g2.mean()) / math.sqrt(se2)
    assert tt["t_statistic"] == pytest.approx(float(t_np), rel=1e-9)
    assert 0.0 < tt["p_value"] < 0.05  # means differ by ~1 sd/5 with n=270

    pt = E.paired_ttest(
        spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(g1[:100], g1[:100] + 0.5
                                                  + rng.normal(0, 0.1, 100))],
            "a double, b double"), "a", "b")
    assert pt["p_value"] < 1e-6  # constant 0.5 shift is overwhelmingly significant

    an = E.anova(df, "v", "g")
    # with 2 groups, F == (pooled-variance Student t)^2 — not Welch t^2
    n1, n2 = len(g1), len(g2)
    sp2 = ((n1 - 1) * g1.var(ddof=1) + (n2 - 1) * g2.var(ddof=1)) / (n1 + n2 - 2)
    t_pooled = (g1.mean() - g2.mean()) / math.sqrt(sp2 * (1 / n1 + 1 / n2))
    assert an["f_ratio"] == pytest.approx(t_pooled * t_pooled, rel=1e-9)
    assert 0.0 < an["p_value"] < 0.01  # pooled vs Welch p differ in deep tails

    mw = E.mann_whitney(df, "v", "g")
    assert 0.0 < mw["p_value"] < 0.05
    # U + U' = n1*n2
    assert 0 <= mw["u_statistic"] <= len(g1) * len(g2)

    ks = E.kolmogorov_smirnov(df, "v", "g")
    # D for same-family shifted normals is smallish but > 0
    assert 0.0 < ks["d_statistic"] < 1.0
    g_same = np.random.default_rng(1).normal(10.0, 2.0, 150)
    same = spark.createDataFrame(
        [("a", float(v)) for v in g_same[:75]] + [("b", float(v)) for v in g_same[75:]],
        "g string, v double")
    ks_same = E.kolmogorov_smirnov(same, "v", "g")
    # numpy ground truth for this split: D=0.10667, p=0.7638
    assert ks_same["d_statistic"] == pytest.approx(0.10667, abs=1e-4)
    assert ks_same["p_value"] == pytest.approx(0.76377, abs=1e-4)


def test_prefix_sum_callers_leave_nothing_persisted(spark):
    """distributed_cumsum pins its range boundaries without a cache, and
    the eager statistics release what they persist, so its callers leave
    the session's persistent RDDs as they found them; the running sums
    still match a sort on the driver across range partitions (a string
    key, repeated values, and nulls at ordinal 0)."""
    from solr_spark.functions.funcquery import with_ord

    rng = np.random.default_rng(11)
    xs = rng.integers(0, 40, 300)
    rows = [(i, float(x), float(x + rng.normal()), "ab"[i % 2],
             None if i % 17 == 0 else f"k{x:03d}") for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "id long, x double, y double, g string, s string")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())

    got = {r.id: r.rord_s for r in with_ord(df, "s", reverse=True).collect()}
    vals = sorted({s for *_, s in rows if s is not None})
    rord = {v: len(vals) - i for i, v in enumerate(vals)}
    assert got == {i: rord.get(s, 0) for i, *_, s in rows}
    E.mann_whitney(df, "x", "g")
    E.kolmogorov_smirnov(df, "x", "g")
    E.dataset_corr(df, "x", "y", method="spearman").collect()
    assert set(persisted().keys()) == before


def test_hist_freqtable_ecdf(spark):
    vals = [1.0, 1.0, 2.0, 2.0, 2.0, 3.0, 8.0, 9.0, 10.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    h = E.hist(df, "v", bins=3).collect()
    assert sum(r["count"] for r in h) == len(vals)
    assert h[0]["lo"] == pytest.approx(1.0) and h[-1]["hi"] == pytest.approx(10.0)
    ft = {r["value"]: r for r in E.freq_table(df, "v").collect()}
    assert ft[2.0]["count"] == 3 and ft[2.0]["pct"] == pytest.approx(0.3)
    e = {r["value"]: r["cdf"] for r in E.empirical_distribution(df, "v").collect()}
    assert e[2.0] == pytest.approx(0.5) and e[10.0] == pytest.approx(1.0)


def test_kmeans(spark):
    rng = np.random.default_rng(3)
    c0 = rng.normal((0, 0, 0), 0.3, (40, 3))
    c1 = rng.normal((10, 10, 10), 0.3, (40, 3))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([c0, c1]))]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    assigned, cents = E.kmeans(df, "vec", k=2, iters=4)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    lo = {got[i] for i in range(40)}
    hi = {got[i] for i in range(40, 80)}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    cvals = [r["centroid"] for r in cents.collect()]
    means = sorted(float(np.mean(c)) for c in cvals)
    assert means[0] == pytest.approx(0.0, abs=0.5)
    assert means[1] == pytest.approx(10.0, abs=0.5)


def test_registry_dispatch():
    assert len(E.EVALUATORS) >= 120
    with pytest.raises(NotImplementedError, match="out of scope"):
        E.ev("fft")
    with pytest.raises(KeyError, match="unknown evaluator"):
        E.ev("nope")
