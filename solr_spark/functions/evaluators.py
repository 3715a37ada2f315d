"""Streaming-expression math evaluators re-expressed as Spark Column algebra.

Reference analog: the ~250-entry evaluator registry in
solr/solrj-streaming/src/java/org/apache/solr/client/solrj/io/Lang.java:424-531
and the eval/ package (MovingAverageEvaluator.java, CorrelationEvaluator.java,
RegressionEvaluator.java, ...). In Solr these run row-at-a-time on tuples inside
the /stream handler; here each evaluator is one of

  * a **Column expression** (scalar math / boolean / string / conversions) —
    whole-stage codegen, no Python;
  * an **array evaluator** over `array<double>` columns via higher-order
    functions (`transform` / `aggregate` / `zip_with` / `slice`) — still pure
    JVM expressions, so a row carrying a 10k-point series never leaves Tungsten;
  * a **dataset-level statistic** (`describe`, `regress`, `ttest`, `anova`,
    `mann_whitney`, `hist`, ...) — a single DataFrame aggregation pass with the
    closed form finished driver-side on O(1) aggregate values. Nothing
    collects row data to the driver.

Deliberate deviations (documented, small): `integral` is trapezoidal with unit
dx (Solr fits a spline first); `derivative` is central finite differences for
the same reason; Kendall's tau and the spline/loess/FFT/geometry/Monte-Carlo
families are out of scope (SURVEY §2.8) — the names raise with a pointer.

Entry points: `ev(name, *args)` dispatches by reference name (e.g.
``ev("movingAvg", "series", 4)``); every evaluator is also a plain function.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(x: Any) -> Column:
    """Coerce an evaluator argument: Column passes through, str is a column
    name, everything else is a literal."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(x)


def _arr(x: Any) -> Column:
    return _c(x).cast("array<double>")


def _num(x: Any) -> Column:
    return _c(x).cast("double")


# ---------------------------------------------------------------------------
# scalar numeric / boolean / string evaluators (Lang.java:486-531)
# ---------------------------------------------------------------------------

def _if_ev(cond, a, b):
    return F.when(_c(cond), _c(a)).otherwise(_c(b))


def _factorial(x):
    # integer factorial via Spark's built-in factorial (NULL outside 0..20,
    # matching the long-overflow bound)
    return F.factorial(_c(x).cast("int"))


def _binomial_coefficient(n, k):
    # Spark has no lgamma builtin; multiplicative closed form via aggregate
    # over sequence(1, k): prod (n-k+i)/i — exact for moderate n, pure JVM.
    n, k = _num(n), _num(k)
    return F.round(
        F.aggregate(F.sequence(F.lit(1), k.cast("int")), F.lit(1.0),
                    lambda acc, i: acc * (n - k + i.cast("double")) / i.cast("double"))
    ).cast("long")


SCALAR_EVALUATORS: dict[str, Any] = {
    # arithmetic
    "add": lambda *xs: sum((_num(x) for x in xs[1:]), _num(xs[0])),
    "sub": lambda a, b: _num(a) - _num(b),
    "mult": lambda *xs: _prod_cols(xs),
    "div": lambda a, b: _num(a) / _num(b),
    "mod": lambda a, b: _num(a) % _num(b),
    "pow": lambda a, b: F.pow(_num(a), _num(b)),
    "abs": lambda x: F.abs(_num(x)),
    "log": lambda x: F.log(_num(x)),
    "log10": lambda x: F.log10(_num(x)),
    "sqrt": lambda x: F.sqrt(_num(x)),
    "cbrt": lambda x: F.cbrt(_num(x)),
    "ceil": lambda x: F.ceil(_num(x)),
    "floor": lambda x: F.floor(_num(x)),
    "round": lambda x, s=0: F.round(_num(x), int(s)),
    "trunc": lambda x, s=0: _trunc(x, s),
    "precision": lambda x, s: F.round(_num(x), int(s)),
    "recip": lambda x: F.lit(1.0) / _num(x),
    "factorial": _factorial,
    "binomialCoefficient": _binomial_coefficient,
    # trig / hyperbolic
    "sin": lambda x: F.sin(_num(x)), "cos": lambda x: F.cos(_num(x)),
    "tan": lambda x: F.tan(_num(x)), "asin": lambda x: F.asin(_num(x)),
    "acos": lambda x: F.acos(_num(x)), "atan": lambda x: F.atan(_num(x)),
    "sinh": lambda x: F.sinh(_num(x)), "cosh": lambda x: F.cosh(_num(x)),
    "tanh": lambda x: F.tanh(_num(x)),
    "cosine": lambda x: F.cos(_num(x)),  # Lang aliases "cosine" → CosineEvaluator
    # boolean
    "and": lambda *xs: _fold(lambda a, b: a & b, [_c(x) for x in xs]),
    "or": lambda *xs: _fold(lambda a, b: a | b, [_c(x) for x in xs]),
    "not": lambda x: ~_c(x),
    "eor": lambda a, b: _c(a) != _c(b),
    "eq": lambda a, b: _c(a) == _c(b),
    "gt": lambda a, b: _c(a) > _c(b),
    "gteq": lambda a, b: _c(a) >= _c(b),
    "lt": lambda a, b: _c(a) < _c(b),
    "lteq": lambda a, b: _c(a) <= _c(b),
    "isNull": lambda x: _c(x).isNull(),
    "notNull": lambda x: _c(x).isNotNull(),
    "if": _if_ev,
    "coalesce": lambda *xs: F.coalesce(*[_c(x) for x in xs]),
    "matches": lambda x, pat: _c(x).rlike(pat if isinstance(pat, str) else pat),
    # string
    "concat": lambda *xs: F.concat(*[_c(x) for x in xs]),
    "lower": lambda x: F.lower(_c(x)),
    "upper": lambda x: F.upper(_c(x)),
    "trim": lambda x: F.trim(_c(x)),
    "ltrim": lambda x: F.ltrim(_c(x)),
    "rtrim": lambda x: F.rtrim(_c(x)),
    "split": lambda x, sep: F.split(_c(x), sep),
    "repeat": lambda x, n: F.repeat(_c(x), int(n)),
    "indexOf": lambda arr, v: F.array_position(_c(arr), v).cast("long") - 1,
    "uuid": lambda: F.expr("uuid()"),
    # conversions
    "double": lambda x: _c(x).cast("double"),
    "long": lambda x: _c(x).cast("long"),
    "dateTime": lambda x, fmt="yyyy-MM-dd'T'HH:mm:ss'Z'": F.date_format(_c(x), fmt),
}


def _prod_cols(xs):
    out = _num(xs[0])
    for x in xs[1:]:
        out = out * _num(x)
    return out


def _fold(f, cols):
    out = cols[0]
    for c in cols[1:]:
        out = f(out, c)
    return out


def _trunc(x, s=0):
    # truncate toward zero at scale s (round() half-up differs on .5)
    p = F.lit(float(10 ** int(s)))
    v = _num(x) * p
    return (F.when(v >= 0, F.floor(v)).otherwise(F.ceil(v))) / p


# ---------------------------------------------------------------------------
# array evaluators over array<double> columns (eval/EBEAddEvaluator.java etc.)
# ---------------------------------------------------------------------------

def ebe_add(a, b):
    return F.zip_with(_arr(a), _arr(b), lambda x, y: x + y)


def ebe_subtract(a, b):
    return F.zip_with(_arr(a), _arr(b), lambda x, y: x - y)


def ebe_multiply(a, b):
    return F.zip_with(_arr(a), _arr(b), lambda x, y: x * y)


def ebe_divide(a, b):
    return F.zip_with(_arr(a), _arr(b), lambda x, y: x / y)


def scalar_add(s, a):
    return F.transform(_arr(a), lambda x: x + _num(s))


def scalar_subtract(s, a):
    return F.transform(_arr(a), lambda x: x - _num(s))


def scalar_multiply(s, a):
    return F.transform(_arr(a), lambda x: x * _num(s))


def scalar_divide(s, a):
    return F.transform(_arr(a), lambda x: x / _num(s))


def dot_product(a, b):
    return F.aggregate(F.zip_with(_arr(a), _arr(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _asum(a):
    return F.aggregate(_arr(a), F.lit(0.0), lambda acc, x: acc + x)


def l1norm(a):
    return F.aggregate(_arr(a), F.lit(0.0), lambda acc, x: acc + F.abs(x))


def l2norm(a):
    return F.sqrt(F.aggregate(_arr(a), F.lit(0.0), lambda acc, x: acc + x * x))


def linfnorm(a):
    return F.array_max(F.transform(_arr(a), F.abs))


def cosine_similarity(a, b):
    return dot_product(a, b) / (l2norm(a) * l2norm(b))


def cosine_distance(a, b):
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean(a, b):
    return l2norm(ebe_subtract(a, b))


def manhattan(a, b):
    return l1norm(ebe_subtract(a, b))


def chebyshev(a, b):
    return linfnorm(ebe_subtract(a, b))


def canberra(a, b):
    return F.aggregate(
        F.zip_with(_arr(a), _arr(b),
                   lambda x, y: F.when(F.abs(x) + F.abs(y) == 0, F.lit(0.0))
                                 .otherwise(F.abs(x - y) / (F.abs(x) + F.abs(y)))),
        F.lit(0.0), lambda acc, x: acc + x)


def unitize(a):
    a = _arr(a)
    return F.transform(a, lambda x: x / l2norm(a))


def normalize_sum(a):
    a = _arr(a)
    return F.transform(a, lambda x: x / _asum(a))


def arr_mean(a):
    a = _arr(a)
    return _asum(a) / F.size(a)


def arr_variance(a):
    """Sample variance of an array column (commons-math DescriptiveStatistics)."""
    a = _arr(a)
    mu = arr_mean(a)
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x - mu) * (x - mu)) \
        / (F.size(a) - 1)


def arr_stddev(a):
    return F.sqrt(arr_variance(a))


def standardize(a):
    """(x - mean) / sample-stddev per element (eval/NormalizeEvaluator.java)."""
    a = _arr(a)
    mu, sd = arr_mean(a), arr_stddev(a)
    return F.transform(a, lambda x: (x - mu) / sd)


def zscores(a):
    return standardize(a)


def min_max_scale(a, lo=0.0, hi=1.0):
    a = _arr(a)
    mn, mx = F.array_min(a), F.array_max(a)
    lo_, hi_ = _num(lo), _num(hi)
    return F.transform(a, lambda x: F.when(mx == mn, lo_)
                       .otherwise(lo_ + (x - mn) * (hi_ - lo_) / (mx - mn)))


def rev(a):
    return F.reverse(_arr(a))


def asc_sort(a):
    return F.array_sort(_arr(a))


def copy_of(a, n=None):
    a = _arr(a)
    if n is None:
        return a
    # Java copyOf pads with zeros past the end
    n = int(n)
    padded = F.concat(a, F.array_repeat(F.lit(0.0), n))
    return F.slice(padded, 1, n)


def copy_of_range(a, start, end):
    return F.slice(_arr(a), int(start) + 1, int(end) - int(start))


def arr_length(a):
    return F.size(_arr(a))


def add_all(*arrays):
    return F.concat(*[_arr(a) for a in arrays])


def append_ev(a, *vals):
    return F.concat(_arr(a), F.array(*[_num(v) for v in vals]))


def sequence_ev(length, start, stride):
    n, s, d = int(length), _num(start), _num(stride)
    return F.transform(F.sequence(F.lit(0), F.lit(n - 1)),
                       lambda i: s + i.cast("double") * d)


def natural_ev(n):
    return F.sequence(F.lit(0), F.lit(int(n) - 1))


def ones(n):
    return F.array_repeat(F.lit(1.0), int(n))


def zeros(n):
    return F.array_repeat(F.lit(0.0), int(n))


def value_at(a, i):
    return F.element_at(_arr(a), int(i) + 1)  # Solr valueAt is 0-based


def pair_sort(a, b):
    """Sort both arrays by the first (eval/PairSortEvaluator.java): returns a
    2-row matrix [sorted_a, b_reordered]."""
    a, b = _arr(a), _arr(b)
    zipped = F.array_sort(F.arrays_zip(a.alias("x"), b.alias("y")))
    return F.array(F.transform(zipped, lambda s: s["x"]),
                   F.transform(zipped, lambda s: s["y"]))


def diff_ev(a, lag=1):
    """First differences at `lag` (eval/TimeDifferencingEvaluator.java):
    out[i] = a[i+lag] - a[i], length n-lag."""
    a = _arr(a)
    k = int(lag)
    n = F.size(a)
    return F.when(n > k, F.zip_with(F.slice(a, k + 1, F.greatest(n - k, F.lit(0))),
                                    F.slice(a, 1, F.greatest(n - k, F.lit(0))),
                                    lambda x, y: x - y)) \
            .otherwise(F.array().cast("array<double>"))


def _windows(a, w):
    """sequence of window start indices (1-based) for a sliding window of w."""
    return F.sequence(F.lit(1), F.size(a) - w + 1)


def moving_avg(a, window):
    """Sliding-window mean, output length n-w+1 (eval/MovingAverageEvaluator.java)."""
    a, w = _arr(a), int(window)
    body = F.transform(_windows(a, w),
                       lambda i: F.aggregate(F.slice(a, i, w), F.lit(0.0),
                                             lambda acc, x: acc + x) / w)
    return F.when(F.size(a) >= w, body).otherwise(F.array().cast("array<double>"))


def moving_median(a, window):
    a, w = _arr(a), int(window)
    mid = (w + 1) // 2

    def med(i):
        s = F.array_sort(F.slice(a, i, w))
        if w % 2 == 1:
            return F.element_at(s, mid)
        return (F.element_at(s, w // 2) + F.element_at(s, w // 2 + 1)) / 2.0

    return F.when(F.size(a) >= w, F.transform(_windows(a, w), med)) \
            .otherwise(F.array().cast("array<double>"))


def moving_mad(a, window):
    """Sliding-window mean absolute deviation around the window mean."""
    a, w = _arr(a), int(window)

    def mad(i):
        win = F.slice(a, i, w)
        mu = F.aggregate(win, F.lit(0.0), lambda acc, x: acc + x) / w
        return F.aggregate(win, F.lit(0.0), lambda acc, x: acc + F.abs(x - mu)) / w

    return F.when(F.size(a) >= w, F.transform(_windows(a, w), mad)) \
            .otherwise(F.array().cast("array<double>"))


def exp_moving_avg(a, window, alpha=None):
    """EMA seeded with the mean of the first `window` points, then
    ema = alpha*(x - last) + last for each later point; output length n-w+1
    (eval/ExponentialMovingAverageEvaluator.java, default alpha=2/(w+1))."""
    a, w = _arr(a), int(window)
    al = F.lit(float(alpha) if alpha is not None else 2.0 / (w + 1.0))
    seed = F.aggregate(F.slice(a, 1, w), F.lit(0.0), lambda acc, x: acc + x) / w
    tail = F.slice(a, w + 1, F.greatest(F.size(a) - w, F.lit(0)))
    trace = F.aggregate(
        tail,
        F.array(seed),
        lambda acc, x: F.concat(
            acc, F.array(al * (x - F.element_at(acc, -1)) + F.element_at(acc, -1))),
    )
    return F.when(F.size(a) >= w, trace).otherwise(F.array().cast("array<double>"))


def integral_ev(a):
    """Trapezoidal integral with unit dx. Deviation: Solr fits a spline
    (eval/IntegrateEvaluator.java); trapezoid is the distributed-friendly form."""
    a = _arr(a)
    n = F.size(a)
    pairs = F.zip_with(F.slice(a, 1, F.greatest(n - 1, F.lit(0))),
                       F.slice(a, 2, F.greatest(n - 1, F.lit(0))),
                       lambda x, y: (x + y) / 2.0)
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


def derivative_ev(a):
    """Central finite differences (ends one-sided). Deviation: Solr
    differentiates a fitted spline (eval/DerivativeEvaluator.java)."""
    a = _arr(a)
    n = F.size(a)

    def d(i):
        first = F.element_at(a, 2) - F.element_at(a, 1)
        last = F.element_at(a, -1) - F.element_at(a, -2)
        mid = (F.element_at(a, i + 1) - F.element_at(a, i - 1)) / 2.0
        return F.when(i == 1, first).when(i == n, last).otherwise(mid)

    return F.transform(F.sequence(F.lit(1), n), d)


def convolution(a, b):
    """Full discrete convolution, output length na+nb-1 (eval/ConvolutionEvaluator.java)."""
    a, b = _arr(a), _arr(b)
    na, nb = F.size(a), F.size(b)

    def ck(k):  # k is 1-based output index
        j0 = F.greatest(F.lit(1), k - nb + 1)
        j1 = F.least(na, k)
        return F.aggregate(
            F.sequence(j0, j1), F.lit(0.0),
            lambda acc, j: acc + F.element_at(a, j) * F.element_at(b, k - j + 1))

    return F.transform(F.sequence(F.lit(1), na + nb - 1), ck)


def find_delay(a, b):
    """Lag of b relative to a = argmax cross-correlation (eval/FindDelayEvaluator.java):
    delay k maximizing sum_i a[i]*b[i-k], k in (-nb, na)."""
    a, b = _arr(a), _arr(b)
    na, nb = F.size(a), F.size(b)

    def xc(k):
        i0 = F.greatest(F.lit(1), k + 1)
        i1 = F.least(na, k + nb)
        return F.aggregate(
            F.sequence(i0, i1), F.lit(0.0),
            lambda acc, i: acc + F.element_at(a, i) * F.element_at(b, i - k))

    ks = F.sequence(F.lit(1) - nb, na - 1)
    scored = F.transform(ks, lambda k: F.struct(xc(k).alias("c"), k.alias("k")))
    best = F.array_max(scored)
    return best["k"].cast("long")


def arr_percentile(a, p):
    """Percentile of an array column, commons-math R-6-ish linear interpolation
    (matches numpy 'linear')."""
    a = F.array_sort(_arr(a))
    n = F.size(a)
    rank = (_num(p) / 100.0) * (n - 1).cast("double")
    lo = F.floor(rank).cast("int")
    frac = rank - lo.cast("double")
    return F.element_at(a, lo + 1) * (1 - frac) + \
        F.element_at(a, F.least(lo + 2, n)) * frac


# -- matrix evaluators: matrix == array<array<double>> ----------------------

def matrix_ev(*rows):
    return F.array(*[_arr(r) for r in rows])


def transpose(m):
    m = _c(m)
    return F.transform(F.sequence(F.lit(1), F.size(F.element_at(m, 1))),
                       lambda j: F.transform(m, lambda r: F.element_at(r, j)))


def matrix_mult(a, b):
    bt = transpose(b)
    return F.transform(_c(a), lambda row: F.transform(
        bt, lambda col: F.aggregate(F.zip_with(row, col, lambda x, y: x * y),
                                    F.lit(0.0), lambda acc, x: acc + x)))


def sum_rows(m):
    return F.transform(_c(m), lambda r: F.aggregate(r, F.lit(0.0),
                                                    lambda acc, x: acc + x))


def sum_columns(m):
    return sum_rows(transpose(m))


def grand_sum(m):
    return F.aggregate(sum_rows(m), F.lit(0.0), lambda acc, x: acc + x)


def row_at(m, i):
    return F.element_at(_c(m), int(i) + 1)


def col_at(m, j):
    return F.transform(_c(m), lambda r: F.element_at(r, int(j) + 1))


def row_count(m):
    return F.size(_c(m))


def column_count(m):
    return F.size(F.element_at(_c(m), 1))


# ---------------------------------------------------------------------------
# probability distributions (eval/NormalDistributionEvaluator.java etc.)
# ---------------------------------------------------------------------------

def erf_expr(x: Column) -> Column:
    """Abramowitz & Stegun 7.1.26 polynomial erf, |err| <= 1.5e-7, as a pure
    Column expression (Spark has no erf builtin)."""
    x = _num(x)
    sign = F.when(x < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * ax)
    poly = (F.lit(0.254829592) * t - F.lit(0.284496736) * t * t
            + F.lit(1.421413741) * t * t * t
            - F.lit(1.453152027) * t * t * t * t
            + F.lit(1.061405429) * t * t * t * t * t)
    return sign * (F.lit(1.0) - poly * F.exp(-ax * ax))


class Distribution:
    """A distribution record: pdf/pmf, cdf, and (where expressible) sampling —
    all as Column expressions so `probability`/`cumulativeProbability`/`sample`
    stay JVM-side."""

    def __init__(self, kind: str, **params: float):
        self.kind = kind
        self.params = params

    def probability(self, x) -> Column:
        x = _num(x)
        p = self.params
        if self.kind == "normal":
            mu, sd = p["mean"], p["sd"]
            z = (x - F.lit(mu)) / F.lit(sd)
            return F.exp(-z * z / 2) / F.lit(sd * math.sqrt(2 * math.pi))
        if self.kind == "uniform":
            lo, hi = p["lo"], p["hi"]
            return F.when((x >= lo) & (x <= hi), F.lit(1.0 / (hi - lo))) \
                    .otherwise(F.lit(0.0))
        if self.kind == "poisson":
            lam = p["mean"]
            k = x.cast("int")
            return F.exp(F.lit(-lam)) * F.pow(F.lit(lam), k) / F.factorial(k)
        if self.kind == "binomial":
            n, pr = int(p["n"]), p["p"]
            k = x.cast("int")
            comb = F.aggregate(
                F.sequence(F.lit(1), k), F.lit(1.0),
                lambda acc, i: acc * (F.lit(float(n)) - k.cast("double") + i.cast("double"))
                / i.cast("double"))
            return comb * F.pow(F.lit(pr), k) * F.pow(F.lit(1 - pr), F.lit(n) - k)
        raise NotImplementedError(self.kind)

    def cumulative_probability(self, x) -> Column:
        x = _num(x)
        p = self.params
        if self.kind == "normal":
            mu, sd = p["mean"], p["sd"]
            return (F.lit(1.0) + erf_expr((x - mu) / F.lit(sd * math.sqrt(2.0)))) / 2
        if self.kind == "uniform":
            lo, hi = p["lo"], p["hi"]
            return F.least(F.greatest((x - lo) / F.lit(hi - lo), F.lit(0.0)), F.lit(1.0))
        if self.kind == "poisson":
            lam = p["mean"]
            return F.aggregate(
                F.sequence(F.lit(0), x.cast("int")), F.lit(0.0),
                lambda acc, k: acc + F.exp(F.lit(-lam)) * F.pow(F.lit(lam), k)
                / F.factorial(k))
        raise NotImplementedError(self.kind)

    def sample(self, spark, n: int, seed: int = 7) -> DataFrame:
        if self.kind == "normal":
            mu, sd = self.params["mean"], self.params["sd"]
            return spark.range(n).select(
                (F.randn(seed) * sd + mu).alias("sample"))
        if self.kind == "uniform":
            lo, hi = self.params["lo"], self.params["hi"]
            return spark.range(n).select(
                (F.rand(seed) * (hi - lo) + lo).alias("sample"))
        raise NotImplementedError(f"sample() for {self.kind}: inverse-transform "
                                  "not expressible JVM-side; out of scope")


def normal_distribution(mean: float, sd: float) -> Distribution:
    return Distribution("normal", mean=float(mean), sd=float(sd))


def uniform_distribution(lo: float, hi: float) -> Distribution:
    return Distribution("uniform", lo=float(lo), hi=float(hi))


def poisson_distribution(mean: float) -> Distribution:
    return Distribution("poisson", mean=float(mean))


def binomial_distribution(n: int, p: float) -> Distribution:
    return Distribution("binomial", n=n, p=float(p))


def probability(dist: Distribution, x) -> Column:
    return dist.probability(x)


def cumulative_probability(dist: Distribution, x) -> Column:
    return dist.cumulative_probability(x)


# ---------------------------------------------------------------------------
# dataset-level statistics: one aggregation pass, closed form on O(1) values
# ---------------------------------------------------------------------------

def describe(df: DataFrame, col: str) -> DataFrame:
    """eval/DescribeEvaluator.java: count/mean/gmean/sum/sumsq/std/var/min/max/
    skewness/kurtosis as a single-row aggregation."""
    c = F.col(col).cast("double")
    return df.agg(
        F.count(c).alias("n"),
        F.avg(c).alias("mean"),
        F.exp(F.avg(F.log(c))).alias("geometric_mean"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sumsq"),
        F.stddev_samp(c).alias("stddev"),
        F.var_samp(c).alias("var"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.skewness(c).alias("skewness"),
        F.kurtosis(c).alias("kurtosis"),
    )


def dataset_corr(df: DataFrame, x: str, y: str, method: str = "pearson") -> DataFrame:
    """eval/CorrelationEvaluator.java (pearson | spearman). Kendall is O(n^2)
    pair counting — out of scope (documented SURVEY §2.8)."""
    if method == "pearson":
        return df.agg(F.corr(F.col(x).cast("double"),
                             F.col(y).cast("double")).alias("corr"))
    if method == "spearman":
        # Fractional (average) ranks WITHOUT a global per-row sort: rank
        # depends only on the value, so build a per-distinct-value rank table
        # (rank(v) = #rows below v + (ties+1)/2). The running count uses the
        # DISTRIBUTED prefix sum (distributed_cumsum) — continuous data makes
        # distinct ≈ rows, and a plain Window.orderBy over the distinct table
        # would funnel it through one task.

        def _rank_table(col: str, out: str) -> DataFrame:
            per = df.groupBy(F.col(col).cast("double").alias("v")) \
                    .agg(F.count("*").cast("double").alias("c"))
            cum = distributed_cumsum(per, "v", ["c"], inclusive=False)
            return cum.select(
                F.col("v").alias(f"_{out}_v"),
                (F.col("cum_c") + (F.col("c") + 1) / 2.0).alias(out))

        ranked = (df.select(F.col(x).cast("double").alias("_rx_v"),
                            F.col(y).cast("double").alias("_ry_v"))
                    .join(_rank_table(x, "rx"), "_rx_v")
                    .join(_rank_table(y, "ry"), "_ry_v"))
        return ranked.agg(F.corr("rx", "ry").alias("corr"))
    raise NotImplementedError(f"corr method {method} (kendall out of scope)")


def dataset_cov(df: DataFrame, x: str, y: str) -> DataFrame:
    return df.agg(F.covar_samp(F.col(x).cast("double"),
                               F.col(y).cast("double")).alias("cov"))


def regress(df: DataFrame, x: str, y: str) -> DataFrame:
    """Simple OLS y = slope*x + intercept (eval/RegressionEvaluator.java):
    slope/intercept/r/r-squared via the built-in regr_* aggregates (single pass)."""
    xc, yc = f"CAST({x} AS DOUBLE)", f"CAST({y} AS DOUBLE)"
    return df.selectExpr(
        f"regr_slope({yc}, {xc}) AS slope",
        f"regr_intercept({yc}, {xc}) AS intercept",
        f"corr({yc}, {xc}) AS r",
        f"regr_r2({yc}, {xc}) AS r_squared",
        f"regr_count({yc}, {xc}) AS n",
    )


def predict_expr(slope: float, intercept: float, x) -> Column:
    """eval/PredictEvaluator.java for the simple-regression case."""
    return F.lit(float(slope)) * _num(x) + F.lit(float(intercept))


def ols_regress(df: DataFrame, x_cols: list[str], y: str) -> dict:
    """Multiple OLS (eval/OLSRegressionEvaluator.java). One aggregation pass
    accumulates X'X and X'y (p x p sums — O(p^2) aggregate values, no row data
    to the driver); the p x p normal equations solve on the driver via numpy.
    Returns {"coefficients": [b0, b1, ...], "n": n} with b0 the intercept."""
    cols = [F.lit(1.0)] + [F.col(c).cast("double") for c in x_cols]
    p = len(cols)
    aggs = []
    for i in range(p):
        for j in range(i, p):
            aggs.append(F.sum(cols[i] * cols[j]).alias(f"xx_{i}_{j}"))
        aggs.append(F.sum(cols[i] * F.col(y).cast("double")).alias(f"xy_{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = df.agg(*aggs).collect()[0]
    xtx = np.zeros((p, p))
    xty = np.zeros(p)
    for i in range(p):
        for j in range(i, p):
            xtx[i, j] = xtx[j, i] = row[f"xx_{i}_{j}"]
        xty[i] = row[f"xy_{i}"]
    beta = np.linalg.solve(xtx, xty)
    return {"coefficients": beta.tolist(), "n": int(row["n"])}


def polyfit(df: DataFrame, x: str, y: str, degree: int = 3) -> dict:
    """eval/PolyFitEvaluator.java: least-squares polynomial via the same
    normal-equation pass over Vandermonde terms x^0..x^degree."""
    terms = [f"__t{k}" for k in range(1, degree + 1)]
    aug = df.select(F.col(y),
                    *[F.pow(F.col(x).cast("double"), k).alias(t)
                      for k, t in enumerate(terms, start=1)])
    return ols_regress(aug, terms, y)


# --- incomplete beta (pure-python, for t / F p-values; Numerical-Recipes-style
# continued fraction — public domain formula) -------------------------------

def _betacf(a: float, b: float, x: float) -> float:
    MAXIT, EPS, FPMIN = 200, 3e-12, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a,b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
             + a * math.log(x) + b * math.log1p(-x))
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def t_sf(t: float, dof: float) -> float:
    """Two-sided student-t survival p-value."""
    x = dof / (dof + t * t)
    return betainc(dof / 2.0, 0.5, x)


def f_sf(f: float, d1: float, d2: float) -> float:
    """F-distribution upper-tail p-value."""
    if f <= 0:
        return 1.0
    x = d2 / (d2 + d1 * f)
    return betainc(d2 / 2.0, d1 / 2.0, x)


def ttest(df: DataFrame, value: str, group: str) -> dict:
    """Welch two-sample t-test between the two values of `group`
    (eval/TTestEvaluator.java). One groupBy pass; closed form on 2 rows."""
    rows = (df.groupBy(group)
              .agg(F.count(value).alias("n"),
                   F.avg(F.col(value).cast("double")).alias("mean"),
                   F.var_samp(F.col(value).cast("double")).alias("var"))
              .orderBy(group).collect())
    if len(rows) != 2:
        raise ValueError(f"ttest needs exactly 2 groups, got {len(rows)}")
    (n1, m1, v1), (n2, m2, v2) = [(r["n"], r["mean"], r["var"]) for r in rows]
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    dof = se2 * se2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    return {"t_statistic": t, "df": dof, "p_value": t_sf(abs(t), dof)}


def paired_ttest(df: DataFrame, a: str, b: str) -> dict:
    """eval/PairedTTestEvaluator.java: t-test on the per-row differences."""
    row = df.select((F.col(a).cast("double") - F.col(b).cast("double")).alias("d")) \
            .agg(F.count("d").alias("n"), F.avg("d").alias("mean"),
                 F.stddev_samp("d").alias("sd")).collect()[0]
    n, m, sd = row["n"], row["mean"], row["sd"]
    t = m / (sd / math.sqrt(n))
    return {"t_statistic": t, "df": n - 1, "p_value": t_sf(abs(t), n - 1)}


def anova(df: DataFrame, value: str, group: str) -> dict:
    """One-way ANOVA (eval/AnovaEvaluator.java): F and p from per-group
    (n, mean, var) — one groupBy pass."""
    rows = (df.groupBy(group)
              .agg(F.count(value).alias("n"),
                   F.avg(F.col(value).cast("double")).alias("mean"),
                   F.var_samp(F.col(value).cast("double")).alias("var"))
              .collect())
    k = len(rows)
    n_tot = sum(r["n"] for r in rows)
    grand = sum(r["n"] * r["mean"] for r in rows) / n_tot
    ss_between = sum(r["n"] * (r["mean"] - grand) ** 2 for r in rows)
    ss_within = sum((r["n"] - 1) * r["var"] for r in rows)
    d1, d2 = k - 1, n_tot - k
    f = (ss_between / d1) / (ss_within / d2)
    return {"f_ratio": f, "p_value": f_sf(f, d1, d2)}


@contextmanager
def _persisted(df: DataFrame):
    """`df` persisted for the block (the passes of one eager statistic over
    it), released after."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def distributed_cumsum(per: DataFrame, order_col: str, cols: list[str],
                       inclusive: bool = True) -> DataFrame:
    """Prefix sums over a value-keyed table WITHOUT a global unpartitioned
    window (Spark warns on `Window.orderBy` with no partitionBy: every row
    funnels through ONE task). Same shape as the docid prefix sum
    (indexing/docids.py): range-partition by the order column, per-partition
    totals to the driver (one row per partition), exclusive offsets broadcast
    back, running sum within each partition. Exact for integer-valued counts
    (the rank-statistics inputs here). Adds `cum_<col>` per requested column.

    One job (after the range sampling job) collects each range partition's
    min key and totals. The running sums re-derive a row's partition from
    those mins by a binary search (a key belongs to the last partition
    whose min is <= it; nulls sort first): a pure function of the key, so
    nothing pins the sampled boundaries and nothing is left persisted. The
    price is one more evaluation of `per` per action on the result; a
    caller that consumes the result at once persists `per` around it
    (mann_whitney, kolmogorov_smirnov).
    """
    spark = per.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    parts = sorted(
        per.repartitionByRange(n_parts, order_col)
        .groupBy(F.spark_partition_id().alias("__pid"))
        .agg(F.min(order_col).alias("__min"),
             *[F.sum(c).alias(c) for c in cols]).collect(),
        key=lambda r: r["__pid"])
    mins = [r["__min"] for r in parts if r["__min"] is not None]
    key = F.col(order_col)

    def bucket(lo: int, hi: int):
        """The index in [lo, hi] of the last min <= key (lo for a null)."""
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return F.when(key >= F.lit(mins[mid]), bucket(mid, hi)) \
            .otherwise(bucket(lo, mid - 1))
    # partition j (in key order) holds the keys in [mins[j], mins[j+1]);
    # nulls and a nulls-only first partition fold into partition 0
    totals = [{c: 0.0 for c in cols} for _ in range(max(1, len(mins)))]
    j = 0
    for r in parts:
        j += r["__min"] is not None
        for c in cols:
            totals[max(0, j - 1)][c] += float(r[c] or 0)
    acc = {c: 0.0 for c in cols}
    rows = []
    for pid, tot in enumerate(totals):
        rows.append((pid, *[float(acc[c]) for c in cols]))
        for c in cols:
            acc[c] += tot[c]
    off_df = spark.createDataFrame(
        rows, "__pid int, " + ", ".join(f"__off_{c} double" for c in cols))
    bound = 0 if inclusive else -1
    from pyspark.sql import Window
    w = Window.partitionBy("__pid").orderBy(order_col) \
        .rowsBetween(Window.unboundedPreceding, bound)
    out = per.withColumn("__pid", bucket(0, len(mins) - 1).cast("int")) \
        .join(F.broadcast(off_df), "__pid")
    for c in cols:
        out = out.withColumn(
            f"cum_{c}",
            F.coalesce(F.sum(F.col(c).cast("double")).over(w), F.lit(0.0))
            + F.col(f"__off_{c}"))
    return out.drop("__pid", *[f"__off_{c}" for c in cols])


def mann_whitney(df: DataFrame, value: str, group: str) -> dict:
    """Mann-Whitney U with tie correction, normal approximation
    (eval/MannWhitneyUEvaluator.java).

    Tie-averaged ranks are a function of the VALUE alone: rank(v) = #rows
    below v + (ties_v + 1)/2. So the whole statistic reduces over the
    per-distinct-value count table — one groupBy + the distributed prefix
    sum — with no per-row rank window and no single-task global sort (the
    round-3 scale flag). Counts are integers, so every sum is double-exact
    and the p-value is bit-identical to the per-row ranking."""
    v = F.col(value).cast("double")
    groups = [r[0] for r in df.select(group).distinct().orderBy(group).collect()]
    if len(groups) != 2:
        raise ValueError("mannWhitney needs exactly 2 groups")
    g1 = groups[0]
    per = df.groupBy(v.alias("v")).agg(
        F.sum(F.when(F.col(group) == g1, 1.0).otherwise(0.0)).alias("c1"),
        F.count("*").cast("double").alias("ct"))
    with _persisted(per):
        cum = distributed_cumsum(per, "v", ["ct"], inclusive=False)
        stats = cum.agg(
            F.sum("c1").alias("n1"),
            F.sum(F.col("ct") - F.col("c1")).alias("n2"),
            F.sum(F.col("c1") * (F.col("cum_ct") + (F.col("ct") + 1) / 2.0)
                  ).alias("r1"),
            F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")
                  ).alias("tie_term"),
        ).collect()[0]
    n1, n2, r1 = float(stats["n1"]), float(stats["n2"]), float(stats["r1"])
    tie_term = float(stats["tie_term"])
    u1 = r1 - n1 * (n1 + 1) / 2.0
    u = min(u1, n1 * n2 - u1)
    n = n1 + n2
    mu = n1 * n2 / 2.0
    sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie_term / (n * (n - 1))))
    z = (u - mu + 0.5) / sigma  # continuity-corrected
    p = 1.0 - erf_poly(abs(z) / math.sqrt(2.0))  # two-sided normal tail
    return {"u_statistic": u1, "z": z, "p_value": min(1.0, p)}


def erf_poly(x: float) -> float:
    """Driver-side A&S 7.1.26 erf (same polynomial as erf_expr)."""
    sign = -1.0 if x < 0 else 1.0
    ax = abs(x)
    t = 1.0 / (1.0 + 0.3275911 * ax)
    poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
               + t * (-1.453152027 + t * 1.061405429))))
    return sign * (1.0 - poly * math.exp(-ax * ax))


def kolmogorov_smirnov(df: DataFrame, value: str, group: str) -> dict:
    """Two-sample KS (eval/KolmogorovSmirnovEvaluator.java is one-sample vs a
    distribution; the two-sample variant is what a pipeline wants). Both ECDFs
    are evaluated at DISTINCT-value boundaries (per-value group counts, then
    the DISTRIBUTED prefix sum over the distinct values — no single-task
    global window even when every value is distinct), so cross-group ties are
    handled exactly; asymptotic p-value."""
    groups = [r[0] for r in df.select(group).distinct().orderBy(group).collect()]
    if len(groups) != 2:
        raise ValueError("ks needs exactly 2 groups")
    g1 = groups[0]
    per = (df.groupBy(F.col(value).cast("double").alias("v"))
             .agg(F.sum(F.when(F.col(group) == g1, 1.0).otherwise(0.0)).alias("c1"),
                  F.sum(F.when(F.col(group) != g1, 1.0).otherwise(0.0)).alias("c2")))
    with _persisted(per):
        tot = per.agg(F.sum("c1").alias("n1"),
                      F.sum("c2").alias("n2")).collect()[0]
        n1, n2 = float(tot["n1"]), float(tot["n2"])
        cum = distributed_cumsum(per, "v", ["c1", "c2"], inclusive=True)
        d = (cum.select(
                F.abs(F.col("cum_c1") / n1 - F.col("cum_c2") / n2).alias("d"))
               .agg(F.max("d").alias("d")).collect()[0]["d"])
    ne = n1 * n2 / (n1 + n2)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    p = 2.0 * sum((-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
                  for k in range(1, 101))
    return {"d_statistic": d, "p_value": max(0.0, min(1.0, p))}


def hist(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """eval/HistogramEvaluator.java: equal-width bins over [min, max]; two
    passes (bounds agg, then one groupBy)."""
    c = F.col(col).cast("double")
    lo, hi = df.agg(F.min(c), F.max(c)).collect()[0]
    width = (hi - lo) / bins or 1.0
    bucket = F.least(F.floor((c - lo) / width), F.lit(bins - 1)).cast("int")
    return (df.select(bucket.alias("bin"))
              .groupBy("bin").agg(F.count("*").alias("count"))
              .select("bin",
                      (F.lit(lo) + F.col("bin") * width).alias("lo"),
                      (F.lit(lo) + (F.col("bin") + 1) * width).alias("hi"),
                      "count")
              .orderBy("bin"))


def freq_table(df: DataFrame, col: str) -> DataFrame:
    """eval/FrequencyTableEvaluator.java: value / count / percent, ordered."""
    total = df.count()
    return (df.groupBy(F.col(col).alias("value"))
              .agg(F.count("*").alias("count"))
              .withColumn("pct", F.col("count") / F.lit(float(total)))
              .orderBy("value"))


def empirical_distribution(df: DataFrame, col: str) -> DataFrame:
    """Empirical CDF per distinct value (cumulative fraction <= x) — the
    running count uses the distributed prefix sum, so continuous (all-
    distinct) inputs never funnel through a single window task."""
    total = df.count()
    c = F.col(col).cast("double")
    per = df.groupBy(c.alias("value")).agg(
        F.count("*").cast("double").alias("n"))
    cum = distributed_cumsum(per, "value", ["n"], inclusive=True)
    return cum.select("value", (F.col("cum_n") / float(total)).alias("cdf"))


def kmeans(df: DataFrame, vec_col: str, k: int, iters: int = 5,
           id_col: str = "vec_id", seed: int = 7) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an array<double> column (eval/KMeansEvaluator.java).
    Euclidean metric (commons-math KMeansPlusPlusClusterer default). Per
    iteration: the k centroids ride along as one literal array-of-structs
    expression (argmin inside codegen — no join, no shuffle for assignment) +
    one posexplode/groupBy centroid update (k*dim rows shuffle — tiny).
    Returns (assignments, centroids)."""
    spark = df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    cents = [[float(x) for x in r[vec_col]]
             for r in df.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
                        .limit(k).select(vec_col).collect()]

    def assign_expr(centroids):
        scored = F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with(v, F.array(*[F.lit(x) for x in c]),
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d2"),
                F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)])
        return F.array_min(scored)["cid"]

    for _ in range(iters):
        assigned = df.withColumn("cluster", assign_expr(cents))
        new = (assigned.select("cluster", F.posexplode(v).alias("pos", "x"))
               .groupBy("cluster", "pos").agg(F.avg("x").alias("x"))
               .groupBy("cluster")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "x"))).alias("px"))
               .select("cluster", F.transform("px", lambda s: s["x"]).alias("cvec")))
        got = {int(r["cluster"]): [float(x) for x in r["cvec"]] for r in new.collect()}
        cents = [got.get(i, cents[i]) for i in range(k)]  # keep empty clusters
    assignments = df.withColumn("cluster", assign_expr(cents)).select(id_col, "cluster")
    cents_df = spark.createDataFrame(
        list(enumerate(cents)), "cid long, centroid array<double>")
    return assignments, cents_df


def get_centroids(kmeans_result: tuple) -> DataFrame:
    return kmeans_result[1]


def get_cluster(kmeans_result: tuple, cluster_id: int) -> DataFrame:
    return kmeans_result[0].filter(F.col("cluster") == cluster_id)


# ---------------------------------------------------------------------------
# array-evaluator long tail (round-3 census additions)
# ---------------------------------------------------------------------------


def earth_movers(a, b):
    """eval/EarthMoversEvaluator.java → commons-math EarthMoversDistance:
    1-D EMD = sum of |running prefix sum of (a_i - b_i)| — one `aggregate`
    with a struct accumulator, O(n) pure JVM."""
    d = F.zip_with(_arr(a), _arr(b), lambda x, y: x - y)
    return F.aggregate(
        d,
        F.struct(F.lit(0.0).alias("cum"), F.lit(0.0).alias("tot")),
        lambda acc, x: F.struct((acc["cum"] + x).alias("cum"),
                                (acc["tot"] + F.abs(acc["cum"] + x)).alias("tot")),
        lambda acc: acc["tot"])


def mode_ev(arr):
    """eval/ModeEvaluator.java → StatUtils.mode: ALL most-frequent values,
    ascending. O(n * n_distinct) JVM set algebra — evaluator arrays are
    row-local series, not corpus-sized."""
    a = _arr(arr)
    counts = F.transform(
        F.array_distinct(a),
        lambda v: F.struct(F.size(F.filter(a, lambda x: x == v)).alias("c"),
                           v.alias("v")))
    maxc = F.array_max(F.transform(counts, lambda s: s["c"]))
    return F.array_sort(
        F.transform(F.filter(counts, lambda s: s["c"] == maxc),
                    lambda s: s["v"]))


def rank_ev(arr):
    """eval/RankEvaluator.java → commons-math NaturalRanking (ties averaged):
    rank_i = #less + (#equal + 1) / 2, 1-based."""
    a = _arr(arr)
    return F.transform(
        a,
        lambda x: F.size(F.filter(a, lambda y: y < x)).cast("double")
        + (F.size(F.filter(a, lambda y: y == x)).cast("double") + 1.0) / 2.0)


def scale_ev(lo, hi, arr):
    """eval/ScaleEvaluator.java: min-max scale the array into [lo, hi]."""
    a = _arr(arr)
    amin, amax = F.array_min(a), F.array_max(a)
    lo, hi = _num(lo), _num(hi)
    mid = (lo + hi) / 2.0
    return F.transform(
        a,
        lambda x: F.when(amax == amin, mid)
        .otherwise(lo + (x - amin) * (hi - lo) / (amax - amin)))


def sum_difference(a, b):
    """eval/SumDifferenceEvaluator.java: sum of element-wise differences."""
    return F.aggregate(F.zip_with(_arr(a), _arr(b), lambda x, y: x - y),
                       F.lit(0.0), lambda acc, x: acc + x)


def mean_difference(a, b):
    """eval/MeanDifferenceEvaluator.java: mean of element-wise differences."""
    return sum_difference(a, b) / F.size(_arr(a)).cast("double")


def primes_ev(size: int, start: int):
    """eval/PrimesEvaluator.java: first `size` primes >= `start` (literal
    array; the enumeration is driver-side O(size) trial division)."""
    out: list[int] = []
    n = max(2, int(start))
    while len(out) < int(size):
        is_p = n >= 2 and all(n % p for p in range(2, int(math.isqrt(n)) + 1))
        if is_p:
            out.append(n)
        n += 1
    return F.array(*[F.lit(p) for p in out])


def lerp_interpolate(xs, ys, x):
    """eval/LerpEvaluator.java: piecewise-linear interpolation of (xs, ys)
    evaluated at x, clamped to the endpoints. Segment lookup is a `filter`
    over consecutive pairs — O(n) JVM per point."""
    xa, ya, x = _arr(xs), _arr(ys), _num(x)
    n = F.size(xa)
    pairs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(F.element_at(xa, i).alias("x0"),
                           F.element_at(xa, i + 1).alias("x1"),
                           F.element_at(ya, i).alias("y0"),
                           F.element_at(ya, i + 1).alias("y1")))
    hit = F.element_at(
        F.filter(pairs, lambda s: (x >= s["x0"]) & (x <= s["x1"])), 1)
    interp = hit["y0"] + (x - hit["x0"]) * (hit["y1"] - hit["y0"]) \
        / (hit["x1"] - hit["x0"])
    return (F.when(x <= F.element_at(xa, 1), F.element_at(ya, 1))
             .when(x >= F.element_at(xa, -1), F.element_at(ya, -1))
             .otherwise(interp))


def distance_matrix(m):
    """eval/DistanceEvaluator.java single-matrix form: pairwise euclidean
    distances between the rows of a matrix (array<array<double>>)."""
    m = _c(m)
    return F.transform(m, lambda r1: F.transform(m, lambda r2: euclidean(r1, r2)))


def distance_ev(*args):
    """Lang `distance`: two arrays → euclidean; one matrix → pairwise matrix."""
    if len(args) == 1:
        return distance_matrix(args[0])
    return euclidean(*args)


# ---------------------------------------------------------------------------
# registry + dispatch
# ---------------------------------------------------------------------------

ARRAY_EVALUATORS = {
    "ebeAdd": ebe_add, "ebeSubtract": ebe_subtract, "ebeMultiply": ebe_multiply,
    "ebeDivide": ebe_divide, "scalarAdd": scalar_add,
    "scalarSubtract": scalar_subtract, "scalarMultiply": scalar_multiply,
    "scalarDivide": scalar_divide, "dotProduct": dot_product,
    "cosineSimilarity": cosine_similarity, "cosineDistance": cosine_distance,
    "euclidean": euclidean, "manhattan": manhattan, "chebyshev": chebyshev,
    "canberra": canberra, "l1norm": l1norm, "l2norm": l2norm,
    "linfnorm": linfnorm, "unitize": unitize, "normalizeSum": normalize_sum,
    "standardize": standardize, "zscores": zscores, "minMaxScale": min_max_scale,
    "rev": rev, "asc": asc_sort, "copyOf": copy_of, "copyOfRange": copy_of_range,
    "length": arr_length, "addAll": add_all, "append": append_ev,
    "sequence": sequence_ev, "natural": natural_ev, "ones": ones, "zeros": zeros,
    "valueAt": value_at, "pairSort": pair_sort, "diff": diff_ev,
    "movingAvg": moving_avg, "movingMedian": moving_median,
    "movingMAD": moving_mad, "expMovingAvg": exp_moving_avg,
    "integral": integral_ev, "derivative": derivative_ev, "conv": convolution,
    "finddelay": find_delay, "percentile": arr_percentile,
    "mean": arr_mean, "var": arr_variance, "stddev": arr_stddev,
    "sumSq": lambda a: F.aggregate(_arr(a), F.lit(0.0), lambda acc, x: acc + x * x),
    "matrix": matrix_ev, "transpose": transpose, "matrixMult": matrix_mult,
    "sumRows": sum_rows, "sumColumns": sum_columns, "grandSum": grand_sum,
    "rowAt": row_at, "colAt": col_at, "rowCount": row_count,
    "columnCount": column_count,
    # round-3 census additions
    "earthMovers": earth_movers, "mode": mode_ev, "rank": rank_ev,
    "scale": scale_ev, "sumDifference": sum_difference,
    "meanDifference": mean_difference, "primes": primes_ev,
    "lerp": lerp_interpolate, "distance": distance_ev,
}

DISTRIBUTION_EVALUATORS = {
    "normalDistribution": normal_distribution,
    "uniformDistribution": uniform_distribution,
    "poissonDistribution": poisson_distribution,
    "binomialDistribution": binomial_distribution,
    "probability": probability,
    "cumulativeProbability": cumulative_probability,
    # long-tail kinds live in functions/distributions.py (registered below at
    # import time to avoid a circular import at module top)
}

DATASET_EVALUATORS = {
    "describe": describe, "corr": dataset_corr, "cov": dataset_cov,
    "regress": regress, "olsRegress": ols_regress, "polyfit": polyfit,
    "predict": predict_expr, "ttest": ttest, "pairedTtest": paired_ttest,
    "anova": anova, "mannWhitney": mann_whitney,
    "kolmogorovSmirnov": kolmogorov_smirnov, "ks": kolmogorov_smirnov,
    "hist": hist, "freqTable": freq_table,
    "empiricalDistribution": empirical_distribution, "kmeans": kmeans,
    "getCentroids": get_centroids, "getCluster": get_cluster,
}

OUT_OF_SCOPE = {
    # name -> why (SURVEY §2.8: iterative/pointer-chasing or niche numerics with
    # no distributed shape; a pipeline reaches for numpy/scipy on sampled data)
    "fft": "spectral; no distributed per-row form worth having",
    "ifft": "spectral", "spline": "fitted-curve family", "akima": "fitted-curve",
    "bicubicSpline": "fitted-curve", "loess": "fitted-curve",
    "gaussfit": "fitted-curve", "harmonicFit": "fitted-curve",
    "harmfit": "fitted-curve", "oscillate": "fitted-curve",
    "polyfitDerivative": "fitted-curve",
    "convexHull": "computational geometry", "enclosingDisk": "geometry",
    "monteCarlo": "driver-side simulation loop",
    "markovChain": "iterative simulation", "dbscan": "density clustering",
    "fuzzyKmeans": "soft clustering", "multiKmeans": "restarts wrapper",
    "knnRegress": "lazy learner; use cosine_topk + avg",
}

EVALUATORS: dict[str, Any] = {
    **SCALAR_EVALUATORS, **ARRAY_EVALUATORS,
    **DISTRIBUTION_EVALUATORS, **DATASET_EVALUATORS,
}


def ev(name: str, *args, **kwargs):
    """Dispatch a streaming-expression evaluator by its Lang.java name."""
    if name in EVALUATORS:
        return EVALUATORS[name](*args, **kwargs)
    if name in OUT_OF_SCOPE:
        raise NotImplementedError(
            f"evaluator '{name}' is out of scope: {OUT_OF_SCOPE[name]}")
    raise KeyError(f"unknown evaluator '{name}' "
                   f"({len(EVALUATORS)} registered, {len(OUT_OF_SCOPE)} documented out)")


# -- long-tail distribution / inference registrations live at the bottom of
#    distributions.py (it imports helpers from this module, so it must finish
#    initializing second regardless of which module is imported first); this
#    bottom import just triggers them when evaluators is the entry point.
from solr_spark.functions import distributions as _dist  # noqa: E402, F401
