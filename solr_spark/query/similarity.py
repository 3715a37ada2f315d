"""Pluggable per-field scoring similarities for the top-k query kernel.

Reference analog: Solr's similarity factory surface
(solr/core/src/java/org/apache/solr/schema/SimilarityFactory.java; shipped
factories under search/similarities/ — BM25SimilarityFactory.java:48-49,
ClassicSimilarityFactory.java, BooleanSimilarityFactory.java,
LMDirichletSimilarityFactory.java, LMJelinekMercerSimilarityFactory.java).
Each similarity supplies three pieces the kernel needs:

  * ``weight``     — the query-time scalar for one term (idf-like part times
                     query-tf and boost); computed once per term on the driver
                     from broadcast global stats (the ExactStatsCache posture).
  * ``contrib``    — the per-document score contribution as a vectorized numpy
                     expression over (tf array, dl array); runs inside the
                     scoring kernel.
  * ``bound``      — a vectorized upper bound of ``contrib`` over ANY document
                     in a posting range, given the range's max_tf; evaluated
                     inside the WAND kernel, once per posting row — this is
                     what block-max WAND prunes with, so it must dominate every
                     achievable score (each class documents its bound argument).

Formulas (Lucene's documented scoring, natural log):

  BM25 (default)     w = qb * ln(1 + (N - df + .5)/(df + .5));
                     contrib = w * tf / (tf + k1*(1 - b + b*dl/avgdl))
  Classic TF-IDF     idf = 1 + ln((N + 1)/(df + 1)); w = qb * idf^2;
                     contrib = w * sqrt(tf) / sqrt(dl)
  Boolean            w = qb; contrib = w for every matching doc
  LMDirichlet        p = (cf + 1)/(total_tokens + 1); w = qb;
                     contrib = w * max(0, ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)))
  LMJelinekMercer    p as above; w = qb;
                     contrib = w * max(0, ln(1 + ((1-lam)*tf/dl)/(lam*p)))

where qb = query-term-frequency * boost, N = docCount, cf = collection
(total-term) frequency, total_tokens = N * avgdl. WAND bounds use dl >= 1 and
tf <= dl (a doc containing the term has at least that one token).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

@dataclass(frozen=True)
class BM25Similarity:
    """Lucene 10 BM25 (no (k1+1) factor). k1/b come from IndexConfig so the
    index's build-time choice stays authoritative."""

    name = "bm25"

    def weight(self, qb: float, n_docs: int, df: int, cf: int,
               total_tokens: float) -> float:
        return qb * float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))

    def term_param(self, df: int, cf: int, n_docs: int,
                   total_tokens: float) -> float:
        return 0.0  # unused

    def contrib(self, tf: np.ndarray, dls: np.ndarray, w: float, p: float,
                cfg, avgdl: float) -> np.ndarray:
        denom = tf + cfg.k1 * (1.0 - cfg.b + cfg.b * dls / avgdl)
        return w * tf / denom

    def bound(self, max_tf: np.ndarray, w: np.ndarray, p: np.ndarray,
              cfg, avgdl: float) -> np.ndarray:
        # dl -> 0 bound: tf/(tf + k1(1-b)) is increasing in tf
        return w * max_tf / (max_tf + cfg.k1 * (1.0 - cfg.b))


@dataclass(frozen=True)
class ClassicSimilarity:
    """Lucene ClassicSimilarity (TFIDFSimilarity): sqrt(tf) * idf^2 * 1/sqrt(dl)
    (search/similarities/ClassicSimilarityFactory.java)."""

    name = "classic"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        idf = 1.0 + math.log((n_docs + 1.0) / (df + 1.0))
        return qb * idf * idf

    def term_param(self, df, cf, n_docs, total_tokens):
        return 0.0

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        return w * np.sqrt(tf) / np.sqrt(dls)

    def bound(self, max_tf, w, p, cfg, avgdl):
        # dl >= 1 => 1/sqrt(dl) <= 1
        return w * np.sqrt(max_tf)


@dataclass(frozen=True)
class BooleanSimilarity:
    """Constant boost per matching clause
    (search/similarities/BooleanSimilarityFactory.java)."""

    name = "boolean"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return 0.0

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        return np.full(len(tf), w, dtype=np.float64)

    def bound(self, max_tf, w, p, cfg, avgdl):
        return w


@dataclass(frozen=True)
class LMDirichletSimilarity:
    """Dirichlet-smoothed query likelihood (Zhai & Lafferty;
    search/similarities/LMDirichletSimilarityFactory.java, default mu=2000).
    Per-term param p = (cf+1)/(total_tokens+1); scores clamp at 0 as in
    Lucene's LMSimilarity."""

    mu: float = 2000.0
    name = "lmdirichlet"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return (cf + 1.0) / (total_tokens + 1.0)

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        raw = np.log1p(tf / (self.mu * p)) + np.log(self.mu / (dls + self.mu))
        return w * np.maximum(0.0, raw)

    def bound(self, max_tf, w, p, cfg, avgdl):
        # sum of per-factor maxima: tf <= max_tf and dl >= 1
        mu = self.mu
        raw = np.log(1.0 + max_tf / (mu * p)) + math.log(mu / (1.0 + mu))
        return w * np.maximum(raw, 0.0)


@dataclass(frozen=True)
class LMJelinekMercerSimilarity:
    """Jelinek-Mercer-smoothed query likelihood
    (search/similarities/LMJelinekMercerSimilarityFactory.java; lambda=0.7,
    the factory's long-query default)."""

    lam: float = 0.7
    name = "lmjelinekmercer"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return (cf + 1.0) / (total_tokens + 1.0)

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        raw = np.log1p(((1.0 - self.lam) * tf / dls) / (self.lam * p))
        return w * np.maximum(0.0, raw)

    def bound(self, max_tf, w, p, cfg, avgdl):
        # tf/dl <= 1 always (a term occurs at most dl times in a dl-token doc)
        raw = np.log(1.0 + ((1.0 - self.lam) / self.lam) / p)
        return w * np.maximum(raw, 0.0)


@dataclass(frozen=True)
class DFISimilarity:
    """Divergence From Independence (Kocabas, Dincer & Karaoglan 2014;
    search/similarities/DFISimilarityFactory.java wrapping Lucene
    DFISimilarity): expected tf under independence e = (cf+1)·dl/(T+1);
    a doc scores only when tf EXCEEDS expectation, log2(measure+1) with
    the chosen independence measure —

        standardized  (tf − e)/√e       (the factory default)
        saturated     (tf − e)/e
        chisquared    (tf − e)²/e

    WAND bound argument: e = p·dl with p = (cf+1)/(T+1) and dl ≥ tf, so
    e ≥ p·tf; every measure is decreasing in e and (evaluated at e = p·tf)
    nondecreasing in tf, so the range bound plugs (max_tf, p·max_tf) in —
    saturated's bound is the tf-free constant log2(1 + (1−p)/p)."""

    measure: str = "standardized"
    name = "dfi"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return (cf + 1.0) / (total_tokens + 1.0)

    def _measure(self, tf, e):
        if self.measure == "standardized":
            return (tf - e) / np.sqrt(e)
        if self.measure == "saturated":
            return (tf - e) / e
        if self.measure == "chisquared":
            return (tf - e) * (tf - e) / e
        raise ValueError(
            f"unknown DFI independence measure {self.measure!r} "
            "(standardized|saturated|chisquared)")

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        e = p * dls
        m = self._measure(tf.astype(np.float64), e)
        return np.where(tf > e, w * np.log2(np.maximum(m, 0.0) + 1.0), 0.0)

    def bound(self, max_tf, w, p, cfg, avgdl):
        e = p * max_tf
        if self.measure == "saturated":
            m = (1.0 - p) / p
        else:
            m = self._measure(max_tf, e)
        return w * np.log2(np.maximum(m, 0.0) + 1.0)


@dataclass(frozen=True)
class RawTFSimilarity:
    """Raw term frequency: score = boost · tf, no length normalization
    (the RawTF factory of SURVEY §2.10's shipped-similarity list — the
    degenerate member that pins the registry's contract: contrib and the
    WAND bound are both linear in tf)."""

    name = "rawtf"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return 0.0

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        return w * tf.astype(np.float64)

    def bound(self, max_tf, w, p, cfg, avgdl):
        return w * max_tf


@dataclass(frozen=True)
class SweetSpotSimilarity:
    """Classic TF-IDF with plateau-tuned tf and lengthNorm
    (search/similarities/SweetSpotSimilarityFactory.java wrapping Lucene
    misc SweetSpotSimilarity): docs whose length falls inside
    [ln_min, ln_max] get lengthNorm 1 (no penalty); outside, the norm decays
    hyperbolically with `steepness`; tf uses the baseline form
    sqrt(tf + tf_min² − tf_min) + tf_base (0 when tf ≤ tf_min with base 0).
    Defaults mirror the factory's documented example posture.

    WAND bound: lengthNorm ≤ 1 everywhere and baselineTf is increasing, so
    idf² · baselineTf(max_tf) dominates."""

    ln_min: int = 1
    ln_max: int = 1
    steepness: float = 0.5
    tf_base: float = 0.0
    tf_min: float = 0.0
    name = "sweetspot"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        idf = 1.0 + math.log((n_docs + 1.0) / (df + 1.0))
        return qb * idf * idf

    def term_param(self, df, cf, n_docs, total_tokens):
        return 0.0

    def _baseline_tf(self, tf):
        out = self.tf_base + np.sqrt(
            tf + self.tf_min * self.tf_min - self.tf_min)
        if self.tf_base == 0.0 and self.tf_min > 0.0:
            out = np.where(tf <= self.tf_min, 0.0, out)
        return out

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        span = self.ln_max - self.ln_min
        dev = (np.abs(dls - self.ln_min) + np.abs(dls - self.ln_max)
               - span)
        norm = 1.0 / np.sqrt(self.steepness * dev + 1.0)
        return w * self._baseline_tf(tf.astype(np.float64)) * norm

    def bound(self, max_tf, w, p, cfg, avgdl):
        return w * self._baseline_tf(max_tf)  # lengthNorm <= 1


@dataclass(frozen=True)
class DFRGL2Similarity:
    """Divergence From Randomness, model GL2 — geometric basic model,
    Laplace after-effect, H2 length normalization (Amati & van Rijsbergen
    2002; search/similarities/DFRSimilarityFactory.java — one REPRESENTATIVE
    member of the 7×2×3 DFR matrix, every member reusing this exact
    contract): tfn = tf·log2(1 + c·avgdl/dl), λ = cf/(N + cf),

        score = boost · 1/(tfn+1) · (log2(1+λ) + tfn·log2((1+λ)/λ)).

    WAND bound: d(score)/d(tfn) has the sign of log2((1+λ)/λ) − log2(1+λ)
    = −log2(λ) > 0 (λ = cf/(N+cf) < 1 always), so the score is increasing
    in tfn, and tfn ≤ max_tf·log2(1 + c·avgdl) at dl ≥ 1."""

    c: float = 1.0
    name = "dfr_gl2"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return cf / (n_docs + cf)  # lambda of the geometric model

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        tfn = tf * np.log2(1.0 + self.c * avgdl / dls)
        gl = (np.log2(1.0 + p)
              + tfn * np.log2((1.0 + p) / p)) / (tfn + 1.0)
        return w * gl

    def bound(self, max_tf, w, p, cfg, avgdl):
        # tfn <= max_tf * log2(1 + c*avgdl) at dl >= 1
        tfn = max_tf * math.log2(1.0 + self.c * avgdl)
        gl = (np.log2(1.0 + p) + tfn * np.log2((1.0 + p) / p)) / (tfn + 1.0)
        return w * gl


@dataclass(frozen=True)
class IBLLSimilarity:
    """Information-Based model LL — log-logistic distribution, TTF lambda,
    H2 normalization (Clinchant & Gaussier 2010;
    search/similarities/IBSimilarityFactory.java — one representative of
    the 2×2 IB matrix): tfn = tf·log2(1 + c·avgdl/dl),
    λ = (cf+1)/(N+1), score = boost · log((tfn + λ)/λ) — increasing in
    tfn, so the WAND bound plugs tfn_max in."""

    c: float = 1.0
    name = "ib_ll"

    def weight(self, qb, n_docs, df, cf, total_tokens):
        return qb

    def term_param(self, df, cf, n_docs, total_tokens):
        return (cf + 1.0) / (n_docs + 1.0)  # log-logistic lambda (TTF)

    def contrib(self, tf, dls, w, p, cfg, avgdl):
        tfn = tf * np.log2(1.0 + self.c * avgdl / dls)
        return w * np.log((tfn + p) / p)

    def bound(self, max_tf, w, p, cfg, avgdl):
        tfn = max_tf * math.log2(1.0 + self.c * avgdl)
        return w * np.log((tfn + p) / p)


_REGISTRY = {
    "bm25": BM25Similarity,
    "classic": ClassicSimilarity,
    "tfidf": ClassicSimilarity,
    "boolean": BooleanSimilarity,
    "lmdirichlet": LMDirichletSimilarity,
    "lmjelinekmercer": LMJelinekMercerSimilarity,
    "dfi": DFISimilarity,
    "rawtf": RawTFSimilarity,
    "sweetspot": SweetSpotSimilarity,
    "dfr_gl2": DFRGL2Similarity,
    "ib_ll": IBLLSimilarity,
}


def resolve(similarity) -> "BM25Similarity":
    """Accept a Similarity instance or a registry name (case-insensitive)."""
    if isinstance(similarity, str):
        try:
            return _REGISTRY[similarity.lower()]()
        except KeyError:
            raise ValueError(
                f"unknown similarity '{similarity}' "
                f"(registered: {sorted(_REGISTRY)})") from None
    return similarity
