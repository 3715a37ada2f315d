"""Driver contract for the spark-graft builder (PySpark target).

Maps the implemented SURVEY.md §2 operator surface to driver-checkable queries:
each ``queries()`` entry is a DataFrame program built from ``solr_spark`` operators,
and ``oracle_sql()`` holds the ANSI-SQL equivalent DuckDB runs on the same parquet.
Fulltext entries exercise the real engine path (analyzer → posting build → dictionary
→ BM25/WAND) against a from-first-principles BM25 re-derivation in SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solr_spark.analysis.stopwords import ENGLISH_STOPWORDS
from solr_spark.config import IndexConfig
from solr_spark.functions import (
    exact_dedup,
    lsh_ann_topk,
    minhash_near_dup_pairs,
    simhash,
)
from solr_spark.functions.lm import bigram_lm_score, lm_score_sql
from solr_spark.functions.textanalysis import text_stats
from solr_spark.functions.vectors import cosine_topk
from solr_spark.operators import facets, streams, windows
from solr_spark.query.bm25 import IndexReader, bm25_topk, term_docs
from solr_spark.query.parser import parse_query

# --------------------------------------------------------------------- helpers

# Every gate rounds floats with the engine-portable half-away kernel (bit-exact
# vs DuckDB's round(DOUBLE, s), fuzz-verified) so a gate and its SQL twin apply
# the IDENTICAL rounding function; Spark's F.round HALF_UPs the shortest decimal
# repr instead, which disagrees for doubles within ~1 ulp of a half boundary —
# one such disagreement per ~1e5 rounded sums at sf0.1 was the entire round-2
# robustness-sweep fallout.
from solr_spark.functions.portable import round_half_away as _dround


_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")

# exact-float norms so the SQL oracle (which has no SmallFloat table) matches
# bit-for-bit; the Lucene-quantized parity mode is pinned by tests/test_bm25.py.
_FT_CONFIG = IndexConfig(range_shift=12, num_term_buckets=16, lucene_norms=False)

_FT_QUERY = "spark merge window vector"
_FT_TERMS = sorted(set(_FT_QUERY.split()))

_STOP_SQL = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOPWORDS))
# marker set used by the lang-id / stop-ratio heuristic (no test placeholders)
_MARKER_SQL = ", ".join(
    f"'{w}'" for w in sorted(ENGLISH_STOPWORDS - {"stopworda", "stopwordb"})
)

# tokenized documents as a SQL CTE fragment (whitespace split, analyzer-equivalent
# on this corpus: single-space lowercase ASCII words)
_TOKS_CTE = f"""
toks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ) WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
)
"""

def _q35_sql() -> str:
    from solr_spark.functions.datemath import date_math_sql

    cutoff = date_math_sql("2024-01-30T00:00:00Z/DAY-7DAYS")
    return f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*)::BIGINT AS n
FROM events WHERE ts >= {cutoff} GROUP BY day ORDER BY day
"""


_Q35_SQL = _q35_sql()

_RAWTOKS_CTE = """
rawtoks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ) WHERE tok <> ''
)
"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _docs_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet in the input_hint transcript shape. conv_id is the
    zero-padded doc_id so the engine's lexicographic docid order == numeric
    doc_id order (keeps BM25 docid tie-breaks comparable with the SQL oracle).
    Width 12 keeps lexicographic == numeric up to 10^12 docs (round-2 verdict:
    %06d silently broke past 10^6)."""
    return _t(spark, sf_dir, "documents").select(
        F.format_string("%012d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars"),
    )


def _ft_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Build (once; manifest-resumed afterwards) the fulltext index over documents."""
    from solr_spark.indexing import build_index

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(_SCRATCH, f"ftidx-{tag}-{_FT_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    build_index(spark, _docs_as_transcripts(spark, sf_dir), index_dir,
                _FT_CONFIG, input_token=f"documents-{tag}-w12l",
                stored_cols=("lang", "source", "n_chars"))
    return IndexReader.open(index_dir, _FT_CONFIG)


def _ft_dedup_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index over the token-DEDUPED documents corpus (array_distinct keeps
    first-occurrence order), so every doc holds each token at most once —
    the corpus the ft21 Lucene-sloppy oracle's closed form is exact on."""
    from solr_spark.indexing import build_index

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(
        _SCRATCH, f"ftidx-dedup-{tag}-{_FT_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    src = _docs_as_transcripts(spark, sf_dir).withColumn(
        "text",
        F.array_join(F.array_distinct(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")), " "))
    build_index(spark, src, index_dir, _FT_CONFIG,
                input_token=f"documents-dedup-{tag}")
    return IndexReader.open(index_dir, _FT_CONFIG)


def _doc_id(col: str = "conv_id") -> F.Column:
    return F.col(col).cast("long").alias("doc_id")


# --------------------------------------------------------------------- fulltext


def _ft01_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft32_json_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval through the JSON Request API body (jsonapi.py::
    json_search — json.query -> q mapping of RequestUtil.java): the same
    query as ft01 submitted as a JSON body must produce the identical WAND
    top-k (same oracle)."""
    from solr_spark.query.jsonapi import json_search

    reader = _ft_index(spark, sf_dir)
    topk = json_search(spark, reader,
                       {"query": _FT_QUERY, "limit": 20})
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft39_json_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fl on the ranked JSON path (jsonapi.py::json_search fields): the
    ft01 top-k projected to (conv_id, score, lang) — `lang` is a STORED
    field joined onto the k hits by docid (broadcast of k rows against the
    column-pruned forward table)."""
    from solr_spark.query.jsonapi import json_search

    reader = _ft_index(spark, sf_dir)
    topk = json_search(spark, reader,
                       {"query": _FT_QUERY, "limit": 20,
                        "fields": ["conv_id", "score", "lang"]})
    return topk.select(_doc_id(), _dround("score", 4).alias("score"),
                       "lang")


def _ft39_sql() -> str:
    base = _ft01_sql().rstrip()
    return f"""
WITH base AS ({base})
SELECT base.doc_id, base.score, d.lang
FROM base JOIN documents d ON base.doc_id = d.doc_id
ORDER BY base.score DESC, base.doc_id
"""


def _ft33_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ranked search — q + fq together, the most common reference
    request shape (SolrIndexSearcher.java:1254 getProcessedFilter;
    query/docsets.py): the fq strings compile to a docid DocSet over the
    index's STORED columns, intersect the WAND scan per-range (empty ranges
    skipped without decoding), and the query still returns k hits where
    post-joining the unfiltered top-k would return fewer. Scoring stats stay
    global (fq never changes the scoring model)."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     filters=["lang:en", "n_chars:[200 TO *]"])
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft33_sql() -> str:
    # identical BM25 derivation as ft01 — global df/avgdl over the FULL
    # corpus — with the fq DocSet applied to the scored set only
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
allowed AS (
    SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    JOIN allowed USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


def _ft_mv_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index over documents with each text split into TWO values of a
    multivalued (array<string>) field — the FieldProperties.java:66
    multiValued surface with positionIncrementGap encoding."""
    from solr_spark.indexing import build_index

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(
        _SCRATCH, f"ftidx-mv-{tag}-{_FT_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    toks = F.split(F.col("text"), " ")
    half = F.ceil(F.size(toks) / 2).cast("int")
    src = _docs_as_transcripts(spark, sf_dir).withColumn(
        "text",
        F.array(F.array_join(F.slice(toks, F.lit(1), half), " "),
                F.array_join(F.slice(toks, half + 1,
                                     F.size(toks) - half), " ")))
    build_index(spark, src, index_dir, _FT_CONFIG,
                input_token=f"documents-mv-{tag}")
    return IndexReader.open(index_dir, _FT_CONFIG)


def _ft35_multivalued_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a MULTIVALUED text field: per-value analysis + position
    gaps must leave tf/df/dl (and therefore every score) identical to the
    flat single-value index — the gap occupies positions, never postings or
    norms. Same oracle as ft01 proves it end-to-end."""
    reader = _ft_mv_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _q84_array_terms_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms facet over an ArrayType column (UnInvertedField role for
    multivalued fields): each array VALUE is a bucket occurrence, one
    explode ahead of the same single-shuffle partial aggregation."""
    from solr_spark.operators.facets import terms_facet

    docs = _t(spark, sf_dir, "documents").withColumn(
        "words", F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    return (terms_facet(docs, "words", limit=10)
            .select(F.col("bucket"), F.col("count").cast("long").alias("count")))


_Q84_SQL = r"""
SELECT tok AS bucket, count(*)::BIGINT AS count
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok ORDER BY count DESC, bucket ASC LIMIT 10
"""


def _q85_pivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.pivot with attached stats: counts + stats at EVERY tree level
    from ONE rollup pass (PivotFacetProcessor.java:258 tagged stats)."""
    from solr_spark.operators.facets import pivot_facet_stats

    docs = _t(spark, sf_dir, "documents")
    out = pivot_facet_stats(docs, ["lang", "source"],
                            metrics={"sum_chars": "sum(n_chars)",
                                     "max_chars": "max(n_chars)"})
    return out.select("lang", "source", F.col("level").cast("int"),
                      F.col("count").cast("long").alias("count"),
                      F.col("sum_chars").cast("long").alias("sum_chars"),
                      F.col("max_chars").cast("long").alias("max_chars"))


_Q85_SQL = r"""
SELECT lang, source,
       (2 - grouping(lang) - grouping(source))::INT AS level,
       count(*)::BIGINT AS count,
       sum(n_chars)::BIGINT AS sum_chars,
       max(n_chars)::BIGINT AS max_chars
FROM documents
GROUP BY ROLLUP (lang, source)
HAVING grouping(lang) + grouping(source) < 2
ORDER BY lang NULLS LAST, source NULLS LAST, level
"""


def _q86_group_ngroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group.ngroups=true: matched docs + distinct matched groups in one
    map-side-combinable pass (Grouping.java getNGroups)."""
    from solr_spark.operators.windows import group_ngroups

    ev = _t(spark, sf_dir, "events").where(F.col("value") > 50)
    return group_ngroups(ev, "user_id")


_Q86_SQL = r"""
SELECT count(*)::BIGINT AS matches,
       count(DISTINCT user_id)::BIGINT AS ngroups
FROM events WHERE value > 50
"""


def _q87_grouped_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group.facet=true: facet counts by GROUP (each user_id counts once per
    event_type it contains — TermGroupFacetCollector semantics)."""
    from solr_spark.operators.windows import grouped_facet

    return grouped_facet(_t(spark, sf_dir, "events"), "user_id",
                         "event_type", limit=10)


_Q87_SQL = r"""
SELECT event_type AS bucket, count(*)::BIGINT AS count
FROM (SELECT DISTINCT user_id, event_type FROM events
      WHERE event_type IS NOT NULL)
GROUP BY event_type ORDER BY count DESC, bucket LIMIT 10
"""


def _ft15_classic_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: Lucene ClassicSimilarity (TF-IDF) top-k via the
    same WAND kernel (solr_spark/query/similarity.py; ref
    search/similarities/ClassicSimilarityFactory.java). Same query as ft01 —
    only the scoring model differs."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     similarity="classic")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft16_lmdirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: Dirichlet-smoothed query likelihood (mu=2000)
    top-k via WAND (ref search/similarities/LMDirichletSimilarityFactory.java);
    needs the dictionary's collection frequencies (cf)."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     similarity="lmdirichlet")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft53_dfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: Divergence From Independence, standardized
    measure (search/similarities/DFISimilarityFactory.java; Kocabas et al.
    2014): e = (cf+1)·dl/(T+1), docs score log2((tf−e)/√e + 1) only when tf
    exceeds independence expectation — WAND-bounded via the e = p·tf
    substitution (query/similarity.py::DFISimilarity)."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     similarity="dfi")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft53_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*)::DOUBLE AS total_tokens FROM toks),
stats AS (
    SELECT tok AS term, count(*)::DOUBLE AS cf
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
pieces AS (
    SELECT tf.doc_id,
           tf.tf,
           (s.cf + 1.0) * dl.dl / (c.total_tokens + 1.0) AS e
    FROM tf JOIN stats s USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
),
scored AS (
    SELECT doc_id,
           sum(CASE WHEN tf > e
                    THEN log2((tf - e) / sqrt(e) + 1.0) ELSE 0.0 END) AS score
    FROM pieces GROUP BY doc_id
    HAVING sum(CASE WHEN tf > e
                    THEN log2((tf - e) / sqrt(e) + 1.0) ELSE 0.0 END) > 0.0
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft54_sweetspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: SweetSpot — Classic TF-IDF with a plateau
    lengthNorm (docs of length 5..40 take NO length penalty, outside decays
    hyperbolically with steepness 0.3) (search/similarities/
    SweetSpotSimilarityFactory.java; the defaults degenerate to Classic, so
    the gate pins a NON-trivial plateau)."""
    from solr_spark.query.similarity import SweetSpotSimilarity

    reader = _ft_index(spark, sf_dir)
    sim = SweetSpotSimilarity(ln_min=5, ln_max=40, steepness=0.3)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     similarity=sim)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft54_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( pow(1.0 + ln((c.n_docs + 1.0) / (d.df + 1.0)), 2)
                * sqrt(tf.tf)
                / sqrt(0.3 * (abs(dl.dl - 5.0) + abs(dl.dl - 40.0) - 35.0)
                       + 1.0) ) AS score
    FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft55_dfr_gl2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: DFR GL2 — geometric basic model, Laplace
    after-effect, H2 normalization (search/similarities/
    DFRSimilarityFactory.java; one representative member of the DFR
    submodel matrix): tfn = tf·log2(1 + avgdl/dl), λ = cf/(N+cf),
    score = (log2(1+λ) + tfn·log2((1+λ)/λ))/(tfn+1)."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     similarity="dfr_gl2")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft55_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
stats AS (
    SELECT tok AS term, count(*)::DOUBLE AS cf
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
pieces AS (
    SELECT tf.doc_id,
           s.cf / (c.n_docs + s.cf) AS lam,
           tf.tf * log2(1.0 + (c.sum_dl / c.n_docs) / dl.dl) AS tfn
    FROM tf JOIN stats s USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
),
scored AS (
    SELECT doc_id,
           sum( (log2(1.0 + lam) + tfn * log2((1.0 + lam) / lam))
                / (tfn + 1.0) ) AS score
    FROM pieces GROUP BY doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft56_ib_ll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: IB LL — log-logistic information-based model,
    TTF lambda, H2 normalization (search/similarities/
    IBSimilarityFactory.java; Clinchant & Gaussier 2010):
    λ = (cf+1)/(N+1), score = ln((tfn + λ)/λ)."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     similarity="ib_ll")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft56_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
stats AS (
    SELECT tok AS term, count(*)::DOUBLE AS cf
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln( (tf.tf * log2(1.0 + (c.sum_dl / c.n_docs) / dl.dl)
                     + (s.cf + 1.0) / (c.n_docs + 1.0))
                    / ((s.cf + 1.0) / (c.n_docs + 1.0)) ) ) AS score
    FROM tf JOIN stats s USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft15_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( pow(1.0 + ln((c.n_docs + 1.0) / (d.df + 1.0)), 2)
                * sqrt(tf.tf) / sqrt(dl.dl) ) AS score
    FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


def _ft16_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*)::DOUBLE AS total_tokens FROM toks),
stats AS (
    SELECT tok AS term, count(*)::DOUBLE AS cf
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( greatest(0.0,
                ln(1.0 + tf.tf / (2000.0 * (s.cf + 1.0) / (c.total_tokens + 1.0)))
                + ln(2000.0 / (dl.dl + 2000.0))) ) AS score
    FROM tf JOIN stats s USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
    HAVING sum( greatest(0.0,
           ln(1.0 + tf.tf / (2000.0 * (s.cf + 1.0) / (c.total_tokens + 1.0)))
           + ln(2000.0 / (dl.dl + 2000.0))) ) > 0.0
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


# ------------------------------------------------------------- text_en chain

# Second index config: the reference's text_en-style chain (Porter stem +
# possessive strip + ASCII fold, analysis/porter.py; ref managed-schema.xml
# text_en field type). Separate scratch dir via the config hash.
_FT_EN_CONFIG = IndexConfig(range_shift=12, num_term_buckets=16,
                            lucene_norms=False, stem="porter", fold_ascii=True)

# Porter stems of the closed 31-word documents vocabulary, HAND-verified
# against the published algorithm (only the non-identity entries; pinned to
# the implementation by tests/test_analyzer.py::test_porter_vectors). Keeping
# this literal — not generated — keeps the SQL oracle independent of
# solr_spark.analysis.porter.
_STEM_CASE = ("CASE tok WHEN 'customer' THEN 'custom' WHEN 'key' THEN 'kei' "
              "WHEN 'merge' THEN 'merg' WHEN 'query' THEN 'queri' "
              "WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu' ELSE tok END")

_FT17_QUERY = "merging tables queried customers"
_FT17_TERMS = ("merg", "tabl", "queri", "custom")


def _ft_en_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    from solr_spark.indexing import build_index

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(
        _SCRATCH, f"ftidx-{tag}-{_FT_EN_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    build_index(spark, _docs_as_transcripts(spark, sf_dir), index_dir,
                _FT_EN_CONFIG, input_token=f"documents-{tag}")
    return IndexReader.open(index_dir, _FT_EN_CONFIG)


def _ft17_stemmed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Porter-stemmed BM25: inflected query forms retrieve base-form docs
    ('merging' matches 'merge') because both sides pass the text_en chain."""
    reader = _ft_en_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT17_QUERY, k=20, mode="wand")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft18_folded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASCII folding ahead of stemming: accented query surface forms
    ('mérging tablés quéried') fold to ASCII, then stem, then retrieve. The
    oracle folds with DuckDB's own strip_accents — independent of the
    engine's fold implementation."""
    reader = _ft_en_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, "mérging tablés quéried", k=20, mode="wand")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _stemmed_bm25_sql(q_cte: str, in_list: str) -> str:
    k1, b = _FT_EN_CONFIG.k1, _FT_EN_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
stoks AS (SELECT doc_id, {_STEM_CASE} AS tok FROM toks),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM stoks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
{q_cte},
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM stoks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM stoks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


def _ft17_sql() -> str:
    q_cte = "q(term) AS (VALUES " + ", ".join(
        f"('{t}')" for t in sorted(_FT17_TERMS)) + ")"
    in_list = ", ".join(f"'{t}'" for t in sorted(_FT17_TERMS))
    return _stemmed_bm25_sql(q_cte, in_list)


def _ft18_sql() -> str:
    # DuckDB folds the accented surface forms itself; the fold target ->
    # stem step reuses the hand-verified literal map (motoring->motor-style
    # worked examples of the published algorithm).
    q_cte = ("q(term) AS (SELECT CASE strip_accents(v) "
             "WHEN 'merging' THEN 'merg' WHEN 'tables' THEN 'tabl' "
             "WHEN 'queried' THEN 'queri' END "
             "FROM (VALUES ('mérging'), ('tablés'), ('quéried')) t(v))")
    in_list = "'merg', 'tabl', 'queri'"
    return _stemmed_bm25_sql(q_cte, in_list)


def _ft02_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    reader = _ft_index(spark, sf_dir)
    docs = term_docs(spark, reader, "vector")
    return (docs.join(reader.doc_map(spark), "docid")
                .select(_doc_id()).orderBy("doc_id"))


def _ft03_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    reader = _ft_index(spark, sf_dir)
    d = spark.read.parquet(os.path.join(reader.index_dir, "dictionary"))
    return (d.where(F.col("term").isin(_FT_TERMS))
             .select("term", F.col("df").cast("long").alias("df"),
                     F.col("cf").cast("long").alias("cf"))
             .orderBy("term"))


def _ft04_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    reader = _ft_index(spark, sf_dir)
    d = spark.read.parquet(os.path.join(reader.index_dir, "dictionary"))
    n_terms = d.select(F.count_distinct("term").alias("n_terms"))
    return n_terms.select(
        F.lit(reader.n_docs).cast("long").alias("n_docs"),
        F.col("n_terms").cast("long"),
        _dround(F.lit(reader.avgdl), 6).alias("avgdl"),
    )


def _ft01_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


def _ft02_sql() -> str:
    return f"""
WITH {_TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE tok = 'vector' ORDER BY doc_id
"""


def _ft03_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE}
SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM toks WHERE tok IN ({in_list}) GROUP BY tok ORDER BY term
"""


def _ft04_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(DISTINCT tok) FROM toks)::BIGINT AS n_terms,
       round((SELECT sum(dl) FROM dl)::DOUBLE
             / (SELECT count(*) FROM documents), 6) AS avgdl
"""


def _ft05_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    reader = _ft_index(spark, sf_dir)
    from solr_spark.operators.components import suggest_terms

    return suggest_terms(spark, reader.index_dir, "s", k=10)


def _ft05_sql() -> str:
    return f"""
WITH {_TOKS_CTE}
SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
FROM toks WHERE tok LIKE 's%'
GROUP BY tok ORDER BY df DESC, term LIMIT 10
"""


def _ft22_suggest_infix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzing-infix suggester: mid-word contains-match over the dictionary,
    df-weighted, matched span highlighted (SolrSuggester.java:56 +
    AnalyzingInfixLookupFactory.java:39;
    operators/components.py::suggest_infix)."""
    from solr_spark.operators.components import suggest_infix

    reader = _ft_index(spark, sf_dir)
    return suggest_infix(spark, reader.index_dir, "er", k=10)


def _ft22_sql() -> str:
    return f"""
WITH {_TOKS_CTE}
SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df,
       replace(tok, 'er', '<b>er</b>') AS highlighted
FROM toks WHERE tok LIKE '%er%'
GROUP BY tok ORDER BY df DESC, term LIMIT 10
"""


def _ft06_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.operators.components import highlight

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    snip = highlight(d, "text", ["vector"], window_chars=20)
    return (d.select("doc_id", snip.alias("snippet"))
             .where(F.col("snippet").isNotNull()).orderBy("doc_id"))


def _ft06_sql() -> str:
    # mirror of operators/components.py highlight(): first ±20-char fragment
    # around the term, term wrapped in <em> tags
    pat = r"(?i).{0,20}\b(vector)\b.{0,20}"
    return f"""
SELECT doc_id,
       regexp_replace(regexp_extract(text, '{pat}', 0),
                      '(?i)\\b(vector)\\b', '<em>\\1</em>', 'g') AS snippet
FROM documents
WHERE doc_id < 50 AND regexp_extract(text, '{pat}', 0) <> ''
ORDER BY doc_id
"""


def _ft08_spellcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.operators.components import spellcheck

    reader = _ft_index(spark, sf_dir)
    out = spellcheck(spark, reader.index_dir, "vectr", k=5, max_edits=2)
    return out.select("term", "df", F.col("dist").cast("int").alias("dist"))


def _ft08_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
d AS (SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
      FROM toks GROUP BY tok)
SELECT term, df, levenshtein(term, 'vectr')::INT AS dist
FROM d
WHERE term LIKE 'v%' AND term <> 'vectr' AND levenshtein(term, 'vectr') <= 2
ORDER BY dist, df DESC, term LIMIT 5
"""


def _ft09_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, "merge", k=20, mode="wand",
                     synonyms={"merge": ["join"]})
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft09_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
tf AS (
    SELECT doc_id, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ('merge', 'join') GROUP BY doc_id
),
dfreq AS (
    SELECT max(df)::DOUBLE AS df FROM (
        SELECT tok, count(DISTINCT doc_id) AS df
        FROM toks WHERE tok IN ('merge', 'join') GROUP BY tok)
)
SELECT tf.doc_id,
       round( ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM tf JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfreq
ORDER BY score DESC, tf.doc_id LIMIT 20
"""


def _ft10_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.query.phrase import near_topk

    reader = _ft_index(spark, sf_dir)
    topk = near_topk(spark, reader, "merge join", window=3, k=20)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft10_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
),
filtered AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS p
  FROM raw WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM filtered GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
pos AS (SELECT doc_id, p, tok FROM filtered WHERE tok IN ('merge', 'join')),
span AS (
  SELECT a.doc_id, min(abs(a.p - b.p)) AS best
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.tok = 'merge' AND b.tok = 'join'
  GROUP BY a.doc_id
),
tfp AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM pos GROUP BY doc_id),
m AS (SELECT span.doc_id, tf FROM span JOIN tfp USING (doc_id) WHERE best <= 3),
dfn AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT m.doc_id,
       round( ln(1.0 + (c.n_docs - dfn.df + 0.5) / (dfn.df + 0.5))
              * m.tf / (m.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfn
ORDER BY score DESC, m.doc_id LIMIT 20
"""


_FT_PHRASE = "vector small"


def _ft_title_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Second indexed field for edismax: title := first 5 raw whitespace tokens
    of text (one index per field — the Spark restatement of Lucene's
    per-(field, term) posting keying)."""
    from solr_spark.indexing import build_index

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(_SCRATCH, f"ftidx-title-{tag}-{_FT_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    src = _docs_as_transcripts(spark, sf_dir).withColumn(
        "text", F.array_join(F.slice(F.split("text", " "), 1, 5), " "))
    build_index(spark, src, index_dir, _FT_CONFIG,
                input_token=f"documents-title-{tag}")
    return IndexReader.open(index_dir, _FT_CONFIG)


def _ft12_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic-parser term boosts (`merge vector^2.5`): the boost multiplies
    the term's BM25 weight and its WAND bound (QueryParser.jj `^`,
    BoostQParserPlugin.java)."""
    reader = _ft_index(spark, sf_dir)
    # over-fetch, then cut on the ROUNDED score with doc_id tiebreak: the raw
    # k=20 cut is engine-unstable when two docs tie at 4dp (summation-order
    # low bits decide rank 20 vs 21); the rounded cut is deterministic and the
    # SQL twin applies the same ordering.
    topk = bm25_topk(spark, reader, "merge vector", k=60, mode="wand",
                     boosts={"vector": 2.5})
    return (topk.select(_doc_id(), _dround("score", 4).alias("score"))
            .orderBy(F.desc("score"), "doc_id").limit(20))


def _ft12_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term, w) AS (VALUES ('merge', 1.0), ('vector', 2.5)),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ('merge', 'vector') GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ('merge', 'vector') GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( q.w * ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft13_sloppy_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy phrase `"merge join"~2`: ordered greedy chains weighted
    1/(1+matchLength) (QueryParser.jj phrase slop; SloppyPhraseMatcher weight
    formula, ordered-only — deviation documented in query/phrase.py)."""
    from solr_spark.query.phrase import phrase_topk

    reader = _ft_index(spark, sf_dir)
    topk = phrase_topk(spark, reader, "merge join", k=20, slop=2)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft13_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
),
filtered AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS p
  FROM raw WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM filtered GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
starts AS (SELECT doc_id, p FROM filtered WHERE tok = 'merge'),
jpos AS (SELECT doc_id, p FROM filtered WHERE tok = 'join'),
nxt AS (
  SELECT s.doc_id, s.p, min(j.p) AS q
  FROM starts s JOIN jpos j ON j.doc_id = s.doc_id AND j.p > s.p
  GROUP BY s.doc_id, s.p
),
m AS (
  SELECT doc_id, sum(1.0 / (1.0 + (q - p - 1))) AS tf
  FROM nxt WHERE (q - p - 1) <= 2 GROUP BY doc_id
),
dfp AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT m.doc_id,
       round( ln(1.0 + (c.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
              * m.tf / (m.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfp
ORDER BY score DESC, m.doc_id LIMIT 20
"""


def _ft21_sloppy_reversed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-parity sloppy phrase `"window fast"~2` (lucene_parity=True:
    the SloppyPhraseMatcher pq algorithm — REVERSED alignments admitted at
    slop>=2, weight 1/(1+matchLength); reference lucene/core/.../search/
    SloppyPhraseMatcher.java via parser/QueryParser.jj) over the
    token-deduped documents corpus. Dedup (first-occurrence array_distinct,
    expressed identically in the oracle) makes every doc single-occurrence,
    where the matcher's output has the closed form 1/(1+|pa-(pb-1)|) the SQL
    twin computes — so the gate is full-hash while reversed-order docs appear
    in the result (the ordered ft13 kernel would drop them).
    Multi-occurrence traces are pinned by hand-derived vectors in
    tests/test_components.py::test_lucene_sloppy_freq_vectors."""
    from solr_spark.query.phrase import phrase_topk

    reader = _ft_dedup_index(spark, sf_dir)
    # k=80 spans the full sf0.01 match set (68 docs), so the reversed-order
    # matches (tf=1/3, outranked by exact ones) provably appear in the gate
    topk = phrase_topk(spark, reader, "window fast", k=80, slop=2,
                       lucene_parity=True)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft21_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
),
firsts AS (
  SELECT doc_id, tok, min(rp) AS rp FROM raw WHERE tok <> ''
  GROUP BY doc_id, tok
),
filtered AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS p
  FROM firsts WHERE lower(tok) NOT IN ({_STOP_SQL})
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM filtered GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
a AS (SELECT doc_id, p FROM filtered WHERE tok = 'window'),
bb AS (SELECT doc_id, p FROM filtered WHERE tok = 'fast'),
m AS (
  SELECT a.doc_id, 1.0 / (1.0 + abs(a.p - (bb.p - 1))) AS tf
  FROM a JOIN bb USING (doc_id)
  WHERE abs(a.p - (bb.p - 1)) <= 2
),
dfp AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT m.doc_id,
       round( ln(1.0 + (c.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
              * m.tf / (m.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfp
ORDER BY score DESC, m.doc_id LIMIT 80
"""


def _ft23_span_near_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested span algebra `2W(OR(fast, slow), scan)` — an ordered span-near
    whose first clause is a span-or (surround parser family,
    SurroundQParserPlugin.java:41; query/spans.py set-valued semantics:
    tf = |distinct (start, end) spans|, BM25 like the phrase path)."""
    from solr_spark.query.spans import SpanNear, SpanOr, SpanTerm, span_topk

    reader = _ft_index(spark, sf_dir)
    q = SpanNear([SpanOr(SpanTerm("fast"), SpanTerm("slow")),
                  SpanTerm("scan")], slop=2, ordered=True)
    topk = span_topk(spark, reader, q, k=20)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft23_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    # unit spans: or-clause at p1, 'scan' at p2; ordered => p2 >= p1+1;
    # width rule (p2+1 - p1) - 2 <= slop(2) => p2 - p1 <= 3; span = (p1, p2+1)
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
),
filtered AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS p
  FROM raw WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM filtered GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
u AS (SELECT doc_id, p FROM filtered WHERE tok IN ('fast', 'slow')),
sc AS (SELECT doc_id, p FROM filtered WHERE tok = 'scan'),
spans AS (
  SELECT DISTINCT u.doc_id, u.p AS p1, sc.p AS p2
  FROM u JOIN sc ON sc.doc_id = u.doc_id
  WHERE sc.p >= u.p + 1 AND sc.p - u.p <= 3
),
m AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM spans GROUP BY doc_id),
dfp AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT m.doc_id,
       round( ln(1.0 + (c.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
              * m.tf / (m.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfp
ORDER BY score DESC, m.doc_id LIMIT 20
"""


def _ft29_complex_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComplexPhraseQParser `"fast s* quer~1"~1` — a phrase whose middle word
    is a wildcard (dictionary-expanded to a SpanOr) and whose last word is
    fuzzy (ComplexPhraseQParserPlugin.java:43 -> Lucene
    ComplexPhraseQueryParser -> SpanNear over expansion SpanOrs). tf =
    |distinct span windows|, BM25 like the span/phrase path."""
    from solr_spark.query.multiterm import complex_phrase_topk

    reader = _ft_index(spark, sf_dir)
    topk = complex_phrase_topk(spark, reader, "fast s* quer~1", k=20, slop=1)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft29_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    # clause spans are unit-width: fast@p1, s*@p2, quer~1@p3 (expands to
    # 'query' alone in this vocabulary). Ordered chain => p2>=p1+1, p3>=p2+1;
    # width rule (p3+1-p1) - 3 <= slop(1) => p3-p1 <= 3; span = (p1, p3+1),
    # deduped over the p2 choices like the set-valued kernel.
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
),
filtered AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS p
  FROM raw WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM filtered GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
c1 AS (SELECT doc_id, p FROM filtered WHERE tok = 'fast'),
c2 AS (SELECT doc_id, p FROM filtered WHERE tok LIKE 's%'),
c3 AS (SELECT doc_id, p FROM filtered WHERE tok = 'query'),
spans AS (
  SELECT DISTINCT c1.doc_id, c1.p AS p1, c3.p AS p3
  FROM c1 JOIN c2 ON c2.doc_id = c1.doc_id AND c2.p >= c1.p + 1
          JOIN c3 ON c3.doc_id = c1.doc_id AND c3.p >= c2.p + 1
  WHERE c3.p - c1.p <= 3
),
m AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM spans GROUP BY doc_id),
dfp AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT m.doc_id,
       round( ln(1.0 + (c.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
              * m.tf / (m.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfp
ORDER BY score DESC, m.doc_id LIMIT 20
"""


def _ft31_boolean_occurs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic-parser boolean occurs `spark merge +window -vector`
    (QueryParser.jj `+`/`-`; BooleanClause MUST / MUST_NOT): hits must
    contain 'window', must not contain 'vector'; MUST_NOT postings ride the
    same scan and flip a kernel exclusion mask before heap collection —
    Lucene's ReqExclScorer, fully distributed (query/bm25.py)."""
    from solr_spark.query.scored import scored_topk

    reader = _ft_index(spark, sf_dir)
    # deep over-fetch so the rounded re-cut below never straddles a raw-score
    # tie at the fetch boundary (ft12's engine-stability pattern)
    topk = scored_topk(spark, reader, "spark merge +window -vector", k=200)
    return (topk.select(_doc_id(), _dround("score", 4).alias("score"))
            .orderBy(F.desc("score"), "doc_id").limit(20))


def _ft31_sql() -> str:
    in_list = "'spark', 'merge', 'window'"
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
must AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'window'),
mustnot AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'vector'),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    WHERE tf.doc_id IN (SELECT doc_id FROM must)
      AND tf.doc_id NOT IN (SELECT doc_id FROM mustnot)
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft30_freetext_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FreeText suggester `fast s<caret>` — next-word completion from a
    corpus bigram LM with stupid-backoff scoring (Lucene
    suggest/analyzing/FreeTextSuggester.java via FreeTextLookupFactory):
    candidates seen after 'fast' score c(fast,w)/c(fast); prefix-matching
    words unseen in that context back off to 0.4 * c(w)/N; a word reachable
    both ways keeps the higher-order score."""
    from solr_spark.operators.components import suggest_freetext

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return suggest_freetext(docs, "text", "fast s", k=10)


def _ft30_sql() -> str:
    return """
WITH t AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
uni AS (
  SELECT w, count(*)::BIGINT AS c_w
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
bi AS (
  SELECT p.v AS v, p.w AS w, count(*)::BIGINT AS c_vw
  FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                                 i -> struct_pack(v := toks[i],
                                                  w := toks[i + 1]))) AS p
    FROM t
  )
  GROUP BY 1, 2
),
consts AS (SELECT sum(c_w)::BIGINT AS n FROM uni),
cv AS (SELECT c_w FROM uni WHERE w = 'fast'),
topo AS (
  SELECT w AS word, c_vw::DOUBLE / (SELECT c_w FROM cv)::DOUBLE AS score
  FROM bi WHERE v = 'fast' AND w LIKE 's%'
),
lowo AS (
  SELECT w AS word,
         0.4 * c_w::DOUBLE / (SELECT n FROM consts)::DOUBLE AS score
  FROM uni WHERE w LIKE 's%'
),
m AS (
  SELECT word, max(score) AS s
  FROM (SELECT * FROM topo UNION ALL SELECT * FROM lowo) GROUP BY word
)
SELECT word, round(s, 6) AS score FROM m
ORDER BY score DESC, word LIMIT 10
"""


def _ft14_fuzzy_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-expanded scored fuzzy query `vectr~1` (QParserPlugin.java
    fuzzy entry; Lucene TopTermsBlendedFreqScoringRewrite shape): expansion
    against the analyzed term dictionary, blended-group BM25 scoring."""
    from solr_spark.query.multiterm import fuzzy_topk

    reader = _ft_index(spark, sf_dir)
    topk = fuzzy_topk(spark, reader, "vectr", k=20, max_edits=1)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft14_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
d AS (SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
      FROM toks GROUP BY tok),
exp AS (
    SELECT term, df FROM d
    WHERE abs(length(term) - length('vectr')) <= 1
      AND levenshtein(term, 'vectr') <= 1
    ORDER BY df DESC, term LIMIT 50
),
tf AS (
    SELECT doc_id, count(*)::DOUBLE AS tf
    FROM toks JOIN exp ON toks.tok = exp.term GROUP BY doc_id
),
dfreq AS (SELECT max(df)::DOUBLE AS df FROM exp)
SELECT tf.doc_id,
       round( ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM tf JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfreq
ORDER BY score DESC, tf.doc_id LIMIT 20
"""


def _ft_del_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Dedicated index for the delete gate: built once, then deleteByQuery
    tombstones every doc containing 'vector' (marker-file idempotent so
    repeated gate runs don't stack tombstone batches)."""
    from solr_spark.indexing import build_index, delete_by_terms

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(_SCRATCH, f"ftidx-del-{tag}-{_FT_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    build_index(spark, _docs_as_transcripts(spark, sf_dir), index_dir,
                _FT_CONFIG, input_token=f"documents-del-{tag}")
    reader = IndexReader.open(index_dir, _FT_CONFIG)
    marker = os.path.join(index_dir, "_deletes_applied")
    if not os.path.exists(marker):
        delete_by_terms(spark, reader, ["vector"])
        with open(marker, "w") as f:
            f.write("vector")
    return reader


def _q46_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-deleted (tombstoned) docs are masked at collect time while
    df/n_docs/avgdl still count them — Lucene liveDocs semantics
    (DeleteStream.java / DirectUpdateHandler2.java)."""
    reader = _ft_del_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, "merge", k=20, mode="wand")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _q46_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM toks
       WHERE tok = 'merge' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM toks
          WHERE tok = 'merge'),
delset AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'vector')
SELECT tf.doc_id,
       round( ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM tf JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfreq
WHERE tf.doc_id NOT IN (SELECT doc_id FROM delset)
ORDER BY score DESC, tf.doc_id LIMIT 20
"""


_EDISMAX_Q = "vector small"
_EDISMAX_QF = {"text": 1.0, "title": 2.0}
_EDISMAX_TIE = 0.2
_EDISMAX_PF = 1.5  # pf weight on the text field


def _ft11_edismax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax: qf-weighted dismax over (text, title) + tie + pf phrase boost
    (ExtendedDismaxQParser.java:66)."""
    from solr_spark.query.edismax import edismax_topk

    readers = {"text": _ft_index(spark, sf_dir),
               "title": _ft_title_index(spark, sf_dir)}
    topk = edismax_topk(spark, readers, _EDISMAX_Q, _EDISMAX_QF, k=20,
                        tie=_EDISMAX_TIE, pf={"text": _EDISMAX_PF})
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft11_sql(final_where: str = "") -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    t1, t2 = _EDISMAX_Q.split()
    in_list = f"'{t1}', '{t2}'"
    wt_text, wt_title = _EDISMAX_QF["text"], _EDISMAX_QF["title"]
    tie, pfw = _EDISMAX_TIE, _EDISMAX_PF
    return f"""
WITH {_TOKS_CTE},
ttoks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(list_slice(string_split(text, ' '), 1, 5)) AS tok
        FROM documents
    ) WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
corpus AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs),
fstats AS (
    SELECT 'text' AS fld, (SELECT count(*) FROM toks)::DOUBLE / n_docs AS avgdl
    FROM corpus
    UNION ALL
    SELECT 'title', (SELECT count(*) FROM ttoks)::DOUBLE / n_docs FROM corpus
),
alltoks AS (
    SELECT 'text' AS fld, doc_id, tok FROM toks
    UNION ALL SELECT 'title', doc_id, tok FROM ttoks
),
dl AS (SELECT fld, doc_id, count(*)::DOUBLE AS dl FROM alltoks GROUP BY fld, doc_id),
dfreq AS (
    SELECT fld, tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM alltoks WHERE tok IN ({in_list}) GROUP BY fld, tok
),
idf AS (
    SELECT fld, term, ln(1.0 + (c.n_docs - df + 0.5) / (df + 0.5)) AS idf
    FROM dfreq CROSS JOIN corpus c
),
tf AS (
    SELECT fld, doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM alltoks WHERE tok IN ({in_list}) GROUP BY fld, doc_id, tok
),
contrib AS (
    SELECT tf.doc_id, tf.term,
           (CASE tf.fld WHEN 'text' THEN {wt_text} ELSE {wt_title} END)
           * idf.idf * tf.tf
           / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / fs.avgdl)) AS c
    FROM tf
    JOIN idf ON idf.fld = tf.fld AND idf.term = tf.term
    JOIN dl ON dl.fld = tf.fld AND dl.doc_id = tf.doc_id
    JOIN fstats fs ON fs.fld = tf.fld
),
dismax AS (
    SELECT doc_id, term, max(c) + {tie} * (sum(c) - max(c)) AS tscore
    FROM contrib GROUP BY doc_id, term
),
main AS (SELECT doc_id, sum(tscore) AS score FROM dismax GROUP BY doc_id),
an AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '),
                     x -> x <> '' AND lower(x) NOT IN ({_STOP_SQL})) AS tl
  FROM documents
),
pfreq AS (
  SELECT doc_id,
         len(list_filter(range(1, len(tl)), i ->
             list_slice(tl, i, i + 1) = ['{t1}', '{t2}']))::DOUBLE AS pfr
  FROM an
),
idfsum AS (
  SELECT sum(idf)::DOUBLE AS s FROM idf WHERE fld = 'text'
),
boost AS (
  SELECT p.doc_id,
         {pfw} * idfsum.s * p.pfr
         / (p.pfr + {k1} * (1.0 - {b} + {b} * dl.dl / fs.avgdl)) AS bst
  FROM pfreq p
  JOIN dl ON dl.fld = 'text' AND dl.doc_id = p.doc_id
  JOIN fstats fs ON fs.fld = 'text'
  CROSS JOIN idfsum
  WHERE p.pfr > 0
)
SELECT m.doc_id, round(m.score + coalesce(boost.bst, 0.0), 4) AS score
FROM main m LEFT JOIN boost ON boost.doc_id = m.doc_id
{final_where}
ORDER BY score DESC, m.doc_id LIMIT 20
"""


def _ft20_unified_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UnifiedHighlighter passage mode: for the flagship query's top-20 docs,
    the best 8-token window scored by summed idf of the distinct query terms
    it contains, matched terms wrapped in <em> (operators/components.py::
    best_passage — pure codegen'd Column algebra over the analyzed tokens)."""
    import math

    from solr_spark.operators.components import best_passage

    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand")
    analyzed = spark.read.parquet(
        os.path.join(reader.index_dir, "analyzed", "batch-*")
    ).select("docid", "toks")
    d = (spark.read.parquet(os.path.join(reader.index_dir, "dictionary"))
         .where(F.col("term").isin(_FT_TERMS)).select("term", "df").collect())
    n = reader.n_docs
    idfs = {r["term"]: math.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5))
            for r in d}
    passage, score = best_passage("toks", idfs, window=8)
    hits = topk.select("docid", _doc_id()).join(analyzed, "docid")
    return (hits.select("doc_id", passage.alias("passage"),
                        score.alias("pscore"))
                .orderBy("doc_id"))


def _ft20_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    ordered = sorted(_FT_TERMS)
    # per-start score summed in sorted-term order (bit-matches the engine)
    score_expr = " + ".join(
        f"(list_contains(list_slice(l, i, i + 7), '{t}'))::INT * iv.i_{t}"
        for t in ordered)
    idf_cols = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN idf END) AS i_{t}" for t in ordered)
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
lex AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
),
page AS (
    SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        FROM lex
    ) WHERE r <= 20
),
idfv AS (
    SELECT term, ln(1.0 + (c.n_docs - df + 0.5) / (df + 0.5)) AS idf
    FROM dfreq CROSS JOIN corpus c
),
iv AS (SELECT {idf_cols} FROM idfv),
doclists AS (
    SELECT d.doc_id,
           list_filter(string_split(d.text, ' '),
                       x -> x <> '' AND lower(x) NOT IN ({_STOP_SQL})) AS l
    FROM documents d JOIN page USING (doc_id)
),
scored AS (
    SELECT doc_id, l,
           list_transform(range(1, greatest(len(l) - 7, 1) + 1),
                          i -> {score_expr}) AS ws
    FROM doclists CROSS JOIN iv
),
best AS (
    SELECT doc_id, l,
           list_max(ws) AS best_score,
           list_position(ws, list_max(ws)) AS best_start
    FROM scored
)
SELECT doc_id,
       CASE WHEN best_score > 0.0 THEN array_to_string(
           list_transform(list_slice(l, best_start, best_start + 7),
                          x -> CASE WHEN x IN ({in_list})
                               THEN '<em>' || x || '</em>' ELSE x END), ' ')
       END AS passage,
       CASE WHEN best_score > 0.0 THEN round(best_score, 6) END AS pscore
FROM best ORDER BY doc_id
"""


def _q60_nrt_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NRT adds equal a batch build, SQL-verified: index 4/5 of documents,
    `add_documents` the remaining 1/5 as a fresh segment (indexing/merge.py —
    norms + dictionary + stats refreshed, no old-segment rewrite), then score
    the flagship query over the merged index. The oracle is the plain
    full-corpus BM25 derivation — if the incremental path diverged from the
    batch path in any df/cf/dl/docid bookkeeping, every score would shift.
    Full match set (no top-k cut) so the check is tie-order-independent."""
    from solr_spark.indexing import build_index
    from solr_spark.indexing.merge import add_documents

    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(
        _SCRATCH, f"nrtidx-{tag}-{_FT_CONFIG.config_hash()}")
    docs = _docs_as_transcripts(spark, sf_dir)
    base = docs.where(F.col("conv_id").cast("long") % 5 != 4)
    adds = docs.where(F.col("conv_id").cast("long") % 5 == 4)
    if not os.path.isdir(os.path.join(index_dir, "segments", "seg-001")):
        os.makedirs(index_dir, exist_ok=True)
        build_index(spark, base, index_dir, _FT_CONFIG,
                    input_token=f"documents-base-{tag}")
        add_documents(spark, adds, index_dir, _FT_CONFIG)
    reader = IndexReader.open(index_dir, _FT_CONFIG)
    # k >= corpus size = the full match set (TakeOrdered's buffer is O(k),
    # so "unbounded" is spelled as a bound comfortably above n_docs)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=max(10**6, reader.n_docs),
                     mode="exact")
    return (topk.select(_doc_id(), _dround("score", 4).alias("score"))
                .orderBy("doc_id"))


def _q60_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score FROM scored ORDER BY doc_id
"""


def _ft19_bf_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax `bf` additive + `boost` multiplicative function queries over
    ft11's two-field dismax: bf = ln(1 + n_chars)/10 (longer docs nudged up),
    boost = 1 + (doc_id % 3)/10 (a deterministic doc-value function). Final
    score = (main + pf + bf) * boost (query/edismax.py nesting)."""
    from solr_spark.query.edismax import edismax_topk

    readers = {"text": _ft_index(spark, sf_dir),
               "title": _ft_title_index(spark, sf_dir)}
    docs = _t(spark, sf_dir, "documents").select(
        F.format_string("%012d", F.col("doc_id")).alias("conv_id"),
        "doc_id", "n_chars")
    dm = readers["text"].doc_map(spark).join(docs, "conv_id")
    bf = dm.select("docid",
                   (F.log1p(F.col("n_chars")) / 10.0).alias("bf"))
    boost = dm.select("docid",
                      (1.0 + (F.col("doc_id") % 3) * 0.1).alias("boost"))
    topk = edismax_topk(spark, readers, _EDISMAX_Q, _EDISMAX_QF, k=20,
                        tie=_EDISMAX_TIE, pf={"text": _EDISMAX_PF},
                        bf=bf, boost=boost)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft19_sql() -> str:
    # ft11's derivation with the bf/boost functions wrapped around the final
    # score — one source of truth for the dismax body.
    base = _ft11_sql()
    old_tail = """
SELECT m.doc_id, round(m.score + coalesce(boost.bst, 0.0), 4) AS score
FROM main m LEFT JOIN boost ON boost.doc_id = m.doc_id

ORDER BY score DESC, m.doc_id LIMIT 20
"""
    new_tail = """
SELECT m.doc_id,
       round((m.score + coalesce(boost.bst, 0.0) + ln(1.0 + d.n_chars) / 10.0)
             * (1.0 + (m.doc_id % 3) * 0.1), 4) AS score
FROM main m LEFT JOIN boost ON boost.doc_id = m.doc_id
JOIN documents d ON d.doc_id = m.doc_id
ORDER BY score DESC, m.doc_id LIMIT 20
"""
    assert old_tail in base
    return base.replace(old_tail, new_tail)


def _ft07_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.query.phrase import phrase_topk

    reader = _ft_index(spark, sf_dir)
    topk = phrase_topk(spark, reader, _FT_PHRASE, k=20)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft07_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    terms = _FT_PHRASE.split()
    n = len(terms)
    target = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    # mirror of query/phrase.py phrase_count_expr: count EVERY start position
    # whose n-token slice equals the phrase (exact Lucene slop-0 semantics,
    # overlapping occurrences included), BM25 with tf = phrase freq,
    # df = phrase doc freq, exact dl
    return f"""
WITH an AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '),
                     x -> x <> '' AND lower(x) NOT IN ({_STOP_SQL})) AS tl
  FROM documents
),
dl AS (SELECT doc_id, len(tl)::DOUBLE AS dl FROM an),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
pf AS (
  SELECT doc_id,
         len(list_filter(range(1, len(tl) - {n} + 2),
                         i -> list_slice(tl, i, i + {n - 1}) = {target}))::DOUBLE AS pf
  FROM an
),
m AS (SELECT * FROM pf WHERE pf > 0),
dfp AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT m.doc_id,
       round( ln(1.0 + (c.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
              * m.pf / (m.pf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))), 4)
         AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfp
ORDER BY score DESC, m.doc_id LIMIT 20
"""


# ----------------------------------------------------------------- relational


def _q01_search(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return streams.search(
        li,
        where=(F.col("l_shipdate") >= "1998-01-01") & (F.col("l_quantity") > 30),
        fl=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
        sort=["l_orderkey", "l_linenumber"],
    ).limit(100)


def _q02_lucene_parser(spark, sf_dir):
    pred = parse_query(
        'o_orderpriority:"1-URGENT" AND o_totalprice:[100000 TO *] AND NOT o_orderstatus:P',
        default_field="o_orderpriority",
    )
    return (_t(spark, sf_dir, "orders").where(pred)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .orderBy("o_orderkey"))


def _q03_terms_in_list(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.where(F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"]))
             .groupBy(F.col("o_orderpriority").alias("priority"))
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy("priority"))


def _q04_terms_facet(spark, sf_dir):
    return facets.terms_facet(_t(spark, sf_dir, "events"), "event_type", limit=10)


def _q05_range_facet(spark, sf_dir):
    return facets.range_facet(
        _t(spark, sf_dir, "orders"), "o_totalprice", start=0.0, gap=50000.0,
        metrics=[_dround(F.avg("o_totalprice"), 4).alias("avg_price")],
    )


def _q06_query_facet(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return facets.query_facet(li, {
        "high_qty": F.col("l_quantity") >= 45,
        "discounted": F.col("l_discount") > 0.05,
        "returned": F.col("l_returnflag") == "R",
    })


def _q07_nested_facet(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
    return facets.nested_facet(
        ev, "event_type", "day",
        metrics=[_dround(F.avg("value"), 4).alias("avg_value")],
    )


def _q08_pivot_facet(spark, sf_dir):
    return facets.pivot_facet(_t(spark, sf_dir, "lineitem"),
                              ["l_returnflag", "l_linestatus"])


def _q09_stats(spark, sf_dir):
    # sum / sum_of_squares are exact DECIMAL(38,4); compare as strings so the
    # gate never depends on an engine's decimal->double cast (ulp is 0.25 at
    # the sf0.1 sum_of_squares magnitude, and DuckDB's cast is not
    # nearest-rounding there).
    stats = facets.stats_component(_t(spark, sf_dir, "lineitem"),
                                   "l_extendedprice")
    return stats.withColumn("sum", F.col("sum").cast("string")) \
                .withColumn("sum_of_squares",
                            F.col("sum_of_squares").cast("string"))


def _q10_percentiles(spark, sf_dir):
    return facets.percentiles(_t(spark, sf_dir, "orders"), "o_totalprice",
                              [0.25, 0.5, 0.75, 0.95])


def _q11_timeseries(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = facets.timeseries(ev, "ts", "day",
                            metrics=[_dround(F.avg("value"), 4).alias("avg_value")])
    return out.select(F.date_format("bucket_ts", "yyyy-MM-dd").alias("day"),
                      "count", "avg_value")


def _q12_collapse(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return windows.collapse(
        o, "o_custkey", [F.desc("o_totalprice"), F.asc("o_orderkey")]
    ).select("o_custkey", "o_orderkey", "o_totalprice")


def _q13_group_topn(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    out = windows.group_top_n(
        li, "l_orderkey", [F.desc("l_extendedprice"), F.asc("l_linenumber")], 2)
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice",
                      F.col("group_rank").cast("long").alias("group_rank"))


def _q14_expand(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    out = windows.expand(o, "o_custkey",
                         [F.desc("o_totalprice"), F.asc("o_orderkey")], 2)
    return out.select("o_custkey", "o_orderkey", "o_totalprice")


def _q15_cursor_page(spark, sf_dir):
    return windows.cursor_page(
        _t(spark, sf_dir, "orders"), ["o_orderkey"], last=[750], rows=50
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def _q16_top_rank(spark, sf_dir):
    return streams.top(
        _t(spark, sf_dir, "orders"), 20,
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
    ).select("o_orderkey", "o_totalprice")


def _q17_unique_stream(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = streams.unique(ev, ["user_id"], sort=["ts", "event_id"])
    return out.select("user_id", "event_id", "event_type")


def _q18_merge_union(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "error")
    b = ev.where((F.col("event_type") == "purchase") & (F.col("value") > 150))
    return (streams.merge(a, b)
            .select("event_id", "event_type", _dround("value", 2).alias("value"))
            .orderBy("event_id"))


def _q19_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    b = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return streams.intersect(a, b, ["o_custkey"]).orderBy("o_custkey")


def _q20_complement(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (streams.complement(c.select("c_custkey"), o, ["c_custkey"])
            .orderBy("c_custkey"))


def _q21_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return streams.intersect(
        c.select(F.col("c_custkey"), "c_name"),
        big.select(F.col("o_custkey").alias("c_custkey")),
        ["c_custkey"],
    ).orderBy("c_custkey")


def _q22_join_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = streams.inner_join(
        o, c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
        ["o_custkey"],
    )
    j = streams.hash_join(j, n.select(F.col("n_nationkey").alias("c_nationkey"),
                                      "n_name"), ["c_nationkey"])
    return streams.rollup(
        j, ["n_name"],
        [_dround(F.sum("o_totalprice"), 2).alias("revenue"),
         F.count(F.lit(1)).alias("n_orders")],
    ).orderBy("n_name")


def _q23_hash_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = streams.hash_join(li, p.select(F.col("p_partkey").alias("l_partkey"),
                                       "p_brand"), ["l_partkey"])
    return streams.rollup(
        j, ["p_brand"],
        [_dround(F.sum("l_quantity"), 2).alias("sum_qty"),
         F.count(F.lit(1)).alias("n_items")],
    ).orderBy("p_brand")


def _q24_block_join_parent(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    hot = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return streams.intersect(
        o.select("o_orderkey", "o_totalprice"),
        hot.select(F.col("l_orderkey").alias("o_orderkey")),
        ["o_orderkey"],
    ).orderBy("o_orderkey")


def _q25_function_queries(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 100)
    return o.select(
        "o_orderkey",
        _dround(F.log(F.col("o_totalprice")), 4).alias("ln_price"),
        _dround(F.sqrt(F.col("o_totalprice")), 4).alias("sqrt_price"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.when(F.col("o_totalprice") > 100000, F.lit("big"))
         .otherwise(F.lit("small")).alias("size_class"),
    ).orderBy("o_orderkey")


def _q26_strdist(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type").distinct()
    return ev.select(
        "event_type",
        F.levenshtein(F.col("event_type"), F.lit("purchase")).cast("long")
         .alias("edit_dist"),
    ).orderBy("event_type")


def _q27_date_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.where((F.col("ts") >= "2024-01-02") & (F.col("ts") < "2024-01-05"))
              .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
              .orderBy("event_type"))


def _q28_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 100)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    ).orderBy("event_id")


def _q29_explode(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    out = streams.cartesian_product(toks, "toks", "tok").where(F.col("tok") != "")
    return (out.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
               .orderBy("doc_id", "tok"))


def _q30_rerank(spark, sf_dir):
    from solr_spark.operators.components import rerank

    top20 = streams.top(_t(spark, sf_dir, "orders"), 20,
                        [F.desc("o_totalprice"), F.asc("o_orderkey")]) \
        .select("o_orderkey", F.col("o_totalprice").alias("score"))
    out = rerank(top20, (F.col("o_orderkey") % 7).cast("double") * 1000.0,
                 rerank_docs=10,
                 first_sort=[F.desc("score"), F.asc("o_orderkey")])
    # value-hash compare is order-insensitive; the semantic under test is that
    # ONLY the first-pass top-10 get the boost applied
    return out.select("o_orderkey", _dround("new_score", 2).alias("new_score"))


def _q31_rollup_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"),
                   _dround(F.sum("l_quantity"), 2).alias("qty"))
              .orderBy("l_returnflag", "l_linestatus"))


def _q32_moving_avg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day"))
               .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("day").rowsBetween(-2, 0)
    return daily.select("day", "n",
                        _dround(F.avg("n").over(w), 4).alias("ma3")).orderBy("day")


def _q33_shingles(spark, sf_dir):
    from solr_spark.functions.textanalysis import ngram_shingles

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    sh = d.select("doc_id", ngram_shingles("text", 3).alias("shingles"))
    return (sh.select("doc_id",
                      F.size(F.array_distinct("shingles")).cast("long")
                       .alias("n_distinct_shingles"))
              .orderBy("doc_id"))


def _g01_gather_nodes(spark, sf_dir):
    """customer -> order -> part bipartite walk, 2 BFS levels (ids prefixed to
    keep the node namespace unified)."""
    from solr_spark.operators.graph import gather_nodes

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e1 = o.select(F.concat(F.lit("c"), "o_custkey").alias("src"),
                  F.concat(F.lit("o"), "o_orderkey").alias("dst"))
    e2 = li.select(F.concat(F.lit("o"), "l_orderkey").alias("src"),
                   F.concat(F.lit("p"), "l_partkey").alias("dst"))
    edges = e1.unionByName(e2)
    roots = spark.createDataFrame([("c1",), ("c2",)], "node string")
    out = gather_nodes(edges, roots, "src", "dst", levels=2)
    return out.select("node", F.col("level").cast("long").alias("level")) \
              .orderBy("level", "node")


def _g02_shortest_path(spark, sf_dir):
    """BFS shortest path c7 -> p35 over the customer/order/part graph
    (ShortestPathStream analog; min-predecessor tiebreak)."""
    from solr_spark.operators.graph import shortest_path

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.select(F.concat(F.lit("c"), "o_custkey").alias("src"),
                 F.concat(F.lit("o"), "o_orderkey").alias("dst"))
         .unionByName(
             li.select(F.concat(F.lit("o"), "l_orderkey").alias("src"),
                       F.concat(F.lit("p"), "l_partkey").alias("dst")))
    )
    path = shortest_path(edges, "c7", "p35", "src", "dst", max_depth=4)
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(path)], "pos long, node string"
    ).orderBy("pos")


def _g03_graph_fixpoint(spark, sf_dir):
    """{!graph} fixpoint traversal (GraphQuery.java:64,143): transitive closure
    from 3 customer roots over the customer->order->part edge set."""
    from solr_spark.operators.graph import graph_query

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.select(F.concat(F.lit("c"), "o_custkey").alias("src"),
                 F.concat(F.lit("o"), "o_orderkey").alias("dst"))
         .unionByName(
             li.select(F.concat(F.lit("o"), "l_orderkey").alias("src"),
                       F.concat(F.lit("p"), "l_partkey").alias("dst")))
    )
    roots = spark.createDataFrame([("c1",), ("c2",), ("c3",)], "node string")
    return graph_query(edges, roots, "src", "dst").orderBy("node")


def _q34_geodist(spark, sf_dir):
    """geodist/geofilt over coordinates derived deterministically from keys
    (the TPC-H-ish tables carry no geo columns; the formula is the fixture)."""
    from solr_spark.functions.geo import geodist, geofilt

    c = (_t(spark, sf_dir, "customer")
         .withColumn("lat", (F.col("c_custkey") % 180 - 90) + F.lit(0.5))
         .withColumn("lon", (F.col("c_custkey") * 7 % 360 - 180) + F.lit(0.5)))
    return (c.where(geofilt("lat", "lon", 10.0, 20.0, 4000.0))
             .select("c_custkey",
                     _dround(geodist("lat", "lon", 10.0, 20.0), 2)
                      .alias("dist_km"))
             .orderBy("c_custkey"))


def _q35_date_math(spark, sf_dir):
    from solr_spark.functions.datemath import date_math

    ev = _t(spark, sf_dir, "events")
    cutoff = date_math("2024-01-30T00:00:00Z/DAY-7DAYS")
    return (ev.where(F.col("ts") >= cutoff)
              .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day"))
              .agg(F.count(F.lit(1)).alias("n"))
              .orderBy("day"))


def _q36_jaro_winkler(spark, sf_dir):
    from solr_spark.functions.textanalysis import jaro_winkler

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100)
    return (c.select("c_custkey",
                     _dround(jaro_winkler("c_name", F.lit("Customer#000000042")), 4)
                      .alias("jw"))
             .orderBy("c_custkey"))


def _q37_reduce_group(spark, sf_dir):
    """ReducerStream analog: group-sorted reduce (concatenate order priorities
    in (date, key) order per customer)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    packed = F.array_sort(F.collect_list(
        F.struct(F.col("o_orderdate").alias("d"),
                 F.col("o_orderkey").alias("k"),
                 F.col("o_orderpriority").alias("p"))))
    return (o.groupBy("o_custkey")
             .agg(F.array_join(F.transform(packed, lambda s: s["p"]), ",")
                   .alias("prios"))
             .orderBy("o_custkey"))


def _q50_hll(spark, sf_dir):
    """hll facet metric (HLLAgg): approximate distinct users per event type.
    rows-only driver check: Spark's HLL++ and DuckDB's approx sketch produce
    different estimates by construction; the exact-distinct twin is pinned by
    pytest (test_operators) within HLL++ error bounds."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", 0.02).alias("hll_users"),
                   F.count(F.lit(1)).alias("n"))
              .orderBy("event_type"))


def _q51_evaluator_series(spark, sf_dir):
    """Streaming-expression array evaluators as Column algebra (SURVEY §2.8;
    ref solrj-streaming Lang.java:424-531, eval/MovingAverageEvaluator.java,
    eval/TimeDifferencingEvaluator.java, eval/IntegrateEvaluator.java): per-user
    event-value series -> movingAvg / diff / integral / l2norm / mean / stddev,
    all pure JVM higher-order-function expressions — the series never leaves
    Tungsten (solr_spark/functions/evaluators.py)."""
    from solr_spark.functions import evaluators as ev

    events = _t(spark, sf_dir, "events")
    series = (events.groupBy("user_id")
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
                  lambda s: s["value"].cast("double")).alias("s")))
    a = F.col("s")
    return (series.where(F.size(a) >= 4)
            .select(
                "user_id",
                F.size(a).cast("long").alias("n"),
                _dround(ev.arr_mean(a), 4).alias("mean"),
                _dround(ev.arr_stddev(a), 4).alias("sd"),
                _dround(ev.l2norm(a), 4).alias("l2"),
                _dround(ev.integral_ev(a), 4).alias("integral"),
                _dround(F.aggregate(ev.diff_ev(a), F.lit(0.0),
                                    lambda acc, x: acc + x), 4).alias("diff_sum"),
                _dround(F.element_at(ev.moving_avg(a, 3), -1), 4).alias("ma3_last"))
            .orderBy("user_id"))


def _q52_regress(spark, sf_dir):
    """regress() dataset evaluator (eval/RegressionEvaluator.java): simple OLS
    of event value on hour-of-day in ONE aggregation pass via the built-in
    regr_* aggregates (solr_spark/functions/evaluators.py:regress)."""
    from solr_spark.functions.evaluators import regress

    events = _t(spark, sf_dir, "events") \
        .select(F.col("value"), F.hour("ts").cast("double").alias("x"))
    r = regress(events, "x", "value")
    return r.select(_dround("slope", 6).alias("slope"),
                    _dround("intercept", 6).alias("intercept"),
                    _dround("r", 6).alias("r"),
                    _dround("r_squared", 6).alias("r_squared"),
                    F.col("n").cast("long").alias("n"))


def _q53_hist(spark, sf_dir):
    """hist() dataset evaluator (eval/HistogramEvaluator.java): equal-width
    12-bin histogram over event values — bounds agg + one groupBy
    (solr_spark/functions/evaluators.py:hist)."""
    from solr_spark.functions.evaluators import hist

    h = hist(_t(spark, sf_dir, "events"), "value", bins=12)
    return h.select(F.col("bin").cast("long").alias("bin"),
                    _dround("lo", 6).alias("lo"),
                    _dround("hi", 6).alias("hi"),
                    F.col("count"))


def _q54_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov dataset evaluator (eval family of
    KolmogorovSmirnovEvaluator.java): click vs purchase event-value
    distributions. ECDFs at distinct-value boundaries (tie-exact), asymptotic
    p-value (solr_spark/functions/evaluators.py:kolmogorov_smirnov)."""
    from solr_spark.functions.evaluators import kolmogorov_smirnov

    ev = _t(spark, sf_dir, "events") \
        .where(F.col("event_type").isin("click", "purchase"))
    ks = kolmogorov_smirnov(ev, "value", "event_type")
    return spark.createDataFrame(
        [(round(ks["d_statistic"], 6), round(ks["p_value"], 6))],
        "d_statistic double, p_value double")


def _q55_spearman(spark, sf_dir):
    """Spearman rank correlation (eval/CorrelationEvaluator.java spearman
    branch) of event value vs hour-of-day: fractional tie ranks via
    per-distinct-value rank tables joined back — no global per-row sort
    (solr_spark/functions/evaluators.py:dataset_corr)."""
    from solr_spark.functions.evaluators import dataset_corr

    ev = _t(spark, sf_dir, "events").select(
        F.col("value").alias("x"), F.hour("ts").cast("double").alias("y"))
    return dataset_corr(ev, "x", "y", method="spearman") \
        .select(_dround("corr", 6).alias("spearman"))


def _q44_unique_block(spark, sf_dir):
    """uniqueBlock(_root_) facet metric (UniqueBlockAgg): distinct parent
    blocks containing a matching child, bucketed by a child field."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_quantity") > 45)
              .groupBy("l_returnflag")
              .agg(F.count_distinct("l_orderkey").alias("unique_blocks"))
              .orderBy("l_returnflag"))


def _q43_frange(spark, sf_dir):
    """{!frange l=.. u=..} over a function query (FunctionRangeQParserPlugin):
    rows whose computed value falls in the range, Catalyst-pushable."""
    li = _t(spark, sf_dir, "lineitem")
    fv = _dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    return (li.select("l_orderkey", "l_linenumber", fv.alias("net"))
              .where(fv.between(900.0, 1000.0))
              .orderBy("l_orderkey", "l_linenumber"))


def _q42_relatedness(spark, sf_dir):
    """JSON-facet relatedness metric: order-priority buckets vs the
    high-value-orders foreground set."""
    o = _t(spark, sf_dir, "orders")
    return facets.relatedness(o, "o_orderpriority",
                              F.col("o_totalprice") > 150000) \
        .orderBy("o_orderpriority")


def _vv03_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, exact all-pairs baseline
    (the LSH-blocked scale path is tested against this in test_functions)."""
    from solr_spark.functions.vectors import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.4,
                                 method="exact")


def _dd13_sft_pairs(spark, sf_dir):
    """SFT pair extraction (operators/windows.py::sft_pairs): events recast
    as multi-turn transcripts (conv = user timeline, role from event_type),
    each 'assistant' turn paired with its rendered previous-3-turns context —
    ONE bounded row-frame window, no self-join (the training-pipeline
    prompt/response prep operator)."""
    from solr_spark.operators.windows import sft_pairs

    ev = _t(spark, sf_dir, "events")
    tr = ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("turn_idx"),
        F.when(F.col("event_type").isin("purchase", "signup"), "assistant")
         .otherwise("user").alias("role"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("props")).alias("text"),
    )
    out = sft_pairs(tr, F.col("role") == "assistant", context_turns=3)
    return (out.select("event_id", "conv_id", "turn_idx", "context",
                       "response", "n_context_turns", "context_tokens",
                       "response_tokens")
               .orderBy("event_id"))


_DD13_SQL = r"""
WITH tr AS (
  SELECT event_id, user_id::VARCHAR AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::INT
           AS turn_idx,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 'assistant'
              ELSE 'user' END AS role,
         event_type || ' ' || props AS text,
         ts
  FROM events
),
win AS (
  SELECT event_id, conv_id, turn_idx, role, text,
         string_agg(role || ': ' || text, chr(10)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS context,
         count(*) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)::INT AS n_context_turns
  FROM tr
)
SELECT event_id, conv_id, turn_idx, context, text AS response,
       n_context_turns,
       len(list_filter(regexp_split_to_array(context, '\s+'),
                       t -> t <> ''))::BIGINT AS context_tokens,
       len(list_filter(regexp_split_to_array(text, '\s+'),
                       t -> t <> ''))::BIGINT AS response_tokens
FROM win
WHERE role = 'assistant' AND n_context_turns >= 1
ORDER BY event_id
"""


def _dd12_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster-scoped embedding near-dup pairs,
    functions/dedup.py::semantic_dedup_pairs): coarse-quantize to seed
    centroids (vec_id < 8 — the SQL-twin-checkable quantizer; the trained
    spherical-k-means mode is pytest-gated), then exact cosine only within
    clusters. Survivor selection on top is dd11's CC kernel (pytest)."""
    from solr_spark.functions.dedup import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, "vec_id", "embedding", 0.4,
                                n_centroids=8, train=False)


def _q58_terms_enum(spark, sf_dir):
    """TermsComponent enumeration: dictionary terms matching a regex inside a
    [lower, upper) range with a mincount floor, count-sorted
    (operators/components.py::enum_terms)."""
    from solr_spark.operators.components import enum_terms

    reader = _ft_index(spark, sf_dir)
    return enum_terms(spark, reader.index_dir, regex="^s.*",
                      lower="sc", upper="st", min_df=2, k=10)


_Q58_SQL = f"""
WITH {_TOKS_CTE},
dcnt AS (
    SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
    FROM toks GROUP BY tok
)
SELECT term, df FROM dcnt
WHERE regexp_matches(term, '^s.*') AND term >= 'sc' AND term < 'st' AND df >= 2
ORDER BY df DESC, term LIMIT 10
"""


def _q57_facet_domain(spark, sf_dir):
    """JSON-facet domain changes: tagged filters with excludeTags (multi-
    select faceting) + blockChildren domain mapping (operators/facets.py).
    Orders carry two tagged filters (status, prio); the facet excludes the
    prio tag, maps the surviving parent domain to its lineitem children, and
    runs a terms facet with a sum metric over them."""
    from solr_spark.operators.facets import facet_domain, to_children

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    tagged = {
        "status": F.col("o_orderstatus") == "F",
        "prio": F.col("o_orderpriority") == "1-URGENT",
    }
    domain = facet_domain(orders, tagged, exclude_tags=["prio"])
    children = to_children(
        domain.select(F.col("o_orderkey").alias("l_orderkey")), li,
        "l_orderkey")
    out = facets.terms_facet(
        children, "l_returnflag", limit=10,
        metrics=[_dround(F.sum("l_quantity"), 4).alias("sum_qty")])
    return out


_Q57_SQL = """
SELECT l_returnflag AS bucket, count(*) AS count,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY l_returnflag ORDER BY count DESC, bucket LIMIT 10
"""


def _q59_result_clustering(spark, sf_dir):
    """Search-result clustering: BM25 top-50 for the flagship query, each hit
    assigned to its dominant result-set-TF-IDF term
    (operators/clustering.py; the clustering component's organize-the-page
    job). Returns doc_id, cluster label, rounded score."""
    from solr_spark.operators.clustering import cluster_by_dominant_term

    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=50, mode="wand")
    analyzed = spark.read.parquet(
        os.path.join(reader.index_dir, "analyzed", "batch-*")
    ).select("docid", "toks")
    hits = topk.select("docid", _doc_id()).join(analyzed, "docid")
    out = cluster_by_dominant_term(hits.select("doc_id", "toks"),
                                   id_col="doc_id")
    return (out.select("doc_id", "cluster",
                       _dround("score", 4).alias("score"))
               .orderBy("doc_id"))


def _q59_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tfq AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
lex AS (
    SELECT tfq.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tfq.tf / (tfq.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tfq
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tfq.doc_id
),
page AS (
    SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        FROM lex
    ) WHERE r <= 50
),
ptoks AS (SELECT doc_id, tok FROM toks WHERE doc_id IN (SELECT doc_id FROM page)),
tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM ptoks GROUP BY doc_id, tok),
dfres AS (SELECT tok, count(DISTINCT doc_id)::DOUBLE AS df FROM ptoks GROUP BY tok),
nres AS (SELECT count(*)::DOUBLE AS n FROM page),
scored AS (
    SELECT tf.doc_id, tf.tok,
           tf.tf * ln(1.0 + nres.n / dfres.df) AS score
    FROM tf JOIN dfres USING (tok) CROSS JOIN nres
),
best AS (
    SELECT doc_id, tok AS cluster, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, tok) AS rn
    FROM scored
)
SELECT doc_id, cluster, round(score, 4) AS score
FROM best WHERE rn = 1 ORDER BY doc_id
"""


def _g04_score_nodes(spark, sf_dir):
    """scoreNodes(): parts gathered by the c1..c5 customer walk, scored
    count * ln(1 + N/df) against the global lineitem in-degree
    (operators/graph.py::score_nodes). Top 20 by score."""
    from solr_spark.operators.graph import score_nodes

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dom = o.where(F.col("o_custkey") <= 5).select(
        F.col("o_orderkey").alias("l_orderkey"))
    hits = (li.join(dom, "l_orderkey")
              .groupBy(F.concat(F.lit("p"), "l_partkey").alias("node"))
              .agg(F.count(F.lit(1)).alias("count")))
    edges = li.select(F.concat(F.lit("p"), "l_partkey").alias("dst"))
    out = score_nodes(hits, edges, "dst")
    return (out.select("node", F.col("count").cast("long").alias("count"),
                       _dround("score", 6).alias("score"))
               .orderBy(F.desc("score"), "node").limit(20))


_G04_SQL = """
WITH hits AS (
    SELECT 'p' || l_partkey AS node, count(*)::BIGINT AS count
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey <= 5)
    GROUP BY l_partkey
),
indeg AS (
    SELECT 'p' || l_partkey AS node, count(*)::DOUBLE AS df FROM lineitem
    GROUP BY l_partkey
),
n AS (SELECT count(*)::DOUBLE AS n_edges FROM lineitem)
SELECT h.node, h.count, round(h.count * ln(1.0 + n.n_edges / i.df), 6) AS score
FROM hits h JOIN indeg i USING (node) CROSS JOIN n
ORDER BY score DESC, node LIMIT 20
"""


def _q61_range_other(spark, sf_dir):
    """facet.range.other=all: in-range value buckets plus before/after/between
    summary rows in ONE conditional aggregation pass
    (operators/facets.py::range_facet_other)."""
    from solr_spark.operators.facets import range_facet_other

    return range_facet_other(_t(spark, sf_dir, "events"), "value",
                             start=5.0, end=20.0, gap=5.0)


_Q61_SQL = """
WITH b AS (
    SELECT CASE WHEN value >= 5.0 AND value < 20.0
                THEN (floor((value - 5.0) / 5.0) * 5.0 + 5.0)::VARCHAR
                WHEN value < 5.0 THEN 'before' ELSE 'after' END AS bucket,
           count(*)::BIGINT AS count
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'between', count(*)::BIGINT FROM events
    WHERE value >= 5.0 AND value < 20.0
)
SELECT bucket, count FROM b
ORDER BY (bucket IN ('before', 'after', 'between'))::INT,
         CASE WHEN bucket NOT IN ('before', 'after', 'between')
              THEN bucket::DOUBLE END,
         bucket
"""


def _q62_facet_bucket_options(spark, sf_dir):
    """JSON-facet bucket options (facet/FacetField.java:32-33,
    FacetRequest.java:50-85): top-3 event_type buckets sorted by nested stat
    avg(value) desc, plus the allBuckets, missing, and numBuckets rows — on a
    derived field that is NULL when value < 0.5 so `missing` is non-trivial
    (operators/facets.py::terms_facet)."""
    from solr_spark.operators.facets import metric, terms_facet

    src = _t(spark, sf_dir, "events").select(
        F.when(F.col("value") < 0.5, F.lit(None))
         .otherwise(F.col("event_type")).alias("etype"),
        "value")
    out = terms_facet(src, "etype", limit=3,
                      metrics=[metric("avg", "value"), metric("sum", "value")],
                      sort="avg_value desc",
                      all_buckets=True, num_buckets=True, missing=True)
    return out.select("bucket", "count",
                      _dround("avg_value", 4).alias("avg_value"),
                      _dround("sum_value", 4).alias("sum_value"))


_Q62_SQL = """
WITH src AS (
  SELECT CASE WHEN value < 0.5 THEN NULL ELSE event_type END AS etype, value
  FROM events
),
b AS (
  SELECT etype AS bucket, count(*)::BIGINT AS count,
         avg(value) AS avg_value, sum(value) AS sum_value
  FROM src WHERE etype IS NOT NULL GROUP BY 1
),
topb AS (
  SELECT bucket, count, avg_value, sum_value FROM b
  ORDER BY avg_value DESC, bucket LIMIT 3
),
u AS (
  SELECT * FROM topb
  UNION ALL
  SELECT '__all__', count(*)::BIGINT, avg(value), sum(value)
  FROM src WHERE etype IS NOT NULL
  UNION ALL
  SELECT '__missing__', count(*)::BIGINT, avg(value), sum(value)
  FROM src WHERE etype IS NULL
  UNION ALL
  SELECT '__numBuckets__', (SELECT count(*) FROM b)::BIGINT, NULL, NULL
)
SELECT bucket, count, round(avg_value, 4) AS avg_value,
       round(sum_value, 4) AS sum_value
FROM u
"""


_MINHASH_QUERY = "fast merge scan spark vector window"


def _dd06_minhash_query(spark, sf_dir):
    """{!minhash} query parser (search/MinHashQParser.java:45): docs similar
    to the query TEXT by minhash-signature overlap, sim = matched fraction of
    16 signature parts (functions/dedup.py::minhash_query)."""
    from solr_spark.functions.dedup import minhash_query

    return minhash_query(_t(spark, sf_dir, "documents"), "doc_id", "text",
                         _MINHASH_QUERY, num_hashes=16, k=10)


_DD06_SQL = """
WITH rawtoks AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ) WHERE tok <> ''
),
seeded AS (
    SELECT doc_id, seed, md5(seed || ':' || tok) AS h
    FROM rawtoks CROSS JOIN (SELECT unnest(range(16)) AS seed) s
),
sig AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
qsig AS (
    SELECT seed, min(md5(seed || ':' || tok)) AS minhash
    FROM (SELECT unnest(['fast','merge','scan','spark','vector','window']) AS tok)
    CROSS JOIN (SELECT unnest(range(16)) AS seed) s
    GROUP BY seed
),
m AS (
    SELECT d.doc_id, count(*) / 16.0 AS sim
    FROM sig d JOIN qsig q ON q.seed = d.seed AND q.minhash = d.minhash
    GROUP BY d.doc_id
)
SELECT doc_id, sim FROM m ORDER BY sim DESC, doc_id LIMIT 10
"""


def _q66_geo_polygon(spark, sf_dir):
    """Polygon Intersects filter over point fields (RPT family,
    schema/AbstractSpatialPrefixTreeFieldType.java:40): literal-triangle
    even-odd ray casting unrolled into Column algebra
    (functions/geo.py::polygon_contains); coordinates derived from keys as
    in q34 (no geo columns in the fixture tables)."""
    from solr_spark.functions.geo import polygon_contains

    c = (_t(spark, sf_dir, "customer")
         .withColumn("lat", (F.col("c_custkey") % 180 - 90) + F.lit(0.5))
         .withColumn("lon", (F.col("c_custkey") * 7 % 360 - 180) + F.lit(0.5)))
    tri = [(-10.0, -20.0), (70.0, 0.0), (20.0, 90.0)]
    return (c.where(polygon_contains("lat", "lon", tri))
             .select("c_custkey", "lat", "lon").orderBy("c_custkey"))


_Q66_SQL = """
WITH pts AS (
  SELECT c_custkey,
         (c_custkey % 180 - 90) + 0.5 AS lat,
         (c_custkey * 7 % 360 - 180) + 0.5 AS lon
  FROM customer
),
hits AS (
  SELECT c_custkey, lat, lon,
      (CASE WHEN ((-10.0 > lat) <> (70.0 > lat))
            AND lon < (0.0 - (-20.0)) * (lat - (-10.0)) / (70.0 - (-10.0)) + (-20.0)
            THEN 1 ELSE 0 END
     + CASE WHEN ((70.0 > lat) <> (20.0 > lat))
            AND lon < (90.0 - 0.0) * (lat - 70.0) / (20.0 - 70.0) + 0.0
            THEN 1 ELSE 0 END
     + CASE WHEN ((20.0 > lat) <> (-10.0 > lat))
            AND lon < ((-20.0) - 90.0) * (lat - 20.0) / ((-10.0) - 20.0) + 90.0
            THEN 1 ELSE 0 END) AS crossings
  FROM pts
  WHERE lat BETWEEN -10.0 AND 70.0 AND lon BETWEEN -20.0 AND 90.0
)
SELECT c_custkey, lat, lon FROM hits
WHERE crossings % 2 = 1 ORDER BY c_custkey
"""


def _q68_distributions(spark, sf_dir):
    """Streaming-expression probability distributions as Column algebra
    (Lang.java weibullDistribution/triangularDistribution/
    geometricDistribution + cumulativeProbability/probability;
    solr_spark/functions/distributions.py): three closed-form cdfs/pmfs
    evaluated over events.value — whole-stage codegen, never leaves the JVM.
    4dp rounding absorbs libm-vs-JVM pow ulps."""
    from solr_spark.functions import distributions as D

    ev_t = _t(spark, sf_dir, "events")
    w = D.weibull_distribution(1.5, 120.0)
    tri = D.triangular_distribution(0.0, 100.0, 500.0)
    geo = D.geometric_distribution(0.3)
    v = F.col("value")
    return (ev_t.select(
                "event_id",
                _dround(w.cumulative_probability(v), 4).alias("weibull_cdf"),
                _dround(tri.cumulative_probability(v), 4).alias("tri_cdf"),
                _dround(geo.probability(F.floor(v / 50)), 4).alias("geo_pmf"))
            .orderBy("event_id"))


_Q68_SQL = """
SELECT event_id,
       round(1.0 - exp(-pow(value / 120.0, 1.5)), 4) AS weibull_cdf,
       round(CASE WHEN value <= 0 THEN 0.0
                  WHEN value >= 500 THEN 1.0
                  WHEN value < 100 THEN value * value / (500.0 * 100.0)
                  ELSE 1.0 - (500.0 - value) * (500.0 - value)
                        / (500.0 * 400.0) END, 4) AS tri_cdf,
       round(CASE WHEN floor(value / 50) < 0 THEN 0.0
                  ELSE 0.3 * pow(0.7, floor(value / 50)) END, 4) AS geo_pmf
FROM events ORDER BY event_id
"""


def _q69_term_vectors(spark, sf_dir):
    """termVectors() TF-IDF doc-term matrix (TermVectorsEvaluator.java:135-176:
    sqrt(tf) * (ln((n+1)/(df+1)) + 1), doc-frequency band) — flattened to
    (doc_id, term, weight) rows so the SQL twin is exact
    (solr_spark/operators/classify.py::term_vectors)."""
    from solr_spark.operators.classify import term_vectors

    docs = _t(spark, sf_dir, "documents")
    vecs, labels = term_vectors(docs, "doc_id", "text",
                                min_df_frac=0.3, max_df_frac=0.9)
    lab = F.array(*[F.lit(t) for t in labels])
    flat = (vecs.select("doc_id",
                        F.explode(F.arrays_zip(lab.alias("term"),
                                               F.col("vector").alias("w")))
                        .alias("z"))
                .select("doc_id", F.col("z")["term"].alias("term"),
                        _dround(F.col("z")["w"], 4).alias("weight"))
                .where(F.col("weight") > 0))
    return flat.orderBy("doc_id", "term")


_Q69_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM tok WHERE term <> '' GROUP BY 1, 2
),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
kept AS (
  SELECT term, df FROM dfreq CROSS JOIN n
  WHERE df >= 0.3 * n.n AND df <= 0.9 * n.n
)
SELECT tf.doc_id, tf.term,
       round(sqrt(tf.tf) * (ln((n.n + 1) / (kept.df + 1)) + 1.0), 4) AS weight
FROM tf JOIN kept USING (term) CROSS JOIN n
ORDER BY tf.doc_id, tf.term
"""


def _q67_facet2d(spark, sf_dir):
    """facet2D() stream (Facet2DStream.java): top-3 lang x top-4 source cells
    with avg(n_chars) (operators/facets.py::facet_2d — one (x,y) groupBy +
    outer-total rank + per-outer window, no per-bucket re-query)."""
    from solr_spark.operators.facets import facet_2d, metric

    out = facet_2d(_t(spark, sf_dir, "documents"), "lang", "source",
                   limit_x=3, limit_y=4,
                   metrics=[metric("avg", "n_chars")])
    return out.select("x", "y", "count",
                      _dround("avg_n_chars", 4).alias("avg_n_chars"))


_Q67_SQL = """
WITH cell AS (
  SELECT lang AS x, source AS y, count(*)::BIGINT AS count,
         avg(n_chars) AS avg_n_chars
  FROM documents GROUP BY 1, 2
),
outer_rank AS (
  SELECT x, sum(count) AS xtot FROM cell GROUP BY x
  ORDER BY xtot DESC, x LIMIT 3
),
ranked AS (
  SELECT c.x, c.y, c.count, c.avg_n_chars,
         row_number() OVER (PARTITION BY c.x
                            ORDER BY c.count DESC, c.y) AS rn
  FROM cell c JOIN outer_rank USING (x)
)
SELECT x, y, count, round(avg_n_chars, 4) AS avg_n_chars
FROM ranked WHERE rn <= 4
"""


def _q63_igain(spark, sf_dir):
    """Information-gain feature selection against a binary label
    (lang == 'en'): the `features`/`igain` stream
    (solrj-streaming FeaturesSelectionStream.java:62,
    search/IGainTermsQParserPlugin.java; operators/classify.py::igain_terms).
    One distinct-(doc,term) explode + one groupBy, closed-form entropy."""
    from solr_spark.operators.classify import igain_terms

    docs = _t(spark, sf_dir, "documents").select(
        "text", (F.col("lang") == "en").cast("int").alias("y"))
    return igain_terms(docs, "text", "y", k=10)


_Q63_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
tot AS (SELECT count(*)::DOUBLE AS n, sum(y)::DOUBLE AS pos FROM lab),
per AS (
  SELECT tok AS term, count(*)::DOUBLE AS df_t, sum(y)::DOUBLE AS pos_t
  FROM toks JOIN lab USING (doc_id) GROUP BY tok
),
ig AS (
  SELECT term,
    (CASE WHEN pos/n > 0 AND pos/n < 1
          THEN -(pos/n)*ln(pos/n) - (1-pos/n)*ln(1-pos/n) ELSE 0 END)
    - (df_t/n) * (CASE WHEN pos_t/df_t > 0 AND pos_t/df_t < 1
          THEN -(pos_t/df_t)*ln(pos_t/df_t)
               - (1-pos_t/df_t)*ln(1-pos_t/df_t) ELSE 0 END)
    - (1 - df_t/n) * (CASE WHEN n > df_t
          AND (pos-pos_t)/(n-df_t) > 0 AND (pos-pos_t)/(n-df_t) < 1
          THEN -((pos-pos_t)/(n-df_t))*ln((pos-pos_t)/(n-df_t))
               - (1-(pos-pos_t)/(n-df_t))*ln(1-(pos-pos_t)/(n-df_t))
          ELSE 0 END) AS ig_raw
  FROM per CROSS JOIN tot
)
SELECT term, round(ig_raw, 6) AS ig FROM ig
ORDER BY ig_raw DESC, term LIMIT 10
"""


def _q64_interval_facet(spark, sf_dir):
    """facet.interval (request/IntervalFacets.java:101): arbitrary
    OVERLAPPING intervals over events.value, one conditional-agg pass
    (operators/facets.py::interval_facet)."""
    from solr_spark.operators.facets import interval_facet

    return interval_facet(_t(spark, sf_dir, "events"), "value", {
        "low": "[*,0.3)",
        "mid": "[0.25,0.75)",   # overlaps low AND high
        "high": "[0.5,*]",
        "all": "(*,*)",
    })


_Q64_SQL = """
SELECT 'low' AS interval, count(*) FILTER (value < 0.3)::BIGINT AS count
FROM events
UNION ALL
SELECT 'mid', count(*) FILTER (value >= 0.25 AND value < 0.75)::BIGINT
FROM events
UNION ALL
SELECT 'high', count(*) FILTER (value >= 0.5)::BIGINT FROM events
UNION ALL
SELECT 'all', count(*)::BIGINT FROM events
"""


def _py_round_half_away(v: float, s: int = 6) -> float:
    """Driver-side twin of portable.round_half_away / DuckDB round(DOUBLE,s)
    (Python's round() is banker's — half-even — and would diverge)."""
    import math as _math

    p = 10.0 ** s
    i = v * p
    return _math.floor(abs(i) + 0.5) * (1.0 if i >= 0 else -1.0) / p


def _q65_tlogit(spark, sf_dir):
    """tlogit logistic-regression training (TextLogitStream.java:61) on the
    lang=='en' label with igain-selected features. Full-hash gate: the DuckDB
    twin UNROLLS the 10 batch-gradient iterations as chained CTEs with the
    margin folded in the identical literal order (b + w0*x0 + ... + w4*x4),
    so both engines walk the same IEEE trajectory to the same weights.
    Model quality (AUC, determinism) is separately pytest-gated
    (test_classify). Returns the trained weight vector."""
    from solr_spark.operators.classify import igain_terms, tlogit_train

    docs = _t(spark, sf_dir, "documents").select(
        "text", (F.col("lang") == "en").cast("int").alias("y"))
    feats = [r["term"] for r in igain_terms(docs, "text", "y", k=5).collect()]
    model = tlogit_train(docs, "text", "y", feats, iters=10, lr=1.0)
    rows = [(t, _py_round_half_away(w)) for t, w in
            sorted(model["weights"].items())]
    rows.append(("__intercept__", _py_round_half_away(model["intercept"])))
    return spark.createDataFrame(rows, "term string, weight double")


def _q65_sql(iters: int = 10, k: int = 5) -> str:
    """Unrolled gradient-descent twin: one (m, e, g, w) CTE block per
    iteration; weights ride as a single-row CTE so every margin is the same
    left-fold b + w0*x0 + ... the Spark expression builds."""
    feat_cols = ", ".join(
        f"coalesce(max(CASE WHEN tf.j = {j} THEN 1.0 END), 0.0) AS x{j}"
        for j in range(k))
    head = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
tot AS (SELECT count(*)::DOUBLE AS n, sum(y)::DOUBLE AS pos FROM lab),
per AS (
  SELECT tok AS term, count(*)::DOUBLE AS df_t, sum(y)::DOUBLE AS pos_t
  FROM toks JOIN lab USING (doc_id) GROUP BY tok
),
ig AS (
  SELECT term,
    (CASE WHEN pos/n > 0 AND pos/n < 1
          THEN -(pos/n)*ln(pos/n) - (1-pos/n)*ln(1-pos/n) ELSE 0 END)
    - (df_t/n) * (CASE WHEN pos_t/df_t > 0 AND pos_t/df_t < 1
          THEN -(pos_t/df_t)*ln(pos_t/df_t)
               - (1-pos_t/df_t)*ln(1-pos_t/df_t) ELSE 0 END)
    - (1 - df_t/n) * (CASE WHEN n > df_t
          AND (pos-pos_t)/(n-df_t) > 0 AND (pos-pos_t)/(n-df_t) < 1
          THEN -((pos-pos_t)/(n-df_t))*ln((pos-pos_t)/(n-df_t))
               - (1-(pos-pos_t)/(n-df_t))*ln(1-(pos-pos_t)/(n-df_t))
          ELSE 0 END) AS ig_raw
  FROM per CROSS JOIN tot
),
feats AS (
  SELECT term, row_number() OVER (ORDER BY ig_raw DESC, term) - 1 AS j
  FROM ig ORDER BY ig_raw DESC, term LIMIT {k}
),
x AS MATERIALIZED (
  SELECT l.doc_id, any_value(l.y) AS y, {feat_cols}
  FROM lab l
  LEFT JOIN (SELECT t.doc_id, f.j FROM toks t
             JOIN feats f ON t.tok = f.term) tf
    ON tf.doc_id = l.doc_id
  GROUP BY l.doc_id
),
w0_ AS MATERIALIZED (SELECT {', '.join(f'0.0 AS w{j}' for j in range(k))}, 0.0 AS b)"""
    blocks = []
    for i in range(1, iters + 1):
        fold = " + ".join(f"w.w{j} * x.x{j}" for j in range(k))
        gsel = ", ".join(f"avg(e * x{j}) AS g{j}" for j in range(k))
        wsel = ", ".join(f"w.w{j} - g.g{j} AS w{j}" for j in range(k))
        blocks.append(f""",
m{i} AS MATERIALIZED (SELECT x.*, w.b + {fold} AS marg FROM x CROSS JOIN w{i-1}_ w),
e{i} AS MATERIALIZED (SELECT *, 1.0/(1.0 + exp(-marg)) - y AS e FROM m{i}),
g{i} AS MATERIALIZED (SELECT {gsel}, avg(e) AS gb FROM e{i}),
w{i}_ AS MATERIALIZED (SELECT {wsel}, w.b - g.gb AS b FROM w{i-1}_ w CROSS JOIN g{i} g)""")
    wcase = " ".join(f"WHEN {j} THEN w.w{j}" for j in range(k))
    tail = f"""
SELECT f.term AS term, round(CASE f.j {wcase} END, 6) AS weight
FROM feats f CROSS JOIN w{iters}_ w
UNION ALL
SELECT '__intercept__', round(w.b, 6) FROM w{iters}_ w
ORDER BY term
"""
    return head + "".join(blocks) + tail


def _dd05_det_split(spark, sf_dir):
    """Deterministic train/val/test split of the documents table: stable
    md5-keyed assignment, bit-reproducible by any engine
    (functions/sampling.py — content-keyed, rerun/repartition-stable)."""
    from solr_spark.functions.sampling import deterministic_split

    docs = _t(spark, sf_dir, "documents")
    out = deterministic_split(docs, F.col("doc_id"),
                              {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split").orderBy("doc_id")


_DD05_SQL = """
WITH u AS (
    SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
               / 4294967296.0 AS u
    FROM documents
)
SELECT doc_id,
       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM u ORDER BY doc_id
"""


def _q56_context_window(spark, sf_dir):
    """Search-hit context: error events with their +-1 neighboring events per
    user's timeline (operators/windows.py::context_window — the transcript
    'matching turn with surrounding turns' operator, one bounded window pass,
    no self-join)."""
    from solr_spark.operators.windows import context_window

    ev = _t(spark, sf_dir, "events")
    out = context_window(
        ev, F.col("event_type") == "error",
        partition_by=["user_id"], order_by=[F.col("ts"), F.col("event_id")],
        before=1, after=1)
    return (out.select("event_id", "user_id", "event_type", "is_match",
                       "is_context")
               .orderBy("event_id"))


_Q56_SQL = """
WITH flagged AS (
    SELECT event_id, user_id, event_type, ts,
           (event_type = 'error') AS is_match,
           max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS keep
    FROM events
)
SELECT event_id, user_id, event_type, is_match, NOT is_match AS is_context
FROM flagged WHERE keep = 1 ORDER BY event_id
"""


def _q41_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap) of the events stream by user —
    the batch twin of streaming/sessions.py::sessionize_stream."""
    from solr_spark.streaming.sessions import sessionize_batch

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("text"), "ts")
    out = sessionize_batch(ev, gap_minutes=30.0)
    return out.select("conv_id", F.col("session_id").cast("int").alias("session_id"),
                      "start_ts", "end_ts", "n_turns", "n_tokens")


def _q39_ltr_rerank(spark, sf_dir):
    """Linear LTR model rescoring the first-pass top-20 (rescore top-10 only)."""
    from solr_spark.operators.ltr import ltr_rerank

    top20 = streams.top(_t(spark, sf_dir, "orders"), 20,
                        [F.desc("o_totalprice"), F.asc("o_orderkey")]) \
        .select("o_orderkey", "o_totalprice", "o_orderdate",
                F.col("o_totalprice").alias("score"))
    out = ltr_rerank(
        top20,
        features={"price": F.col("o_totalprice") / 1000.0,
                  "recency": F.year("o_orderdate") - F.lit(1992)},
        weights={"price": 0.8, "recency": 5.0},
        intercept=2.0,
        rerank_docs=10,
        first_sort=[F.desc("score"), F.asc("o_orderkey")])
    return out.select("o_orderkey", _dround("new_score", 3).alias("new_score"))


def _q49_elevation(spark, sf_dir):
    """Query elevation (QueryElevationComponent): editorial ids pinned to the
    top in elevation order, one id excluded, organic order below."""
    o = _t(spark, sf_dir, "orders")
    out = windows.elevate(o, "o_orderkey", elevated_ids=[42, 7],
                          excluded_ids=[1], sort=[F.desc("o_totalprice"),
                                                  F.asc("o_orderkey")],
                          rows=25)
    # pin ORDER in the hash-compare: rank twin over the same elevation keys
    elev = F.when(F.col("o_orderkey") == 42, F.lit(1)) \
            .when(F.col("o_orderkey") == 7, F.lit(2))
    w = Window.orderBy(F.asc_nulls_last(elev), F.desc("o_totalprice"),
                       F.asc("o_orderkey"))
    ranked = (o.where(F.col("o_orderkey") != 1)
               .withColumn("pos", F.row_number().over(w).cast("long")))
    return (out.select("o_orderkey", "o_totalprice")
               .join(ranked.select("o_orderkey", "pos"), "o_orderkey")
               .orderBy("pos"))


def _q48_ltr_trees(spark, sf_dir):
    """Tree-ensemble LTR (MultipleAdditiveTreesModel.java): rescore the
    first-pass top-10 of 20 with a 2-tree GBDT compiled to CASE WHEN."""
    from solr_spark.operators.ltr import ltr_rerank

    top20 = streams.top(_t(spark, sf_dir, "orders"), 20,
                        [F.desc("o_totalprice"), F.asc("o_orderkey")]) \
        .select("o_orderkey", "o_totalprice", "o_orderdate",
                F.col("o_totalprice").alias("score"))
    trees = [
        {"weight": 0.6, "root": {
            "feature": "price_k", "threshold": 250.0,
            "left": {"value": 5.0},
            "right": {"feature": "recency", "threshold": 3.0,
                      "left": {"value": 10.0}, "right": {"value": 20.0}}}},
        {"weight": 1.0, "root": {
            "feature": "recency", "threshold": 2.0,
            "left": {"value": 1.0}, "right": {"value": 2.0}}},
    ]
    out = ltr_rerank(
        top20,
        features={"price_k": F.col("o_totalprice") / 1000.0,
                  "recency": F.year("o_orderdate") - F.lit(1992)},
        weights=None, trees=trees, intercept=0.5,
        rerank_docs=10,
        first_sort=[F.desc("score"), F.asc("o_orderkey")])
    return out.select("o_orderkey", _dround("new_score", 3).alias("new_score"))


def _q40_geo_heatmap(spark, sf_dir):
    """Spatial heatmap facet: counts per fixed-degree grid cell."""
    from solr_spark.functions.geo import geo_grid_cell

    c = (_t(spark, sf_dir, "customer")
         .withColumn("lat", (F.col("c_custkey") % 180 - 90) + F.lit(0.5))
         .withColumn("lon", (F.col("c_custkey") * 7 % 360 - 180) + F.lit(0.5)))
    return (c.groupBy(geo_grid_cell("lat", "lon", 30.0).alias("cell"))
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy("cell"))


def _q47_payload(spark, sf_dir):
    """payload_score over delimited position payloads (PayloadScore
    QParserPlugin + DelimitedPayloadTokenFilter): min payload of 'vector'
    per doc = its first raw token position."""
    from solr_spark.functions.payloads import payload_score, with_payloads

    d = _t(spark, sf_dir, "documents").withColumn(
        "ptext", with_payloads("text"))
    return (d.select("doc_id",
                     payload_score("ptext", "vector", func="min")
                     .cast("long").alias("first_pos"))
             .where(F.col("first_pos").isNotNull())
             .orderBy("doc_id"))


def _q45_scored_join(spark, sf_dir):
    """{!join score=max}: orders joined to the max net-price of their lineitems
    (ScoreJoinQParserPlugin.java:92 — scored semi-join, not constant-score)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"))
    out = streams.scored_join(o, li, "o_orderkey", "l_orderkey",
                              score_col="net", mode="max")
    return (out.select("o_orderkey", "o_totalprice",
                       _dround("score", 2).alias("score"))
              .orderBy("o_orderkey"))


def _q38_fetch(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name")
    return (streams.fetch(o, c, ["o_custkey"], ["c_name"])
            .select("o_orderkey", "o_custkey", "c_name")
            .orderBy("o_orderkey"))


# ------------------------------------------------------------ text / dedup / knn


def _tx04_analyze_chain(spark, sf_dir):
    """Analyzer-chain parity, checked DIRECTLY (not via downstream scores):
    per-document token count, distinct-token count, and first/last analyzed
    token from the index's `analyzed` artifact vs DuckDB's independent
    list-typed re-derivation of the same chain. This is the /analysis
    handler's job (reference: handler/AnalysisRequestHandlerBase.java) and
    pins the _TOKS_CTE equivalence every oracle here leans on."""
    analyzed = spark.read.parquet(
        os.path.join(_ft_index(spark, sf_dir).index_dir, "analyzed", "batch-*"))
    toks = F.split("toks", " ")
    return (analyzed.select(
                _doc_id(),
                F.col("dl").cast("long").alias("n_toks"),
                F.when(F.col("dl") > 0, F.size(F.array_distinct(toks)))
                 .otherwise(0).cast("long").alias("n_distinct"),
                F.when(F.col("dl") > 0, F.element_at(toks, 1))
                 .alias("first_tok"),
                F.when(F.col("dl") > 0, F.element_at(toks, -1))
                 .alias("last_tok"))
            .orderBy("doc_id"))


_TX04_SQL = f"""
WITH lt AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '),
                       x -> x <> '' AND lower(x) NOT IN ({_STOP_SQL})) AS l
    FROM documents
)
SELECT doc_id, len(l)::BIGINT AS n_toks,
       len(list_distinct(l))::BIGINT AS n_distinct,
       CASE WHEN len(l) > 0 THEN l[1] END AS first_tok,
       CASE WHEN len(l) > 0 THEN l[-1] END AS last_tok
FROM lt ORDER BY doc_id
"""


def _tx05_lm_perplexity(spark, sf_dir):
    """Bigram-LM pseudo-perplexity quality scoring (CCNet-style filtering;
    solr_spark/functions/lm.py). Self-trained on the documents corpus —
    interpolated additive bigram LM, exact integer counts, order-free
    DECIMAL sum per doc, so the oracle reproduces every value bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    return (bigram_lm_score(d, "doc_id", "text")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_bigrams").cast("long").alias("n_bigrams"),
                    "cross_entropy", "perplexity")
            .orderBy("doc_id"))


def _tx01_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = text_stats(d, "doc_id", "text")
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "mean_token_len", "stop_ratio", "lang_pred", "fingerprint",
    ).orderBy("doc_id")


def _tx02_significant_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id", "source",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("term"),
    )
    out = streams.significant_terms(pairs, F.col("source") == F.lit("src1"),
                                    term_col="term", doc_col="doc_id")
    return out.select("term", F.col("fg").cast("long").alias("fg"),
                      F.col("bg").cast("long").alias("bg"),
                      _dround("score", 4).alias("score")).orderBy("term")


def _tx03_mlt(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    pairs = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("term"),
    )
    return streams.more_like_this(pairs, 0, n_docs, doc_col="doc_id", k=10)


def _dd01_exact(spark, sf_dir):
    return (exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")
            .select("doc_id", "canonical_id",
                    F.col("group_size").cast("long").alias("group_size"))
            .orderBy("doc_id"))


def _dd02_minhash_pairs(spark, sf_dir):
    return (minhash_near_dup_pairs(_t(spark, sf_dir, "documents"),
                                   "doc_id", "text", num_hashes=16, band_size=4)
            .orderBy("id_a", "id_b"))


def _dd03_minhash_verified(spark, sf_dir):
    return (minhash_near_dup_pairs(_t(spark, sf_dir, "documents"),
                                   "doc_id", "text", num_hashes=16, band_size=4,
                                   jaccard_threshold=0.5)
            .orderBy("id_a", "id_b"))


def _dd11_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: transitive closure of the verified MinHash pair
    graph (dd03's pairs) into duplicate components via alternating-star CC
    (operators/graph.py::connected_components, Kiveris et al. SoCC'14 —
    O(log n) shuffle rounds, no all-pairs). The oracle recomputes the same
    closure with a recursive CTE (min reachable id per node). This is the
    pipeline step between pair emission and survivor selection
    (functions/dedup.py::drop_near_duplicates)."""
    from solr_spark.functions import near_dup_clusters

    pairs = minhash_near_dup_pairs(_t(spark, sf_dir, "documents"),
                                   "doc_id", "text", num_hashes=16,
                                   band_size=4, jaccard_threshold=0.5)
    return (near_dup_clusters(pairs)
            .select(F.col("id").alias("doc_id"), "component_id")
            .orderBy("doc_id"))


_DD11_SQL_TAIL = """,
tsets AS (SELECT doc_id, count(*) AS n FROM rawtoks GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN rawtoks ta ON ta.doc_id = c.id_a
  JOIN rawtoks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT i.id_a, i.id_b,
         n_inter::DOUBLE / (sa.n + sb.n - n_inter) AS jaccard
  FROM inter i
  JOIN tsets sa ON sa.doc_id = i.id_a
  JOIN tsets sb ON sb.doc_id = i.id_b
),
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
cedges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(id, comp) AS (
  SELECT a, a FROM cedges
  UNION
  SELECT e.b, w.comp FROM walk w JOIN cedges e ON e.a = w.id
)
SELECT id AS doc_id, min(comp) AS component_id
FROM walk GROUP BY id ORDER BY doc_id
"""


def _dd04_simhash(spark, sf_dir):
    """SimHash fingerprints, full-hash since round 3: the gate runs the
    engine-portable md5 hash mode (top 60 bits of md5 — bit-identical in
    DuckDB), so the oracle recomputes every fingerprint; the xxhash64 fast
    default stays pinned by the pytest invariants (functions/dedup.py)."""
    return simhash(_t(spark, sf_dir, "documents"), "doc_id", "text",
                   hash="md5").orderBy("doc_id")


def _dd04_sql() -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(60))
    pack = "\n       + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60))
    return f"""
WITH occ AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM occ GROUP BY doc_id
)
SELECT doc_id,
       ({pack})::BIGINT AS simhash
FROM sums ORDER BY doc_id
"""


def _vv04_ivf_ann(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer (seed centroids = vec_id < 16),
    nearest-cluster assignment, 4-cluster probe, exact verify on candidates."""
    from solr_spark.functions.vectors import ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    out = ivf_ann_topk(e, "embedding", [float(x) for x in qvec], k=10,
                       n_centroids=16, n_probe=4)
    return out.select("vec_id", _dround("cosine", 4).alias("cosine"))


def _vv01_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    out = cosine_topk(e, "embedding", [float(x) for x in qvec], k=10)
    return out.select("vec_id", _dround("cosine", 4).alias("cosine"))


def _q71_quality_repetition(spark, sf_dir):
    """Training-pipeline quality rules (Gopher/MassiveText repetition filters +
    PII scrub; solr_spark/functions/textanalysis.py::repetition_stats /
    pii_redact): per-doc bigram duplication mass, duplicate-token fraction,
    and the md5 of the PII-redacted text — all row-local codegen expressions,
    no shuffle."""
    from solr_spark.functions.textanalysis import (
        pii_redact,
        repetition_stats,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    rep = repetition_stats(F.col("text"), 2)
    return (docs.where(token_count("text") >= 2)
            .select("doc_id",
                    rep["top_ngram_char_frac"].alias("top_bigram_char_frac"),
                    rep["dup_ngram_char_frac"].alias("dup_bigram_char_frac"),
                    rep["dup_token_frac"].alias("dup_token_frac"),
                    F.md5(pii_redact(F.col("text"))).alias("redacted_md5"))
            .orderBy("doc_id"))


_Q71_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS t,
         length(text)::DOUBLE AS nc
  FROM documents
),
eligible AS (SELECT * FROM base WHERE len(t) >= 2),
grams AS (
  SELECT doc_id, nc,
         unnest(list_transform(range(1, len(t)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM eligible
),
counts AS (
  SELECT doc_id, any_value(nc) AS nc, g,
         count(*)::DOUBLE AS c, length(g)::DOUBLE AS l
  FROM grams GROUP BY doc_id, g
),
rep AS (
  SELECT doc_id,
         round(max(c * l) / any_value(nc), 4) AS top_bigram_char_frac,
         round(coalesce(sum(CASE WHEN c > 1 THEN c * l END), 0)
               / any_value(nc), 4) AS dup_bigram_char_frac
  FROM counts GROUP BY doc_id
),
dup_tok AS (
  SELECT doc_id,
         round(1.0 - count(DISTINCT tok) / count(*)::DOUBLE, 4)
           AS dup_token_frac
  FROM (SELECT doc_id, unnest(t) AS tok FROM eligible) GROUP BY doc_id
),
red AS (
  SELECT doc_id, md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\b\d{9,}\b', '<NUM>', 'g')) AS redacted_md5
  FROM eligible
)
SELECT doc_id, top_bigram_char_frac, dup_bigram_char_frac, dup_token_frac,
       redacted_md5
FROM rep JOIN dup_tok USING (doc_id) JOIN red USING (doc_id)
ORDER BY doc_id
"""


def _q74_child_transformer(spark, sf_dir):
    """[child] doc transformer (ChildDocTransformerFactory): parents carry
    their childFilter-matched children, ordered, capped at childLimit=3
    (operators/streams.py::child_docs). Children projected to a portable
    string so both engines hash the nested payload identically."""
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderkey") < 500)
         .select("o_orderkey", "o_totalprice"))
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity")
    out = streams.child_docs(o, li, "o_orderkey", ["l_linenumber"],
                             child_filter=F.col("l_quantity") >= 45, limit=3)
    kid_str = F.transform(
        "children",
        lambda c: F.concat_ws(":", c["l_linenumber"].cast("string"),
                              c["l_quantity"].cast("long").cast("string")))
    return (out.select("o_orderkey", "n_children",
                       F.array_join(kid_str, ",").alias("child_list"))
               .orderBy("o_orderkey"))


_Q74_SQL = """
WITH kids AS (
  SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity) AS rn
  FROM lineitem WHERE l_quantity >= 45
),
agg AS (
  SELECT o_orderkey,
         count(*)::BIGINT AS n_children,
         string_agg(CASE WHEN rn <= 3
                         THEN l_linenumber || ':' || l_quantity::BIGINT END,
                    ',' ORDER BY l_linenumber, l_quantity) AS child_list
  FROM kids GROUP BY o_orderkey
)
SELECT o.o_orderkey, coalesce(a.n_children, 0) AS n_children,
       coalesce(a.child_list, '') AS child_list
FROM orders o LEFT JOIN agg a USING (o_orderkey)
WHERE o.o_orderkey < 500
ORDER BY o.o_orderkey
"""


def _q73_range_include(spark, sf_dir):
    """facet.range.include flags (FacetRange.java): include=lower,upper makes
    boundary values count in BOTH adjacent buckets (so buckets are overlapping
    conditional sums, not a groupBy partition) plus the before/after/between
    boundary semantics (operators/facets.py::range_facet_include)."""
    li = _t(spark, sf_dir, "lineitem")
    return facets.range_facet_include(li, "l_quantity", 1, 41, 10,
                                      include=("lower", "upper"))


_Q73_SQL = """
WITH agg AS (
  SELECT
    sum(CASE WHEN l_quantity >= 1  AND l_quantity <= 11 THEN 1 ELSE 0 END)::BIGINT AS b0,
    sum(CASE WHEN l_quantity >= 11 AND l_quantity <= 21 THEN 1 ELSE 0 END)::BIGINT AS b1,
    sum(CASE WHEN l_quantity >= 21 AND l_quantity <= 31 THEN 1 ELSE 0 END)::BIGINT AS b2,
    sum(CASE WHEN l_quantity >= 31 AND l_quantity <= 41 THEN 1 ELSE 0 END)::BIGINT AS b3,
    sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END)::BIGINT AS c_before,
    sum(CASE WHEN l_quantity > 41 THEN 1 ELSE 0 END)::BIGINT AS c_after,
    sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 41 THEN 1 ELSE 0 END)::BIGINT AS c_between
  FROM lineitem
)
SELECT '1.0' AS bucket, b0 AS count FROM agg
UNION ALL SELECT '11.0', b1 FROM agg
UNION ALL SELECT '21.0', b2 FROM agg
UNION ALL SELECT '31.0', b3 FROM agg
UNION ALL SELECT 'before', c_before FROM agg
UNION ALL SELECT 'after', c_after FROM agg
UNION ALL SELECT 'between', c_between FROM agg
"""


def _q72_collapse_null_policy(spark, sf_dir):
    """{!collapse} nullPolicy parity (CollapsingQParserPlugin.java:121
    NULL_IGNORE/NULL_EXPAND/NULL_COLLAPSE; operators/windows.py::collapse):
    collapse docs on nullif(source,'web') — 'web' docs get a NULL collapse
    key — under all three policies, best = longest text then doc_id."""
    from solr_spark.operators.windows import collapse

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("grp", F.nullif("source", F.lit("web"))))
    sort = [F.desc("n_chars"), F.asc("doc_id")]
    out = None
    for pol in ("ignore", "expand", "collapse"):
        r = (collapse(docs, "grp", sort, null_policy=pol)
             .select(F.lit(pol).alias("policy"), "doc_id", "grp"))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("policy", "doc_id")


_Q72_SQL = """
WITH d AS (
  SELECT doc_id, nullif(source, 'web') AS grp, n_chars FROM documents
),
rk AS (
  SELECT doc_id, grp,
         row_number() OVER (PARTITION BY grp
                            ORDER BY n_chars DESC, doc_id) AS r
  FROM d
),
rk_nn AS (
  SELECT doc_id, grp,
         row_number() OVER (PARTITION BY grp
                            ORDER BY n_chars DESC, doc_id) AS r
  FROM d WHERE grp IS NOT NULL
)
SELECT 'collapse' AS policy, doc_id, grp FROM rk WHERE r = 1
UNION ALL
SELECT 'expand' AS policy, doc_id, grp FROM rk_nn WHERE r = 1
UNION ALL
SELECT 'expand' AS policy, doc_id, grp FROM d WHERE grp IS NULL
UNION ALL
SELECT 'ignore' AS policy, doc_id, grp FROM rk_nn WHERE r = 1
ORDER BY policy, doc_id
"""


def _dd08_decontaminate(spark, sf_dir):
    """Benchmark decontamination (13-gram train/eval overlap;
    solr_spark/functions/dedup.py::decontaminate): docs with doc_id % 50 == 0
    play the benchmark set; training docs sharing any 13-gram with it are
    flagged with their distinct-hit counts. Bench n-grams broadcast; the
    corpus never shuffles its gram stream."""
    from solr_spark.functions.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return (decontaminate(docs, bench, "doc_id", "text", n=13)
            .orderBy("doc_id"))


_DD08_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 13
              THEN list_transform(range(1, len(t) - 11),
                                  i -> array_to_string(t[i:i+12], ' '))
              ELSE [array_to_string(t, ' ')] END AS gs
  FROM toks
),
bgrams AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(gs) AS g FROM grams WHERE doc_id % 50 = 0
  ) WHERE g <> ''
),
tgrams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(gs) AS g FROM grams
  ) WHERE g <> ''
)
SELECT t.doc_id, count(*)::BIGINT AS n_hits
FROM tgrams t JOIN bgrams b USING (g)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def _dd18_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169;
    solr_spark/functions/sampling.py::dsir_select): hashed unigram+bigram
    bucket models (m=10000, Laplace alpha=1) fit on the French documents as
    the TARGET and the whole corpus as RAW; the 25 documents with the
    largest importance log-weights are selected (temperature-0 top-k).
    Model fits are bucket-bounded aggs; scoring is one broadcast join +
    an order-independent exact_sum."""
    from solr_spark.functions.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "fr")
    out = dsir_select(docs, target, "doc_id", "text", k=25)
    # the DECIMAL(38,6) exact-sum -> DOUBLE cast is unambiguous in any
    # engine (6-decimal values of magnitude ~10^1)
    return out.select("doc_id", F.col("log_weight").cast("double")
                      .alias("log_weight"))


_DD18_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang, unnest(list_concat(
           t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         )) AS g
  FROM toks
),
db AS (  -- per-doc hashed bucket counts
  SELECT doc_id,
         (('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT % 10000)::INT
           AS bucket,
         count(*) AS cnt
  FROM grams WHERE g <> '' GROUP BY doc_id, bucket
),
tb AS (  -- target-model bucket counts (French docs)
  SELECT (('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT % 10000)::INT
           AS bucket,
         count(*) AS c
  FROM grams WHERE g <> '' AND lang = 'fr' GROUP BY bucket
),
rb AS (SELECT bucket, sum(cnt) AS c FROM db GROUP BY bucket),
totals AS (
  SELECT (SELECT sum(c) FROM rb) + 10000.0 AS raw_total,
         (SELECT coalesce(sum(c), 0) FROM tb) + 10000.0 AS tgt_total
),
ratio AS (
  SELECT rb.bucket,
         coalesce(ln((tb.c + 1.0) / t.tgt_total), ln(1.0 / t.tgt_total))
           - ln((rb.c + 1.0) / t.raw_total) AS log_ratio
  FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN totals t
),
w AS (
  SELECT db.doc_id,
         sum(round(db.cnt * r.log_ratio, 6)::DECIMAL(38,6)) AS log_weight
  FROM db JOIN ratio r USING (bucket)
  GROUP BY db.doc_id
)
SELECT doc_id, log_weight::DOUBLE AS log_weight FROM w
ORDER BY w.log_weight DESC, doc_id LIMIT 25
"""


def _dd19_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (dedup.py::bloom_decontaminate): the
    13-gram rule probed through an m=2^20-bit, k=4 md5-position Bloom set —
    the broadcast is bounded by m_bits regardless of benchmark size (the
    scale path next to dd08's exact string broadcast). Same bench split as
    dd08 (doc_id % 50 == 0)."""
    from solr_spark.functions.dedup import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return (bloom_decontaminate(docs, bench, "doc_id", "text", n=13,
                                m_bits=1 << 20, k_hashes=4)
            .orderBy("doc_id"))


_DD19_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 13
              THEN list_transform(range(1, len(t) - 11),
                                  i -> array_to_string(t[i:i+12], ' '))
              ELSE [array_to_string(t, ' ')] END AS gs
  FROM toks
),
bits AS (  -- Bloom bitset: 4 md5 positions per distinct bench gram
  SELECT DISTINCT
         ('0x' || substr(md5(seed::VARCHAR || ':' || g), 1, 15))
           ::UBIGINT::BIGINT % 1048576 AS bit
  FROM (SELECT DISTINCT g FROM (
          SELECT unnest(gs) AS g FROM grams WHERE doc_id % 50 = 0
        ) WHERE g <> '')
  CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
),
probes AS (
  SELECT doc_id, g, seed,
         ('0x' || substr(md5(seed::VARCHAR || ':' || g), 1, 15))
           ::UBIGINT::BIGINT % 1048576 AS bit
  FROM (SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest(gs) AS g FROM grams
        ) WHERE g <> '')
  CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
),
gram_hits AS (
  SELECT p.doc_id, p.g
  FROM probes p JOIN bits b USING (bit)
  GROUP BY p.doc_id, p.g
  HAVING count(*) = 4
)
SELECT doc_id, count(*)::BIGINT AS n_hits
FROM gram_hits GROUP BY doc_id ORDER BY doc_id
"""


def _dd09_stratified_quota(spark, sf_dir):
    """Exact-count stratified sampling (data-mixing quotas;
    solr_spark/functions/sampling.py::stratified_quota_sample): the 5
    md5-smallest docs per language — deterministic, engine-portable,
    nesting (quota 10 contains quota 5)."""
    from solr_spark.functions.sampling import stratified_quota_sample

    docs = _t(spark, sf_dir, "documents")
    return (stratified_quota_sample(docs, "doc_id", ["lang"], 5)
            .select("doc_id", "lang").orderBy("doc_id"))


_DD09_SQL = """
WITH u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
             / 4294967296.0 AS u
  FROM documents
),
rk AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS r
  FROM u
)
SELECT doc_id, lang FROM rk WHERE r <= 5 ORDER BY doc_id
"""


def _dd10_token_packs(spark, sf_dir):
    """Token-budget sequence packing (pretraining shard assembly;
    solr_spark/functions/sampling.py::token_budget_packs): consecutive docs
    per source packed into ~500-token units; running count restarts per
    source so packing is embarrassingly parallel."""
    from solr_spark.functions.sampling import token_budget_packs

    docs = _t(spark, sf_dir, "documents")
    return (token_budget_packs(docs, "doc_id", "text", budget=500,
                               shard_col="source")
            .select("doc_id", "source",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "pack_id")
            .orderBy("doc_id"))


_DD10_SQL = """
WITH nt AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens
  FROM documents
),
run AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM nt
)
SELECT doc_id, source, n_tokens, (before // 500)::BIGINT AS pack_id
FROM run ORDER BY doc_id
"""


def _dd16_temperature_mixture(spark, sf_dir):
    """Temperature-scaled domain mixing (multilingual rebalancing rule
    p_d ~ n_d^alpha; solr_spark/functions/sampling.py::
    temperature_mixture_sample): quota-sample ~120 docs across languages
    with alpha=0.5 — the tail languages are up-sampled vs their natural
    share; quotas are integer-portable (per-domain sqrt quantized to an
    integer weight, then pure BIGINT arithmetic) so any engine agrees."""
    from solr_spark.functions.sampling import temperature_mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return (temperature_mixture_sample(docs, "doc_id", "lang",
                                       budget=120, alpha=0.5)
            .select("doc_id", "lang").orderBy("doc_id"))


_DD16_SQL = """
WITH c AS (
  SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n,
         CAST(floor(sqrt(n::DOUBLE) * 10000 + 0.5) AS BIGINT) AS wi
  FROM c
),
q AS (
  SELECT lang, least(n, (120 * wi) // (SELECT sum(wi) FROM w)) AS quota
  FROM w
),
u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
             / 4294967296.0 AS u
  FROM documents
),
rk AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS r
  FROM u
)
SELECT rk.doc_id, rk.lang FROM rk JOIN q USING (lang)
WHERE rk.r <= q.quota ORDER BY doc_id
"""


def _dd17_chunk_windows(spark, sf_dir):
    """Sliding token-window chunking (long-document -> training-sequence
    splitter; solr_spark/functions/sampling.py::chunk_token_windows):
    64-token windows advancing by 48 (16-token overlap), closed-form
    integer chunk count, narrow explode plan — no shuffle, no Python."""
    from solr_spark.functions.sampling import chunk_token_windows

    docs = _t(spark, sf_dir, "documents")
    return (chunk_token_windows(docs, "doc_id", "text",
                                window=64, stride=48)
            .orderBy("doc_id", "chunk_idx"))


_DD17_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
c AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0),
nc AS (
  SELECT doc_id, toks, 1 + (greatest(n - 64, 0) + 47) // 48 AS n_chunks
  FROM c
),
x AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM nc)
SELECT doc_id, i::BIGINT AS chunk_idx,
       len(list_slice(toks, i*48 + 1, i*48 + 64))::BIGINT AS chunk_tokens,
       array_to_string(list_slice(toks, i*48 + 1, i*48 + 64), ' ')
           AS chunk_text
FROM x ORDER BY doc_id, chunk_idx
"""


def _ft25_word_delimiter(spark, sf_dir):
    """WordDelimiterGraphFilter role (text_en_splitting chain:
    WhitespaceTokenizer + WordDelimiterGraphFilter + LowerCase + Stop;
    solr_spark/analysis/analyzer.py::_WD_STEPS, config.word_delimiter).
    Mixed-case/punctuated input is built identically on both sides from
    TPC-H customer columns ("Customer#000000042", "SegBUILDING", a
    possessive/hyphen/version literal); the splitting pipelines are fully
    independent (Spark java-regex Column chain vs DuckDB RE2). Output:
    token df across the derived corpus."""
    from solr_spark.analysis.analyzer import tokenize_column

    cfg = IndexConfig(word_delimiter=True)
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    txt = F.concat(F.lit("Seg"), F.col("c_mktsegment"), F.lit(" "),
                   F.col("c_name"), F.lit(" O'Neil's Wi-Fi v2.1"))
    toks = cust.select(F.explode(tokenize_column(txt, cfg)).alias("token"))
    return (toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
                .orderBy(F.desc("n"), "token").limit(40))


def _ft25_sql() -> str:
    from solr_spark.analysis.analyzer import word_delimiter_sql

    return f"""
WITH src AS (
  SELECT 'Seg' || c_mktsegment || ' ' || c_name || ' O''Neil''s Wi-Fi v2.1' AS t
  FROM customer WHERE c_custkey <= 200
),
toks AS (
  SELECT unnest(string_split({word_delimiter_sql('t')}, ' ')) AS token FROM src
)
SELECT token, count(*)::BIGINT AS n FROM toks
WHERE token <> '' AND token NOT IN ({_STOP_SQL})
GROUP BY token ORDER BY n DESC, token LIMIT 40
"""


def _ft28_collation(spark, sf_dir):
    """Spellcheck collation (spellcheck.collate + maxCollationTries role):
    'vectr spark' — the unknown term takes its top-3 dictionary corrections,
    each candidate collation is hit-verified conjunctively in one batched
    postings pass (operators/components.py::spellcheck_collate)."""
    from solr_spark.operators.components import spellcheck_collate

    reader = _ft_index(spark, sf_dir)
    return spellcheck_collate(spark, reader, "vectr spark",
                              k_corrections=3, max_collations=3)


def _ft28_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
d AS (SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
      FROM toks GROUP BY tok),
cand AS (
    SELECT term FROM d
    WHERE term LIKE 'v%' AND term <> 'vectr'
      AND levenshtein(term, 'vectr') <= 2
    ORDER BY levenshtein(term, 'vectr'), df DESC, term LIMIT 3
),
hits AS (
    SELECT c.term AS cterm, count(DISTINCT t1.doc_id)::BIGINT AS hits
    FROM cand c
    JOIN toks t1 ON t1.tok = c.term
    JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.tok = 'spark'
    GROUP BY c.term
)
SELECT c.term || ' spark' AS "collation", coalesce(h.hits, 0)::BIGINT AS hits
FROM cand c LEFT JOIN hits h ON h.cterm = c.term
WHERE coalesce(h.hits, 0) > 0
ORDER BY hits DESC, "collation" LIMIT 3
"""


def _ft27_explain(spark, sf_dir):
    """[explain] transformer (ExplainAugmenterFactory role): per-(doc, term)
    BM25 decomposition — tf, df, idf, length-normalized tf, contribution —
    for the top-20 hits of the headline query; sum(contribution) per doc
    equals the WAND retrieval score (operators/components.py::explain_scores)."""
    from solr_spark.operators.components import explain_scores

    reader = _ft_index(spark, sf_dir)
    out = explain_scores(spark, reader, _FT_QUERY, k=20)
    return out.select(_doc_id(), "term",
                      F.col("tf").cast("long").alias("tf"),
                      F.col("df").cast("long").alias("df"),
                      _dround("idf", 4).alias("idf"),
                      _dround("tf_norm", 4).alias("tf_norm"),
                      _dround("contribution", 4).alias("contribution"),
                      _dround("score", 4).alias("score"))


def _ft27_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
clause AS (
    SELECT tf.doc_id, tf.term, tf.tf, d.df,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5)) AS idf,
           tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl
                                    / (c.sum_dl / c.n_docs))) AS tf_norm
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
),
scored AS (
    SELECT doc_id, sum(idf * tf_norm) AS score FROM clause GROUP BY doc_id
),
topk AS (
    SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 20
)
SELECT cl.doc_id, cl.term, cl.tf::BIGINT AS tf, cl.df::BIGINT AS df,
       round(cl.idf, 4) AS idf, round(cl.tf_norm, 4) AS tf_norm,
       round(cl.idf * cl.tf_norm, 4) AS contribution,
       round(t.score, 4) AS score
FROM clause cl JOIN topk t USING (doc_id)
ORDER BY cl.doc_id, cl.term
"""


def _ft26_html_strip(spark, sf_dir):
    """Char-filter stage (TokenizerChain charFilters* slot) — HTMLStrip role:
    tags/comments/script bodies removed, entities single-pass decoded,
    BEFORE tokenization (analyzer.py::_HTML_STRIP_STEPS, config.html_strip).
    HTML-wrapped input is built identically on both sides from the part
    table (p_brand carries the '#'+digits shape); the strip pipelines are independent (java.util.regex vs DuckDB
    RE2), and the oracle's tokenizer twin is the punctuation-split
    equivalence (valid on this joiner-free ASCII input)."""
    from solr_spark.analysis.analyzer import tokenize_column

    cfg = IndexConfig(html_strip=True)
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    txt = F.concat(F.lit('<div class="item"><b>'), F.col("p_name"),
                   F.lit('</b></div> <p>'), F.col("p_brand"),
                   F.lit('</p> <!-- hidden --> <script>var x=1;</script>'
                         ' Tom &amp; Jerry &lt;3'))
    toks = part.select(F.explode(tokenize_column(txt, cfg)).alias("token"))
    return (toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
                .orderBy(F.desc("n"), "token").limit(40))


def _ft26_sql() -> str:
    from solr_spark.analysis.analyzer import char_filters_sql

    stripped = char_filters_sql("t", IndexConfig(html_strip=True))
    return f"""
WITH src AS (
  SELECT '<div class="item"><b>' || p_name || '</b></div> <p>' || p_brand ||
         '</p> <!-- hidden --> <script>var x=1;</script> Tom &amp; Jerry &lt;3'
         AS t
  FROM part WHERE p_partkey <= 200
),
toks AS (
  SELECT unnest(string_split(
           regexp_replace(lower({stripped}), '[^a-z0-9]+', ' ', 'g'), ' '))
         AS token
  FROM src
)
SELECT token, count(*)::BIGINT AS n FROM toks
WHERE token <> '' AND token NOT IN ({_STOP_SQL})
GROUP BY token ORDER BY n DESC, token LIMIT 40
"""


def _ft24_phonetic(spark, sf_dir):
    """Phonetic (sounds-like) term matching — PhoneticFilterFactory role
    (solr-ref-guide indexing-guide/phonetic-matching.adoc:101, Soundex;
    solr_spark/functions/textanalysis.py::soundex_code/phonetic_matches):
    corpus tokens whose US-census Soundex equals each misspelled query
    name's. 'skan' -> S500 matches 'scan' (S and K share code 2 and
    collapse); 'joyn' -> J500 matches 'join'."""
    from solr_spark.functions.textanalysis import phonetic_matches

    docs = _t(spark, sf_dir, "documents")
    out = None
    for q in ("skan", "joyn", "merje"):
        m = (phonetic_matches(docs, "text", q)
             .select(F.lit(q).alias("query"), "token", "code"))
        out = m if out is None else out.unionAll(m)
    return out.orderBy("query", "token")


def _ft24_sql() -> str:
    from solr_spark.functions.textanalysis import soundex_sql

    parts = []
    for q in ("skan", "joyn", "merje"):
        parts.append(f"""
SELECT '{q}' AS query, token, code FROM coded
WHERE code = ({soundex_sql(f"'{q}'")})""")
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH toks AS (
  SELECT DISTINCT tok AS token FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
coded AS (SELECT token, {soundex_sql('token')} AS code FROM toks)
{body}
ORDER BY query, token
"""


def _vv06_prefiltered_knn(spark, sf_dir):
    """Solr 9 filtered KNN ({!knn} + fq/preFilter as a PRE-filter;
    solr/core/src/java/org/apache/solr/search/vector/KnnQParser.java:44-53,141-192
    via solr_spark/functions/vectors.py::knn_prefiltered): the label predicate
    restricts candidates BEFORE the vector search, so all 10 neighbors are
    eligible — post-filtering the unfiltered top-10 would starve."""
    from solr_spark.functions.vectors import knn_prefiltered

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    out = knn_prefiltered(e, "embedding", [float(x) for x in qvec], k=10,
                          prefilter=F.col("label") == 1)
    return out.select("vec_id", _dround("cosine", 4).alias("cosine"))


_VV06_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q WHERE e.label = 1
),
sims AS (
  SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM flat GROUP BY vec_id
)
SELECT vec_id, round(c, 4) AS cosine FROM sims ORDER BY c DESC, vec_id LIMIT 10
"""


def _dd07_text_profile(spark, sf_dir):
    """Signature-based index-time dedup (SignatureUpdateProcessorFactory role
    with TextProfileSignature; solr_spark/functions/dedup.py::signature_dedup):
    the fuzzy Nutch content profile — lowercase alnum tokens len>2, counts
    quantized to multiples of quant=floor(maxFreq/100+0.5) (min 2 when any
    token repeats), 'tok cnt' lines sorted by count desc — md5-hashed; one
    doc per signature survives. Tie order deviation documented in dedup.py."""
    from solr_spark.functions.dedup import signature_dedup

    return (signature_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text",
                            method="text_profile")
            .orderBy("doc_id"))


_DD07_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
           x -> length(x) > 2)) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*)::INT AS cnt FROM toks GROUP BY doc_id, tok
),
q AS (
  SELECT doc_id,
         CASE WHEN floor(max(cnt) * 0.01 + 0.5) >= 2
                THEN floor(max(cnt) * 0.01 + 0.5)::INT
              WHEN max(cnt) > 1 THEN 2 ELSE 1 END AS quant
  FROM counts GROUP BY doc_id
),
prof AS (
  SELECT c.doc_id,
         string_agg(c.tok || ' ' || ((c.cnt // q.quant) * q.quant),
                    chr(10) ORDER BY (c.cnt // q.quant) * q.quant DESC, c.tok)
           AS profile
  FROM counts c JOIN q USING (doc_id)
  WHERE (c.cnt // q.quant) * q.quant >= q.quant
  GROUP BY c.doc_id
),
sigs AS (
  SELECT d.doc_id, md5(coalesce(p.profile, '')) AS signature
  FROM documents d LEFT JOIN prof p USING (doc_id)
)
SELECT doc_id, signature,
       min(doc_id) OVER (PARTITION BY signature) AS canonical_id,
       count(*) OVER (PARTITION BY signature) AS group_size
FROM sigs ORDER BY doc_id
"""


def _q70_quantized_cosine(spark, sf_dir):
    """int8 scalar-quantized vector search (Lucene scalar-quantized KNN role,
    Lucene99ScalarQuantizedVectorsFormat behavior;
    solr_spark/functions/vectors.py::quantize_int8/cosine_topk_int8): codes
    are engine-portable (round_half_away), so the SQL twin requantizes and
    reproduces the exact same top-k. The quantized scan reads ~1/4 the bytes
    of the float column at 100 TB."""
    from solr_spark.functions.vectors import cosine_topk_int8, quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qt = quantize_int8(e, "embedding")
    out = cosine_topk_int8(qt, [float(x) for x in qvec], k=10)
    return out.select("vec_id", _dround("cosine", 4).alias("cosine"))


_Q70_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
),
amax AS (SELECT vec_id, max(abs(x)) AS m FROM base GROUP BY vec_id),
deq AS (
  SELECT b.vec_id,
         CASE WHEN a.m = 0 THEN 0.0
              ELSE round(b.x * 127.0 / a.m) * (a.m / 127.0) END AS dx,
         b.y
  FROM base b JOIN amax a USING (vec_id)
),
sims AS (
  SELECT vec_id, sum(dx * y) / (sqrt(sum(dx * dx)) * sqrt(sum(y * y))) AS c
  FROM deq GROUP BY vec_id
)
SELECT vec_id, round(c, 4) AS cosine FROM sims ORDER BY c DESC, vec_id LIMIT 10
"""


def _vv05_hybrid_rrf(spark, sf_dir):
    """Hybrid lexical+vector search: BM25 WAND top-50 over the documents
    index fused with cosine top-50 over the embeddings table (vec_id is the
    document id) by reciprocal-rank fusion, k0=60 (query/hybrid.py; ref: the
    knn+lucene combiner surface)."""
    from solr_spark.query.hybrid import rrf_fuse

    reader = _ft_index(spark, sf_dir)
    lex = bm25_topk(spark, reader, _FT_QUERY, k=50, mode="wand") \
        .select(_doc_id(), "score")
    e = _t(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    vec = cosine_topk(e, "embedding", [float(x) for x in qvec], k=50)
    fused = rrf_fuse([(lex, "doc_id", "score"), (vec, "vec_id", "cosine")],
                     k0=60, k=10)
    return fused.select("doc_id", _dround("rrf_score", 6).alias("rrf_score"),
                        "rank")


def _vv05_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
lex AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
),
lexrank AS (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
    FROM lex QUALIFY r <= 50
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(qv.qv)::DOUBLE AS y
  FROM embeddings e, qv
),
sims AS (
  SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM flat GROUP BY vec_id
),
vecrank AS (
    SELECT vec_id AS doc_id, row_number() OVER (ORDER BY c DESC, vec_id) AS r
    FROM sims QUALIFY r <= 50
),
fused AS (
    SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           coalesce(1.0 / (60 + l.r), 0.0) + coalesce(1.0 / (60 + v.r), 0.0)
               AS rrf_score
    FROM lexrank l FULL OUTER JOIN vecrank v USING (doc_id)
)
SELECT doc_id, round(rrf_score, 6) AS rrf_score,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id)::INT AS rank
FROM fused QUALIFY rank <= 10 ORDER BY rank
"""


def _vv02_lsh_ann(spark, sf_dir):
    """Sign-LSH ANN with 2-probe: bucket filter, exact cosine verify.
    Full-hash since round 3: the seeded hyperplanes are plain double
    literals, so the oracle recomputes the same buckets with DuckDB's
    list_inner_product (sign flips would need a dot within float-sum error
    of exactly 0 — measured safe on the fixed corpora); recall vs brute
    force stays pytest-asserted in tests/test_functions.py."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    out = lsh_ann_topk(e, "embedding", [float(x) for x in qvec], k=10,
                       n_planes=8, multiprobe=2)
    return out.select("vec_id", _dround("cosine", 4).alias("cosine"))


def _vv02_sql() -> str:
    from solr_spark.functions.vectors import hyperplanes

    planes = hyperplanes(64, 8, seed=7)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_inner_product(e.embedding::DOUBLE[], "
        f"[{', '.join(repr(float(x)) for x in p)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         ({bucket_terms}) AS bucket
  FROM embeddings e
),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
probe AS (
  SELECT DISTINCT x FROM (
    SELECT qbucket AS x FROM q
    UNION ALL SELECT xor(qbucket, 1) FROM q
    UNION ALL SELECT xor(qbucket, 2) FROM q
  )
),
cand AS (SELECT b.vec_id, b.v FROM b JOIN probe ON b.bucket = probe.x),
sims AS (
  SELECT c.vec_id,
         list_inner_product(c.v, q.qv)
           / (sqrt(list_inner_product(c.v, c.v))
              * sqrt(list_inner_product(q.qv, q.qv))) AS cos
  FROM cand c, q
)
SELECT vec_id, round(cos, 4) AS cosine FROM sims
ORDER BY cos DESC, vec_id LIMIT 10
"""


def _q75_atomic_update(spark, sf_dir):
    """Atomic updates (AtomicUpdateDocumentMerger.java:163-180; set / inc /
    add-distinct modifiers merged against the current table in one broadcast
    outer join — indexing/atomic.py::atomic_update). Update batch: every
    doc_id % 7 == 0 doc gets source set to 'curated', n_chars incremented by
    100, and tag 'rev' added-distinct to tags=[lang, source] (lang is already
    present, so only 'rev' appends). Tags serialize to a joined string so both
    engines hash identically."""
    from solr_spark.indexing.atomic import atomic_update

    docs = _t(spark, sf_dir, "documents")
    current = docs.select(
        "doc_id", "source", "n_chars",
        F.array("lang", "source").alias("tags"))
    upd = (docs.where(F.col("doc_id") % 7 == 0)
           .select("doc_id",
                   F.lit("curated").alias("source"),
                   F.lit(100).cast("long").alias("n_chars"),
                   F.array(F.lit("rev"), F.col("lang")).alias("tags")))
    out = atomic_update(current, upd, ["doc_id"],
                        {"n_chars": "inc", "tags": "add-distinct"})
    return (out.select("doc_id", "source", "n_chars",
                       F.array_join("tags", ",").alias("tags"))
            .orderBy("doc_id"))


_Q75_SQL = """
WITH cur AS (
  SELECT doc_id, source, n_chars, [lang, source] AS tags FROM documents
),
upd AS (
  SELECT doc_id, 'curated' AS u_source, 100 AS u_nc,
         ['rev', lang] AS u_tags
  FROM documents WHERE doc_id % 7 = 0
)
SELECT cur.doc_id,
  CASE WHEN upd.doc_id IS NOT NULL THEN u_source ELSE cur.source END AS source,
  (cur.n_chars + CASE WHEN upd.doc_id IS NOT NULL THEN u_nc ELSE 0 END)::BIGINT
    AS n_chars,
  array_to_string(
    CASE WHEN upd.doc_id IS NOT NULL THEN
      list_concat(cur.tags,
                  list_filter(u_tags, x -> NOT list_contains(cur.tags, x)))
    ELSE cur.tags END, ',') AS tags
FROM cur LEFT JOIN upd USING (doc_id)
ORDER BY cur.doc_id
"""


def _dd14_url_curation(spark, sf_dir):
    """URL curation spine (functions/urls.py): canonicalize -> eTLD+1 ->
    per-domain quota. URLs synthesized deterministically from documents
    (HTTPS://WWW.{SOURCE}.CO.UK:443/docs/{id}?utm_source=feed&id={id%10}
    &fbclid=ZZ#frag); normalize_url lowercases scheme+host, strips the https
    default port / fragment / tracking params; registered_domain applies the
    multi-part-suffix rule (co.uk -> last three labels); quota keeps the top-3
    per domain by (n_chars desc, doc_id)."""
    from solr_spark.functions.urls import domain_quota_sample, normalize_url

    docs = _t(spark, sf_dir, "documents")
    with_url = docs.withColumn(
        "url",
        F.concat(F.lit("HTTPS://WWW."), F.upper("source"),
                 F.lit(".CO.UK:443/docs/"), F.col("doc_id").cast("string"),
                 F.lit("?utm_source=feed&id="),
                 (F.col("doc_id") % 10).cast("string"),
                 F.lit("&fbclid=ZZ#frag")))
    kept = domain_quota_sample(
        with_url.withColumn("norm_url", normalize_url("url")),
        "url", quota=3,
        order_by=[F.col("n_chars").desc(), F.col("doc_id")])
    return kept.select("doc_id", "norm_url", "domain").orderBy("doc_id")


_DD14_SQL = """
WITH u AS (
  SELECT doc_id, n_chars, source,
         'HTTPS://WWW.' || upper(source) || '.CO.UK:443/docs/' || doc_id ||
         '?utm_source=feed&id=' || (doc_id % 10) || '&fbclid=ZZ#frag' AS url
  FROM documents
),
parts AS (
  SELECT doc_id, n_chars, source,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)', 1))
      AS scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)', 2)),
      '^[^@]*@', ''), ':443$', '') AS auth,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)', 3) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM u
),
norm AS (
  SELECT doc_id, n_chars,
    scheme || '://' || auth ||
    (CASE WHEN path = '' THEN '/' ELSE path END) ||
    (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS norm_url,
    -- host www.{source}.co.uk: co.uk is a multi-part suffix -> last 3 labels
    lower(source) || '.co.uk' AS domain
  FROM (
    SELECT *, array_to_string(
      list_filter(string_split(query, '&'),
                  p -> p <> '' AND NOT regexp_matches(
                    p, '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|igshid)=')),
      '&') AS q
    FROM parts
  )
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY domain
                               ORDER BY n_chars DESC, doc_id) AS rn
  FROM norm
)
SELECT doc_id, norm_url, domain FROM ranked WHERE rn <= 3 ORDER BY doc_id
"""


def _dd15_line_dedup(spark, sf_dir):
    """Cross-document repeated-line removal (RefinedWeb/CCNet boilerplate
    hygiene; functions/dedup.py::line_dedup): lines appearing in >= 2 distinct
    docs are dropped from every doc, order preserved on survivors. The flat
    token-soup corpus gets line structure synthesized identically in both
    engines: each doc's tokens chunked into 3-token lines."""
    from solr_spark.functions.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nlines = F.ceil(F.size(toks) / F.lit(3.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.array_join(F.slice(toks, i * 3 + 1, 3), " "))
    docs2 = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = line_dedup(docs2, "doc_id", "text", min_doc_freq=2)
    return (out.select("doc_id",
                       F.col("n_lines_kept").cast("long").alias("kept"),
                       F.col("n_lines_removed").cast("long").alias("removed"),
                       F.md5("cleaned_text").alias("clean_md5"))
            .orderBy("doc_id"))


_DD15_SQL = """
WITH chunked AS (
  SELECT doc_id,
         [array_to_string(toks[i*3+1 : i*3+3], ' ')
          for i in range(0, cast(ceil(len(toks)/3.0) as int))] AS lines
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
pos_lines AS (
  SELECT doc_id, unnest(lines) AS line, unnest(range(1, len(lines)+1)) AS pos
  FROM chunked
),
boiler AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS dfq FROM pos_lines GROUP BY line)
  WHERE dfq >= 2
),
flagged AS (
  SELECT p.doc_id, p.pos, p.line, (b.line IS NOT NULL) AS bp
  FROM pos_lines p LEFT JOIN boiler b USING (line)
)
SELECT doc_id,
       sum(CASE WHEN NOT bp THEN 1 ELSE 0 END)::BIGINT AS kept,
       sum(CASE WHEN bp THEN 1 ELSE 0 END)::BIGINT AS removed,
       md5(coalesce(
         string_agg(CASE WHEN NOT bp THEN line END, chr(10) ORDER BY pos),
         '')) AS clean_md5
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


def _q76_conversation_stats(spark, sf_dir):
    """Conversation-grain curation stats + loop detection
    (functions/conversations.py): gaps-and-islands run lengths (three stacked
    windows, ONE conv-keyed exchange) over the events stream read as
    conversations — user_id = conv, (ts, event_id) = turn order, event_type =
    role, props = text. is_looping = some verbatim props repeated >= 3
    consecutive times (the stuck-agent smell)."""
    from solr_spark.functions.conversations import conversation_stats

    ev = _t(spark, sf_dir, "events")
    st = conversation_stats(ev, "user_id", [F.col("ts"), F.col("event_id")],
                            "event_type", "props", ts_col="ts")
    return (st.select(
        F.col("user_id").cast("long").alias("conv"),
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_roles").cast("long").alias("n_roles"),
        F.col("n_distinct_texts").cast("long").alias("n_distinct_texts"),
        F.col("max_role_run").cast("long").alias("max_role_run"),
        F.col("max_text_run").cast("long").alias("max_text_run"),
        F.col("duration_sec").alias("duration_sec"),
        (F.col("max_text_run") >= 3).alias("is_looping"))
        .orderBy("conv"))


_Q76_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type, props,
    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
         THEN 1 ELSE 0 END AS chg_r,
    CASE WHEN lag(props) OVER w IS DISTINCT FROM props
         THEN 1 ELSE 0 END AS chg_t
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT *, sum(chg_r) OVER w2 AS isl_r, sum(chg_t) OVER w2 AS isl_t
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
),
sized AS (
  SELECT user_id, event_type, props, ts,
    count(*) OVER (PARTITION BY user_id, isl_r) AS role_run,
    count(*) OVER (PARTITION BY user_id, isl_t) AS text_run
  FROM islands
)
SELECT user_id AS conv,
  count(*)::BIGINT AS n_turns,
  count(DISTINCT event_type)::BIGINT AS n_roles,
  count(DISTINCT props)::BIGINT AS n_distinct_texts,
  max(role_run)::BIGINT AS max_role_run,
  max(text_run)::BIGINT AS max_text_run,
  max(epoch_us(ts)) / 1000000.0 - min(epoch_us(ts)) / 1000000.0
    AS duration_sec,
  (max(text_run) >= 3) AS is_looping
FROM sized GROUP BY user_id ORDER BY conv
"""


def _q77_stream_expr(spark, sf_dir):
    """Streaming-expression STRING front-end (streaming/exprparser.py +
    streaming/dispatch.py): the reference's prefix-notation DSL
    (solrj-streaming expr/StreamExpressionParser.java:35, StreamFactory.java:219)
    parsed and dispatched onto the DataFrame operators — rollup over a
    filtered, projected search, exactly as a reference user would write it."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"lineitem": _t(spark, sf_dir, "lineitem")}
    out = run_expression(
        'rollup(search(lineitem, q="l_shipdate:[1998-01-01 TO *]", '
        'fl="l_returnflag,l_quantity,l_extendedprice", sort="l_returnflag asc"), '
        'over="l_returnflag", sum(l_quantity), avg(l_extendedprice), count(*))',
        colls)
    return out.select(
        F.col("l_returnflag"),
        F.col("`sum(l_quantity)`").alias("sum_qty"),
        _dround(F.col("`avg(l_extendedprice)`"), 4).alias("avg_price"),
        F.col("`count(*)`").alias("n"))


_Q77_SQL = """
SELECT l_returnflag,
       sum(l_quantity) AS sum_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       count(*)::BIGINT AS n
FROM lineitem
WHERE l_shipdate >= DATE '1998-01-01'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q78_expr_join(spark, sf_dir):
    """Composite streaming expression: select over top over having over
    innerJoin of two searches — exercises nested expressions, l=r join-key
    renames, the boolean-evaluator sub-language (HavingStream.java:42), the
    bounded-heap rank (RankStream.java:47), and `as` projection renames
    (SelectStream.java:46), all from one string."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"orders": _t(spark, sf_dir, "orders"),
             "customer": _t(spark, sf_dir, "customer")}
    return run_expression(
        'select('
        'top(n=10, '
        'having('
        'innerJoin('
        'search(orders, q="*:*", fl="o_orderkey,o_custkey,o_totalprice", sort="o_custkey asc"), '
        'search(customer, q="*:*", fl="c_custkey,c_name,c_acctbal", sort="c_custkey asc"), '
        'on="o_custkey=c_custkey"), '
        'gt(o_totalprice, 400000)), '
        'sort="o_totalprice desc, o_orderkey asc"), '
        'o_orderkey as okey, o_totalprice as price, c_name as cust, '
        'c_acctbal as acctbal)',
        colls)


_Q78_SQL = """
SELECT o_orderkey AS okey, o_totalprice AS price, c_name AS cust,
       c_acctbal AS acctbal
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _q79_json_request(spark, sf_dir):
    """JSON Request API docs query (request/json/RequestUtil.java param
    mapping; solr_spark/query/jsonapi.py::json_request): JSON body with
    query + filter + fields + sort + offset/limit compiles to a pushed-
    filter pruned scan + TakeOrderedAndProject."""
    from solr_spark.query.jsonapi import json_request

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "text:join",
           "filter": ["n_chars:[200 TO *]"],
           "fields": ["doc_id", "lang", "n_chars"],
           "sort": "n_chars desc, doc_id asc",
           "offset": 2, "limit": 5}
    return json_request(docs, req)


_Q79_SQL = r"""
SELECT doc_id, lang, n_chars FROM documents
WHERE regexp_matches(text, '(^|\W)join(\W|$)') AND n_chars >= 200
ORDER BY n_chars DESC, doc_id ASC LIMIT 5 OFFSET 2
"""


def _q80_json_facets(spark, sf_dir):
    """JSON facet tree (search/facet/FacetParser.java; jsonapi.py::
    json_facets): terms facet over the request's query+filter domain with
    a nested string-shorthand stat and sort-by-nested-stat, top-3 cut."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "text:join",
           "filter": "n_chars:[200 TO *]",
           "facet": {"langs": {"type": "terms", "field": "lang", "limit": 3,
                               "sort": "avg_chars desc",
                               "facet": {"avg_chars": "avg(n_chars)"}}}}
    return json_facets(docs, req)["langs"].select(
        "bucket", F.col("count").cast("long").alias("count"), "avg_chars")


_Q80_SQL = r"""
SELECT lang AS bucket, count(*)::BIGINT AS count,
       sum(n_chars)::DOUBLE / count(*) AS avg_chars
FROM documents
WHERE regexp_matches(text, '(^|\W)join(\W|$)') AND n_chars >= 200
GROUP BY lang ORDER BY avg_chars DESC, bucket ASC LIMIT 3
"""


def _q81_json_subfacet(spark, sf_dir):
    """Terms-in-terms sub-facet recursion through the JSON facet tree
    (FacetRequest.java processSubs; jsonapi.py::json_facets): top-3 langs
    x top-2 sources per lang over the filtered domain, as one two-exchange
    facet_2d plan — no per-bucket re-query."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "text:join",
           "facet": {"langs": {
               "type": "terms", "field": "lang", "limit": 3,
               "facet": {"srcs": {"type": "terms", "field": "source",
                                  "limit": 2}}}}}
    return json_facets(docs, req)["langs"].select(
        "bucket", "srcs", F.col("count").cast("long").alias("count"))


_Q81_SQL = r"""
WITH dom AS (
  SELECT lang, source FROM documents
  WHERE regexp_matches(text, '(^|\W)join(\W|$)')
),
cell AS (
  SELECT lang, source, count(*)::BIGINT AS count
  FROM dom GROUP BY lang, source
),
topx AS (
  SELECT lang, sum(count) AS xtot FROM cell GROUP BY lang
  ORDER BY xtot DESC, lang ASC LIMIT 3
),
ranked AS (
  SELECT c.lang, c.source, c.count,
         row_number() OVER (PARTITION BY c.lang
                            ORDER BY c.count DESC, c.source ASC) AS rn
  FROM cell c JOIN topx USING (lang)
)
SELECT lang AS bucket, source AS srcs, count
FROM ranked WHERE rn <= 2 ORDER BY bucket, srcs
"""


def _q82_facet_tree(spark, sf_dir):
    """Arbitrary-depth JSON facet tree (FacetRequest.java:353 processSubs;
    operators/facets.py::facet_tree via jsonapi): a 3-level
    terms(lang, sort by sibling avg-stat) -> terms(source) -> range(n_chars)
    chain compiled to ONE corpus scan + windows-per-level over the cells
    table. Sibling stats belong to THEIR node's buckets (avg_chars is
    per-lang, not per leaf cell)."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "text:join",
           "facet": {"langs": {
               "type": "terms", "field": "lang", "limit": 3,
               "sort": "avg_chars desc",
               "facet": {
                   "avg_chars": "avg(n_chars)",
                   "srcs": {"type": "terms", "field": "source", "limit": 2,
                            "facet": {"sizes": {
                                "type": "range", "field": "n_chars",
                                "start": 0, "gap": 300, "end": 600}}}}}}}
    tree = json_facets(docs, req)["langs"]
    return tree.select(
        "bucket", F.col("langs_count").cast("long").alias("langs_count"),
        _dround("avg_chars", 6).alias("avg_chars"),
        "srcs", F.col("srcs_count").cast("long").alias("srcs_count"),
        F.col("sizes").cast("double").alias("sizes"),
        F.col("count").cast("long").alias("count"))


_Q82_SQL = r"""
WITH dom AS (
  SELECT lang, source, n_chars FROM documents
  WHERE regexp_matches(text, '(^|\W)join(\W|$)')
),
cell AS (
  SELECT lang, source,
         CASE WHEN n_chars >= 0 AND n_chars < 600
              THEN floor(n_chars / 300.0) * 300.0 END AS sizes,
         count(*)::BIGINT AS count
  FROM dom GROUP BY lang, source, sizes
),
lv0 AS (
  SELECT lang, count(*) AS langs_count,
         sum(n_chars)::DOUBLE / count(n_chars) AS avg_chars
  FROM dom GROUP BY lang
),
top0 AS (
  SELECT lang, langs_count, avg_chars,
         dense_rank() OVER (ORDER BY avg_chars DESC, lang ASC) AS rk
  FROM lv0
),
lv1 AS (
  SELECT lang, source, sum(count) AS srcs_count FROM cell GROUP BY lang, source
),
top1 AS (
  SELECT lang, source, srcs_count,
         dense_rank() OVER (PARTITION BY lang
                            ORDER BY srcs_count DESC, source ASC) AS rk
  FROM lv1
)
SELECT t0.lang AS bucket, t0.langs_count::BIGINT AS langs_count,
       round(t0.avg_chars, 6) AS avg_chars,
       t1.source AS srcs, t1.srcs_count::BIGINT AS srcs_count,
       c.sizes::DOUBLE AS sizes, c.count::BIGINT AS count
FROM cell c
JOIN top0 t0 ON c.lang = t0.lang AND t0.rk <= 3
JOIN top1 t1 ON c.lang = t1.lang AND c.source = t1.source AND t1.rk <= 2
WHERE c.sizes IS NOT NULL
ORDER BY t0.rk, bucket, t1.rk, srcs, sizes
"""


def _ft34_multi_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-snippet highlighting (hl.snippets / hl.fragsize —
    UnifiedSolrHighlighter; operators/components.py::best_passages): the
    ft01 top-5 docs each return their top-2 NON-OVERLAPPING 10-token
    fragments ranked by distinct-term idf sum, matched terms tagged."""
    from solr_spark.operators.components import best_passages
    from solr_spark.query.bm25 import _idf

    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=5, mode="wand")
    d = (spark.read.parquet(os.path.join(reader.index_dir, "dictionary"))
         .where(F.col("term").isin(_FT_TERMS))
         .select("term", "df").collect())
    idfs = {r["term"]: _idf(reader.n_docs, r["df"]) for r in d}
    fwd = reader.forward(spark).select("docid", "toks")
    snips = best_passages(F.col("toks"), idfs, fragsize=10, snippets=2)
    ex = topk.join(fwd, "docid").select(
        _doc_id(), F.posexplode(snips).alias("snippet0", "s"))
    return ex.select(
        "doc_id", (F.col("snippet0") + 1).cast("int").alias("snippet"),
        F.col("s.start").alias("start"),
        _dround(F.col("s.score"), 4).alias("score"),
        F.col("s.passage").alias("passage"))


def _ft34_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
top5 AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
    ORDER BY score DESC, doc_id LIMIT 5
),
idf AS (
    SELECT term, ln(1.0 + ((SELECT n_docs FROM corpus) - df + 0.5) / (df + 0.5)) AS idf
    FROM dfreq
),
pos AS (  -- analyzed token positions (post stop-filter), 1-based
    SELECT doc_id, tok,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) AS pos
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ) WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
tiles AS (
    SELECT p.doc_id, ((p.pos - 1) // 10) * 10 + 1 AS start, p.tok, p.pos
    FROM pos p JOIN top5 USING (doc_id)
),
tile_scores AS (
    SELECT doc_id, start, sum(idf) AS score
    FROM (SELECT DISTINCT t.doc_id, t.start, t.tok
          FROM tiles t WHERE t.tok IN ({in_list}))
    JOIN idf ON tok = term
    GROUP BY doc_id, start
),
ranked AS (
    SELECT doc_id, start, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, start ASC) AS snippet
    FROM tile_scores
),
passages AS (
    SELECT t.doc_id, t.start,
           string_agg(CASE WHEN t.tok IN ({in_list})
                           THEN '<em>' || t.tok || '</em>' ELSE t.tok END,
                      ' ' ORDER BY t.pos) AS passage
    FROM tiles t JOIN ranked r ON t.doc_id = r.doc_id AND t.start = r.start
    WHERE r.snippet <= 2
    GROUP BY t.doc_id, t.start
)
SELECT r.doc_id, r.snippet::INT AS snippet, r.start::INT AS start,
       round(r.score, 4) AS score, p.passage
FROM ranked r JOIN passages p ON r.doc_id = p.doc_id AND r.start = p.start
WHERE r.snippet <= 2
ORDER BY r.doc_id, r.snippet
"""


def _ft38_copyfield_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """copyField catch-all search: text+lang+source copied into one
    multivalued field (schema.py::IndexSchema.apply_copies — the reference's
    `copyField source=* dest=_text_` pattern, IndexSchema.java:1211 +
    CopyField.java), indexed with positionIncrementGap, BM25 over a query
    that only matches via the COPIED values ('en' lives in lang, 'src7' in
    source — neither is in text)."""
    from solr_spark.indexing import build_index
    from solr_spark.schema import IndexSchema

    schema = IndexSchema(
        fields={"text": "text_general", "lang": "string",
                "source": "string", "catchall": "text_general"},
        copy_fields=[("text", "catchall"), ("lang", "catchall"),
                     ("source", "catchall")])
    docs = (schema.apply_copies(_docs_as_transcripts(spark, sf_dir))
            .drop("text").withColumnRenamed("catchall", "text"))
    tag = os.path.basename(os.path.normpath(sf_dir))
    index_dir = os.path.join(
        _SCRATCH, f"ftidx-copy-{tag}-{_FT_CONFIG.config_hash()}")
    os.makedirs(index_dir, exist_ok=True)
    build_index(spark, docs, index_dir, _FT_CONFIG,
                input_token=f"documents-copyfield-{tag}")
    reader = IndexReader.open(index_dir, _FT_CONFIG)
    topk = bm25_topk(spark, reader, "en spark src7", k=20, mode="wand")
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft38_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
alltoks AS (  -- catch-all copyField: text tokens + lang + source values
    SELECT doc_id, tok FROM toks
    UNION ALL SELECT doc_id, lang FROM documents
    UNION ALL SELECT doc_id, source FROM documents
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM alltoks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES ('en'), ('spark'), ('src7')),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM alltoks WHERE tok IN ('en', 'spark', 'src7') GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM alltoks WHERE tok IN ('en', 'spark', 'src7') GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


def _ft36_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TermsComponent enumeration: bounded range + regex + mincount over the
    term dictionary, index order (TermsComponent.java:139-210 — terms.lower/
    terms.upper.incl/terms.regex/terms.mincount/terms.sort=index)."""
    from solr_spark.operators.components import terms_enum

    reader = _ft_index(spark, sf_dir)
    return terms_enum(spark, reader.index_dir,
                      lower="s", upper="t", upper_incl=False,
                      regex="s[a-z]*a[a-z]*", mincount=3,
                      limit=25, sort="index")


def _ft36_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
dict AS (
    SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
    FROM toks GROUP BY tok
)
SELECT term, df FROM dict
WHERE term >= 's' AND term < 't'
  AND regexp_full_match(term, 's[a-z]*a[a-z]*')
  AND df >= 3
ORDER BY term LIMIT 25
"""


def _ft37_luke_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luke-handler vocabulary shape: log2(df) histogram with per-bucket
    term/df/cf mass (LukeRequestHandler.java:420 histogram semantics)."""
    from solr_spark.operators.components import luke_df_histogram

    reader = _ft_index(spark, sf_dir)
    return luke_df_histogram(spark, reader.index_dir)


def _ft37_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
dict AS (
    SELECT tok AS term, count(DISTINCT doc_id) AS df, count(*) AS cf
    FROM toks GROUP BY tok
)
SELECT floor(log2(df))::INT AS bucket,
       count(*)::BIGINT AS n_terms,
       sum(df)::BIGINT AS sum_df,
       sum(cf)::BIGINT AS sum_cf
FROM dict GROUP BY bucket ORDER BY bucket
"""


def _q83_date_range_facet(spark, sf_dir):
    """Date-math range facet (RangeFacetRequest date handling +
    DateMathParser.java:91; operators/facets.py::date_range_facet): monthly
    buckets with NOW-anchored DateMath endpoints and a calendar +1MONTH gap,
    NOW pinned for determinism (Solr's request-scoped NOW param)."""
    from solr_spark.operators.facets import date_range_facet

    ev = _t(spark, sf_dir, "events")
    out = date_range_facet(ev, "ts", start="NOW/MONTH",
                           end="NOW/DAY", gap="+7DAYS",
                           now="2024-01-30T12:00:00Z")
    return out.select(
        F.date_format("bucket_start", "yyyy-MM-dd").alias("bucket"),
        F.col("count").cast("long").alias("count"))


# weekly buckets from NOW/MONTH (2024-01-01) to NOW/DAY (2024-01-30); the
# last bucket [2024-01-29, 2024-02-05) runs a FULL gap past `end` (Solr's
# hardend=false default), so docs on Jan 29-30 land in it.
_Q83_SQL = r"""
SELECT strftime(TIMESTAMP '2024-01-01 00:00:00'
                + to_days((7 * floor(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) / 7.0))::INT),
                '%Y-%m-%d') AS bucket,
       count(*)::BIGINT AS count
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts < TIMESTAMP '2024-02-05 00:00:00'
GROUP BY bucket ORDER BY bucket
"""


def _sq01_sql_select(spark, sf_dir):
    """Parallel SQL handler, limited SELECT (modules/sql SQLHandler.java:71,
    SolrFilter pushdown SolrRules.java:141-202; query/sqlhandler.py): the
    Solr-SQL dialect with search syntax injected through text-field string
    equality — `text = '(join OR merge)'` is a scoped OR of term queries —
    compiled to Catalyst predicates pushed to the scan, TakeOrdered paging."""
    from solr_spark.query import solr_sql

    docs = _t(spark, sf_dir, "documents")
    return solr_sql(
        docs,
        "SELECT doc_id AS id, lang, n_chars FROM documents "
        "WHERE text = '(join OR merge)' AND n_chars >= 200 "
        "ORDER BY n_chars DESC, id ASC LIMIT 25",
        table="documents", text_fields={"text"})


_SQ01_SQL = r"""
SELECT doc_id AS id, lang, n_chars FROM documents
WHERE (regexp_matches(text, '(^|\W)join(\W|$)')
       OR regexp_matches(text, '(^|\W)merge(\W|$)'))
  AND n_chars >= 200
ORDER BY n_chars DESC, id ASC LIMIT 25
"""


def _sq02_sql_group_by(spark, sf_dir):
    """Parallel SQL GROUP BY aggregates + HAVING (SolrAggregate ->
    facet/rollup streams; sql-query.adoc 'GROUP BY Aggregations'): one
    partial-aggregated groupBy, HAVING as a post-aggregation filter."""
    from solr_spark.query import solr_sql

    docs = _t(spark, sf_dir, "documents")
    return solr_sql(
        docs,
        "SELECT lang, source, COUNT(*) AS cnt, SUM(n_chars) AS total, "
        "MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents "
        "GROUP BY lang, source HAVING COUNT(*) > 10 "
        "ORDER BY cnt DESC, lang ASC, source ASC LIMIT 20",
        table="documents")


_SQ02_SQL = r"""
SELECT lang, source, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS total,
       min(n_chars) AS lo, max(n_chars) AS hi
FROM documents GROUP BY lang, source HAVING count(*) > 10
ORDER BY cnt DESC, lang ASC, source ASC LIMIT 20
"""


def _sq03_sql_distinct(spark, sf_dir):
    """SELECT DISTINCT (sql-query.adoc: MapReduce shuffled-unique mode —
    Spark's dropDuplicates is exactly that shape, map-side combined)."""
    from solr_spark.query import solr_sql

    docs = _t(spark, sf_dir, "documents")
    return solr_sql(
        docs,
        "SELECT DISTINCT lang, source FROM documents "
        "ORDER BY lang ASC, source ASC",
        table="documents")


_SQ03_SQL = """
SELECT DISTINCT lang, source FROM documents ORDER BY lang ASC, source ASC
"""


def _sq04_sql_operators(spark, sf_dir):
    """The documented WHERE operator table (sql-query.adoc 'Supported WHERE
    Operators'): IN, BETWEEN, NOT(...), IS NOT NULL, plus OFFSET/FETCH
    paging (OFFSET without FETCH raises, as in the reference)."""
    from solr_spark.query import solr_sql

    orders = _t(spark, sf_dir, "orders")
    return solr_sql(
        orders,
        "SELECT o_orderkey AS k, o_totalprice AS price FROM orders "
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "AND o_totalprice BETWEEN 1000 AND 50000 "
        "AND NOT (o_orderstatus = 'F') AND o_orderdate IS NOT NULL "
        "ORDER BY price DESC, k ASC OFFSET 10 FETCH NEXT 25 ROWS ONLY",
        table="orders")


_SQ04_SQL = """
SELECT o_orderkey AS k, o_totalprice AS price FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 1000 AND 50000
  AND NOT (o_orderstatus = 'F') AND o_orderdate IS NOT NULL
ORDER BY price DESC, k ASC OFFSET 10 LIMIT 25
"""


def _tv01_term_vectors(spark, sf_dir):
    """TermVectorComponent (tv=true — handler/component/TermVectorComponent
    .java:150-195,383,392; operators/components.py::term_vectors_component):
    per-doc term/tf/positions/df/tf-idf for a bounded result page, df
    resolved against the GLOBAL dictionary, tf-idf = tf/df (the reference's
    formula, comment and all)."""
    from solr_spark.operators.components import term_vectors_component

    reader = _ft_index(spark, sf_dir)
    want = [1, 5, 9, 12, 15]
    dm = reader.doc_map(spark).where(
        F.col("conv_id").cast("long").isin(want))
    ids = [r["docid"] for r in dm.collect()]
    tv = term_vectors_component(spark, reader, ids)
    out = tv.join(dm, "docid").select(
        _doc_id(), "term",
        F.col("tf").cast("long").alias("tf"),
        F.array_join(F.col("positions").cast("array<string>"), ",")
         .alias("positions"),
        F.col("df").cast("long").alias("df"),
        _dround("tf_idf", 6).alias("tf_idf"))
    return out.orderBy("doc_id", "term")


def _tv01_sql() -> str:
    return f"""
WITH lists AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '),
                     t -> t <> '' AND lower(t) NOT IN ({_STOP_SQL})) AS arr
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(arr) AS term, unnest(range(len(arr))) AS pos
  FROM lists WHERE doc_id IN (1, 5, 9, 12, 15)
),
alltoks AS (SELECT doc_id, unnest(arr) AS term FROM lists),
dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM alltoks GROUP BY term
)
SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
       string_agg(p.pos::VARCHAR, ',' ORDER BY p.pos) AS positions,
       any_value(d.df) AS df,
       round(count(*)::DOUBLE / any_value(d.df), 6) AS tf_idf
FROM pos p JOIN dfreq d USING (term)
GROUP BY p.doc_id, p.term
ORDER BY doc_id, term
"""


def _q88_group_query(spark, sf_dir):
    """group.query grouping (search/Grouping.java:860 CommandQuery;
    operators/windows.py::group_query): each named query is a group, top-5
    rows per group from ONE scan (tag -> explode -> salted two-stage top-N);
    a row matching two queries appears in both groups."""
    from solr_spark.operators.windows import group_query

    ev = _t(spark, sf_dir, "events")
    out = group_query(
        ev,
        {"big": F.col("value") >= 900,
         "clicks": F.col("event_type") == "click",
         "early_errors": (F.col("event_type") == "error")
         & (F.col("user_id") < 100)},
        [F.desc("value"), F.asc("event_id")], n=5)
    return out.select(
        "group", F.col("event_id").cast("long").alias("event_id"),
        _dround("value", 6).alias("value"),
        F.col("group_rank").cast("long").alias("group_rank"))


_Q88_SQL = """
WITH tagged AS (
  SELECT 'big' AS grp, event_id, value FROM events WHERE value >= 900
  UNION ALL
  SELECT 'clicks', event_id, value FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT 'early_errors', event_id, value FROM events
  WHERE event_type = 'error' AND user_id < 100
),
r AS (
  SELECT grp, event_id, value,
         row_number() OVER (PARTITION BY grp
                            ORDER BY value DESC, event_id ASC) AS rk
  FROM tagged
)
SELECT grp AS "group", event_id::BIGINT AS event_id,
       round(value, 6) AS value, rk::BIGINT AS group_rank
FROM r WHERE rk <= 5 ORDER BY grp, rk
"""


def _q89_group_func(spark, sf_dir):
    """group.func grouping (search/Grouping.java:933 CommandFunc): group key
    is a computed function value — price bands of floor(o_totalprice/50000)
    — materialized once JVM-side, then the same salted top-N."""
    from solr_spark.operators.windows import group_func

    orders = _t(spark, sf_dir, "orders")
    out = group_func(
        orders, F.floor(F.col("o_totalprice") / 50000).cast("long"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")], n=3,
        group_col="band")
    return out.select(
        F.col("band").cast("long").alias("band"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        _dround("o_totalprice", 6).alias("o_totalprice"),
        F.col("group_rank").cast("long").alias("group_rank"))


_Q89_SQL = """
WITH r AS (
  SELECT floor(o_totalprice / 50000)::BIGINT AS band, o_orderkey,
         o_totalprice,
         row_number() OVER (PARTITION BY floor(o_totalprice / 50000)
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
SELECT band, o_orderkey::BIGINT AS o_orderkey,
       round(o_totalprice, 6) AS o_totalprice, rk::BIGINT AS group_rank
FROM r WHERE rk <= 3 ORDER BY band, rk
"""


def _dd20_cluster_balanced(spark, sf_dir):
    """Topic-balanced sampling (D4 diversify, Tirumala et al. 2023 §3;
    functions/sampling.py::cluster_balanced_sample): embedding-cluster
    assignment against pinned centroids (vectors of vec_id 0/100/200/300),
    then the deterministic temperature-quota draw per cluster (quota_c ~
    sqrt(n_c), md5-fraction membership) — one broadcast assign, one tiny
    count agg, one window on the cluster key."""
    from solr_spark.functions.sampling import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.where(F.col("vec_id").isin(0, 100, 200, 300))
             .select(F.col("vec_id").cast("int").alias("cid"),
                     F.col("embedding").alias("cvec")))
    out = cluster_balanced_sample(emb, "embedding", budget=120,
                                  centroids=cents, alpha=0.5,
                                  id_col="vec_id")
    return (out.select(F.col("vec_id").cast("long").alias("vec_id"),
                       F.col("cluster").cast("long").alias("cluster"))
            .orderBy("vec_id"))


_DD20_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id IN (0, 100, 200, 300)
),
flat AS (
  SELECT e.vec_id, c.cid,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.cvec)::DOUBLE AS y
  FROM embeddings e, cents c
),
sims AS (
  SELECT vec_id, cid,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 9) AS c
  FROM flat GROUP BY vec_id, cid
),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY c DESC, cid ASC) AS rn
    FROM sims
  ) WHERE rn = 1
),
n AS (SELECT cluster, count(*)::BIGINT AS nc FROM assigned GROUP BY cluster),
w AS (
  SELECT cluster, nc,
         CAST(floor(sqrt(nc::DOUBLE) * 10000 + 0.5) AS BIGINT) AS wi
  FROM n
),
q AS (
  SELECT cluster, least(nc, (120 * wi) // (SELECT sum(wi) FROM w)) AS quota
  FROM w
),
u AS (
  SELECT a.vec_id, a.cluster,
         ('0x' || substr(md5(a.vec_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
             / 4294967296.0 AS u
  FROM assigned a
),
rk AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY u, vec_id) AS r
  FROM u
)
SELECT rk.vec_id::BIGINT AS vec_id, rk.cluster::BIGINT AS cluster
FROM rk JOIN q USING (cluster)
WHERE rk.r <= q.quota ORDER BY vec_id
"""


def _sq05_scored_sql(spark, sf_dir):
    """Scored Parallel SQL (sql-query.adoc 'LIMIT Clause' — limited queries
    carry score; query/sqlhandler.py::solr_sql_search): the WHERE clause's
    one text predicate becomes the ranked q, the other conjuncts render to
    classic fq strings intersected BEFORE scoring (SolrTable compiling to a
    search stream; same q+fq flow as ft33, same oracle)."""
    from solr_spark.query import solr_sql_search

    reader = _ft_index(spark, sf_dir)
    out = solr_sql_search(
        spark, reader,
        f"SELECT conv_id, score FROM documents "
        f"WHERE text = '({_FT_QUERY})' AND lang = 'en' "
        f"AND n_chars >= 200 ORDER BY score DESC LIMIT 20",
        table="documents")
    return out.select(_doc_id(), _dround("score", 4).alias("score"))


def _q90_multiselect_facet(spark, sf_dir):
    """Multi-select faceting ({!tag=...} + domain.excludeTags — SimpleFacets
    excludeTags / FacetRequest Domain; query/jsonapi.py): the lang facet
    excludes the LANG-tagged lang filter from its own domain (so all
    language buckets stay visible while the docs list is filtered), the
    n_chars filter still applies."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "text:join",
           "filter": ["{!tag=LANG}lang:en", "n_chars:[200 TO *]"],
           "facet": {"langs": {"type": "terms", "field": "lang", "limit": 10,
                               "mincount": 1,
                               "domain": {"excludeTags": ["LANG"]}}}}
    out = json_facets(docs, req)["langs"]
    return out.select("bucket", F.col("count").cast("long").alias("count"))


_Q90_SQL = r"""
SELECT lang AS bucket, count(*)::BIGINT AS count
FROM documents
WHERE regexp_matches(text, '(^|\W)join(\W|$)') AND n_chars >= 200
GROUP BY lang ORDER BY count DESC, bucket ASC LIMIT 10
"""


def _tx06_mlt_interesting(spark, sf_dir):
    """mlt.interestingTerms=details (MoreLikeThisHandler InterestingTerm;
    operators/streams.py::mlt_interesting_terms): the idf-boosted seed terms
    tx03's disjunction runs — same selection, exposed for introspection."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    pairs = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "),
                           lambda t: t != "")).alias("term"))
    return streams.mlt_interesting_terms(pairs, 0, n_docs, doc_col="doc_id",
                                         max_query_terms=15)


_TX06_SQL = """
WITH pairs AS (
  SELECT DISTINCT doc_id, tok AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
dft AS (SELECT term, count(*) AS df FROM pairs GROUP BY term)
SELECT p.term,
       round(ln((SELECT count(*) FROM documents)::DOUBLE / df), 6) AS idf,
       df::BIGINT AS df
FROM pairs p JOIN dft USING (term) WHERE p.doc_id = 0
ORDER BY idf DESC, term LIMIT 15
"""


def _q91_json_dsl_bool(spark, sf_dir):
    """JSON Query DSL bool node (json-query-dsl.adoc; BoolQParserPlugin
    .java:33; query/jsonapi.py::_compile_query): should clauses with
    mm=2 (Lucene's minimum-should-match counting as a codegen sum of
    WHEN tags), composed with a must_not — all one pushed predicate."""
    from solr_spark.query.jsonapi import json_request

    docs = _t(spark, sf_dir, "documents")
    req = {"query": {"bool": {
               "should": ["text:join", "text:merge", "text:window"],
               "mm": 2,
               "must_not": ["n_chars:[* TO 199]"]}},
           "fields": ["doc_id", "lang", "n_chars"]}
    return json_request(docs, req).orderBy("doc_id")


_Q91_SQL = r"""
SELECT doc_id, lang, n_chars FROM documents
WHERE (regexp_matches(text, '(^|\W)join(\W|$)')::INT
       + regexp_matches(text, '(^|\W)merge(\W|$)')::INT
       + regexp_matches(text, '(^|\W)window(\W|$)')::INT) >= 2
  AND NOT (n_chars <= 199)
ORDER BY doc_id
"""


def _q92_matched_queries(spark, sf_dir):
    """MatchedQueriesComponent (matched_queries=true —
    MatchedQueriesComponent.java; operators/components.py::matched_queries):
    per-hit named-match lists, materialized in the result scan instead of
    the reference's separate NamedMatches post-pass."""
    from solr_spark.operators.components import matched_queries

    ev = _t(spark, sf_dir, "events")
    out = matched_queries(
        ev, {"big": F.col("value") >= 500,
             "clicks": F.col("event_type") == "click",
             "early": F.col("user_id") < 50})
    out = out.where(F.size("matched_queries") > 0)
    return (out.select(F.col("event_id").cast("long").alias("event_id"),
                       F.array_join("matched_queries", ",").alias("names"))
            .orderBy("event_id"))


_Q92_SQL = """
SELECT event_id::BIGINT AS event_id,
       concat_ws(',',
                 CASE WHEN value >= 500 THEN 'big' END,
                 CASE WHEN event_type = 'click' THEN 'clicks' END,
                 CASE WHEN user_id < 50 THEN 'early' END) AS names
FROM events
WHERE value >= 500 OR event_type = 'click' OR user_id < 50
ORDER BY event_id
"""


def _q93_facet_domain_join(spark, sf_dir):
    """Facet domain join (json-faceting-domain-changes.adoc "join";
    query/jsonapi.py): domain = ALL events of users who had an error event
    — the current domain's from-keys semi-join the whole collection — then
    a terms facet by event_type over the widened domain."""
    from solr_spark.query.jsonapi import json_facets

    ev = _t(spark, sf_dir, "events")
    req = {"query": "event_type:error",
           "facet": {"their_events": {
               "type": "terms", "field": "event_type", "limit": 10,
               "domain": {"join": {"from": "user_id", "to": "user_id"}}}}}
    out = json_facets(ev, req, default_field="event_type",
                      text_fields=set())["their_events"]
    return out.select("bucket", F.col("count").cast("long").alias("count"))


_Q93_SQL = """
WITH seed AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
SELECT event_type AS bucket, count(*)::BIGINT AS count
FROM events JOIN seed USING (user_id)
GROUP BY event_type ORDER BY count DESC, bucket ASC LIMIT 10
"""


def _q94_classifier_metrics(spark, sf_dir):
    """Distributed classifier evaluation (training-pipeline op;
    operators/classify.py::binary_classification_metrics): does cosine
    similarity to a class exemplar separate that class? Score = cosine to
    the embedding of vec_id 0, positive label = that vector's class (1).
    AUC via tie-averaged rank sums over the distinct-score count table —
    the mann_whitney scale shape, no global per-row rank window."""
    from solr_spark.functions.vectors import cosine_scores
    from solr_spark.operators.classify import binary_classification_metrics

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    scored = cosine_scores(emb, "embedding", [float(x) for x in q],
                           id_col="vec_id")
    both = scored.join(emb.select("vec_id", "label"), "vec_id")
    lab0 = emb.where(F.col("vec_id") == 0).first()["label"]
    both = both.withColumn("y", (F.col("label") == int(lab0)).cast("int"))
    return binary_classification_metrics(both, "cosine", "y",
                                         threshold=0.5)


def _q94_sql() -> str:
    return """
WITH q AS (SELECT embedding AS qv, label AS ql FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT e.vec_id, e.label, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS yv
  FROM embeddings e, q
),
scored AS (
  SELECT vec_id, any_value(label) AS label,
         round(sum(x * yv) / (sqrt(sum(x * x)) * sqrt(sum(yv * yv))), 6) AS s
  FROM flat GROUP BY vec_id
),
base AS (
  SELECT s, (label = (SELECT ql FROM q))::INT AS y,
         (s >= 0.5)::INT AS p
  FROM scored
),
ranked AS (
  SELECT y, avg(rk) OVER (PARTITION BY s) AS r
  FROM (SELECT s, y, row_number() OVER (ORDER BY s) AS rk FROM base)
),
auc AS (
  SELECT (sum(CASE WHEN y = 1 THEN r END)
          - sum(y) * (sum(y) + 1) / 2.0)
         / (sum(y) * (count(*) - sum(y))) AS a
  FROM ranked
)
SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
       sum((p = 1 AND y = 1)::INT)::BIGINT AS tp,
       sum((p = 1 AND y = 0)::INT)::BIGINT AS fp,
       sum((p = 0 AND y = 1)::INT)::BIGINT AS fn,
       sum((p = 0 AND y = 0)::INT)::BIGINT AS tn,
       round(sum((p = 1 AND y = 1)::INT)::DOUBLE
             / nullif(sum((p = 1)::INT), 0), 6) AS precision,
       round(sum((p = 1 AND y = 1)::INT)::DOUBLE
             / nullif(sum(y), 0), 6) AS recall,
       round(2.0 * sum((p = 1 AND y = 1)::INT)
             / nullif(sum((p = 1)::INT) + sum(y), 0), 6) AS f1,
       round((sum((p = 1 AND y = 1)::INT)
              + sum((p = 0 AND y = 0)::INT))::DOUBLE / count(*), 6)
           AS accuracy,
       round((SELECT a FROM auc), 6) AS auc
FROM base
"""


def _q95_simple_parser(spark, sf_dir):
    """`{!simple}` qparser (SimpleQParserPlugin.java:65;
    query/parser.py::simple_query): end-user grammar with occurs semantics
    — `join | merge -parse` = (join OR merge) AND NOT parse, word-level
    prefix `wind*` ANDed in — compiled to one pushed predicate."""
    from solr_spark.query.parser import simple_query

    docs = _t(spark, sf_dir, "documents")
    pred = simple_query("join | merge + wind* -parse", "text")
    return (docs.where(pred)
            .select("doc_id", "lang", "n_chars").orderBy("doc_id"))


_Q95_SQL = r"""
SELECT doc_id, lang, n_chars FROM documents
WHERE (regexp_matches(text, '(^|\W)join(\W|$)')
       OR regexp_matches(text, '(^|\W)merge(\W|$)'))
  AND regexp_matches(text, '(^|\W)wind\w*(\W|$)')
  AND NOT regexp_matches(text, '(^|\W)parse(\W|$)')
ORDER BY doc_id
"""


# --------------------------------------------------------------------- contract


def _dd21_duplicated_spans(spark, sf_dir):
    """Exact duplicated-substring spans (ExactSubstr, Lee et al. 2022;
    solr_spark/functions/dedup.py::duplicated_spans): maximal token spans
    covered by a 13-gram that occurs >= 2 times in the corpus — provably the
    exact set of positions inside duplicated substrings of >= 13 tokens, via
    an L-gram seed join + per-doc interval merge instead of a suffix array."""
    from solr_spark.functions.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return (duplicated_spans(docs, "doc_id", "text", min_tokens=13)
            .orderBy("doc_id", "span_start"))


_DD21_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, s.pos AS pos, s.g AS g
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(t) >= 13
                      THEN list_transform(range(1, len(t) - 11),
                             i -> struct_pack(pos := i - 1,
                                    g := md5(array_to_string(t[i:i+12], ' '))))
                      ELSE [] END) AS s
        FROM toks)
),
dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
d AS (SELECT o.doc_id, o.pos, o.pos + 13 AS e FROM occ o JOIN dup USING (g)),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM d),
num AS (SELECT doc_id, pos, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS isl_id
        FROM isl)
SELECT doc_id, min(pos)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
       (max(e) - min(pos))::BIGINT AS span_tokens
FROM num GROUP BY doc_id, isl_id ORDER BY doc_id, span_start
"""


def _q96_ranking_metrics(spark, sf_dir):
    """trec_eval-style ranking quality (operators/ltr.py::ranking_metrics):
    per-query P@10 / recall@10 / MRR / MAP / nDCG@10 over a deterministic
    run (top-10 docs per language by length) against md5-free synthetic
    judgments (doc_id%3 judged, grade = doc_id%4). Contributions are summed
    on a 1e-6 DECIMAL grid, so both engines add bit-identically."""
    from solr_spark.operators.ltr import ranking_metrics

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    results = (docs
               .select(F.col("lang").alias("query_id"), "doc_id",
                       F.row_number().over(w).alias("rank"))
               .where(F.col("rank") <= 10))
    judgments = (docs.where(F.col("doc_id") % 3 == 0)
                 .select(F.col("lang").alias("query_id"), "doc_id",
                         (F.col("doc_id") % 4).cast("int").alias("grade")))
    return ranking_metrics(results, judgments, k=10).orderBy("query_id")


_Q96_SQL = """
WITH results AS (
  SELECT lang AS query_id, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents QUALIFY rank <= 10
),
judg AS (
  SELECT lang AS query_id, doc_id, (doc_id % 4)::INT AS grade
  FROM documents WHERE doc_id % 3 = 0
),
jrel AS (SELECT * FROM judg WHERE grade > 0),
totals AS (SELECT query_id, count(*) AS n_rel FROM jrel GROUP BY query_id),
ideal AS (
  SELECT query_id,
         sum(round((pow(2, grade) - 1) / log2(i + 1), 6)::DECIMAL(38,6))
           AS idcg
  FROM (SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC, doc_id) AS i
        FROM jrel)
  WHERE i <= 10 GROUP BY query_id
),
hits AS (
  SELECT r.query_id, r.rank, coalesce(j.grade, 0) AS g,
         CASE WHEN coalesce(j.grade, 0) > 0 THEN 1 ELSE 0 END AS rel
  FROM results r LEFT JOIN judg j USING (query_id, doc_id)
),
cum AS (SELECT *, sum(rel) OVER (PARTITION BY query_id ORDER BY rank
                                 ROWS UNBOUNDED PRECEDING) AS c
        FROM hits),
perq AS (
  SELECT query_id, sum(rel) AS hits,
         max(CASE WHEN rel = 1 THEN round(1.0 / rank, 6) END) AS rr,
         sum(CASE WHEN rel = 1 THEN round(c * 1.0 / rank, 6)::DECIMAL(38,6)
                  ELSE 0::DECIMAL(38,6) END) AS apnum,
         sum(round((pow(2, g) - 1) / log2(rank + 1), 6)::DECIMAL(38,6))
           AS dcg
  FROM cum GROUP BY query_id
)
SELECT t.query_id, t.n_rel::BIGINT AS n_rel,
       (coalesce(p.hits, 0) / 10.0)::DOUBLE AS p_at_k,
       (coalesce(p.hits, 0) * 1.0 / t.n_rel)::DOUBLE AS recall_at_k,
       coalesce(p.rr, 0.0)::DOUBLE AS rr,
       (coalesce(p.apnum::DOUBLE, 0.0) / t.n_rel)::DOUBLE AS ap,
       (coalesce(p.dcg::DOUBLE, 0.0) / i.idcg::DOUBLE)::DOUBLE AS ndcg
FROM totals t JOIN ideal i USING (query_id) LEFT JOIN perq p USING (query_id)
ORDER BY query_id
"""


def _tx07_c4_filters(spark, sf_dir):
    """C4/FineWeb heuristic cleaning (textanalysis.py::c4_filters). The
    documents table is punctuation-free token soup, so both engines first
    build the SAME deterministic line-structured page from it (8-token
    lines; every 5th line unpunctuated, every 7th a 'javascript' line,
    lorem-ipsum / curly-brace pages at doc_id%37 / %41) and then apply the
    line + page rules — every branch of the operator exercised, zero
    external data."""
    from solr_spark.functions.textanalysis import c4_filters

    docs = _t(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.expr("""
          concat(
            array_join(
              transform(
                sequence(0, greatest(cast(ceil(
                  size(filter(split(text, '\\\\s+'), x -> x != '')) / 8.0
                ) AS int), 1) - 1),
                i -> concat(
                  array_join(slice(filter(split(text, '\\\\s+'),
                                          x -> x != ''),
                                   i * 8 + 1, 8), ' '),
                  CASE WHEN (doc_id + i) % 5 = 0 THEN ''
                       WHEN (doc_id + i) % 7 = 0 THEN ' javascript.'
                       ELSE '.' END)),
              chr(10)),
            CASE WHEN doc_id % 37 = 0
                 THEN concat(chr(10), 'lorem ipsum dolor sit amet.')
                 ELSE '' END,
            CASE WHEN doc_id % 41 = 0
                 THEN concat(chr(10), 'function f() { return 1; }')
                 ELSE '' END)
        """).alias("text"))
    out = c4_filters(built, "doc_id", "text",
                     min_words_per_line=3, min_sentences=5)
    return (out.select("doc_id", "n_lines", "n_lines_kept", "n_sentences",
                       "has_lorem_ipsum", "has_curly_brace", "keep",
                       F.md5("cleaned_text").alias("clean_md5"))
            .orderBy("doc_id"))


_TX07_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
built AS (
  SELECT doc_id,
    array_to_string(
      list_transform(range(0, greatest(ceil(len(t) / 8.0)::INT, 1)),
        i -> array_to_string(t[i*8+1:i*8+8], ' ') ||
             CASE WHEN (doc_id + i) % 5 = 0 THEN ''
                  WHEN (doc_id + i) % 7 = 0 THEN ' javascript.'
                  ELSE '.' END),
      chr(10))
    || CASE WHEN doc_id % 37 = 0
            THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
    || CASE WHEN doc_id % 41 = 0
            THEN chr(10) || 'function f() ' || chr(123) || ' return 1; ' || chr(125) ELSE '' END
      AS text
  FROM toks
),
kept AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls,
         coalesce(array_to_string(
           list_filter(string_split(text, chr(10)), l ->
             right(rtrim(l), 1) IN ('.', '!', '?', '"', '”')
             AND len(list_filter(string_split_regex(l, '\\s+'),
                                 w -> w <> '')) >= 3
             AND NOT contains(lower(l), 'javascript')),
           chr(10)), '') AS cleaned,
         len(list_filter(string_split(text, chr(10)), l ->
             right(rtrim(l), 1) IN ('.', '!', '?', '"', '”')
             AND len(list_filter(string_split_regex(l, '\\s+'),
                                 w -> w <> '')) >= 3
             AND NOT contains(lower(l), 'javascript'))) AS n_kept
  FROM built
)
SELECT doc_id,
       len(ls)::BIGINT AS n_lines,
       n_kept::BIGINT AS n_lines_kept,
       len(regexp_extract_all(cleaned, '[.!?]'))::BIGINT AS n_sentences,
       contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
       contains(text, chr(123)) AS has_curly_brace,
       (NOT contains(lower(text), 'lorem ipsum'))
         AND (NOT contains(text, chr(123)))
         AND len(regexp_extract_all(cleaned, '[.!?]')) >= 5 AS keep,
       md5(cleaned) AS clean_md5
FROM kept ORDER BY doc_id
"""


def _tx08_bpe_tokens(spark, sf_dir):
    """Token counting, whitespace AND BPE-ish (textanalysis.py::token_count /
    bpe_token_count): GPT-2 pre-tokenizer piece counts over documents text
    enriched with a deterministic contraction/digit/punctuation suffix so
    every alternation branch fires. Same lookahead-free pattern string runs
    on both engines (Java regex and RE2)."""
    from solr_spark.functions.textanalysis import bpe_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" it's "),
                 F.col("doc_id").cast("string"),
                 F.lit(", done?!")).alias("t"))
    return (enriched.select(
                "doc_id",
                token_count("t").cast("long").alias("ws_tokens"),
                bpe_token_count("t").cast("long").alias("bpe_tokens"))
            .orderBy("doc_id"))


def _tx08_sql() -> str:
    from solr_spark.functions.textanalysis import BPE_PRETOKEN_PATTERN
    pat = BPE_PRETOKEN_PATTERN.replace("'", "''")
    return f"""
WITH enriched AS (
  SELECT doc_id,
         text || ' it''s ' || doc_id::VARCHAR || ', done?!' AS t
  FROM documents
)
SELECT doc_id,
       len(list_filter(string_split_regex(t, '\\s+'), x -> x <> ''))::BIGINT
         AS ws_tokens,
       len(regexp_extract_all(t, '{pat}'))::BIGINT AS bpe_tokens
FROM enriched ORDER BY doc_id
"""


def _vv07_semantic_decontaminate(spark, sf_dir):
    """Embedding-space decontamination (dedup.py::semantic_decontaminate):
    flag training vectors with cosine >= 0.30 to any benchmark vector
    (vec_id%25==0 held out as the benchmark), cluster-blocked through 8
    pinned centroids (vec_id<8 — the SQL-twin-checkable quantizer mode, as
    vv04). Precision-1: every flag is exactly verified."""
    from solr_spark.functions.dedup import semantic_decontaminate

    e = _t(spark, sf_dir, "embeddings")
    bench = e.where(F.col("vec_id") % 25 == 0)
    trainset = e.where(F.col("vec_id") % 25 != 0)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return semantic_decontaminate(trainset, bench, "vec_id", "embedding",
                                  0.30, centroids=cents)


_VV07_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
),
tr AS (SELECT * FROM embeddings WHERE vec_id % 25 <> 0),
be AS (SELECT * FROM embeddings WHERE vec_id % 25 = 0),
ta AS (
  SELECT vec_id, cluster, embedding FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   c.cvec::DOUBLE[]), 9) DESC,
                      c.cid) AS rn
    FROM tr e CROSS JOIN cent c
  ) WHERE rn = 1
),
ba AS (
  SELECT vec_id, cluster, embedding FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   c.cvec::DOUBLE[]), 9) DESC,
                      c.cid) AS rn
    FROM be e CROSS JOIN cent c
  ) WHERE rn = 1
),
hits AS (
  SELECT ta.vec_id,
         round(list_cosine_similarity(ta.embedding::DOUBLE[],
                                      ba.embedding::DOUBLE[]), 6) AS cos
  FROM ta JOIN ba USING (cluster)
)
SELECT vec_id, max(cos) AS max_cosine, count(*)::BIGINT AS n_bench_hits
FROM hits WHERE cos >= 0.30
GROUP BY vec_id ORDER BY vec_id
"""


def _q97_facet_percentile(spark, sf_dir):
    """Per-bucket `percentile` facet metric (facets.percentile_metric,
    PercentileAgg.java role): terms facet over documents.lang with p50/p90
    of n_chars computed INSIDE the facet's single aggregation shuffle.
    Exact linear interpolation on both engines (Spark percentile ==
    DuckDB quantile_cont); the reference's t-digest contract is the
    documented percentile_approx swap at scale."""
    docs = _t(spark, sf_dir, "documents")
    out = facets.terms_facet(
        docs, "lang", limit=10,
        metrics=[facets.percentile_metric("n_chars", 0.5),
                 facets.percentile_metric("n_chars", 0.9)])
    return out.select("bucket", F.col("count").cast("long").alias("count"),
                      _dround("p50_n_chars", 6).alias("p50_n_chars"),
                      _dround("p90_n_chars", 6).alias("p90_n_chars"))


_Q97_SQL = """
SELECT lang AS bucket, count(*)::BIGINT AS count,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_n_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_n_chars
FROM documents GROUP BY lang
ORDER BY count DESC, bucket LIMIT 10
"""


def _ft40_edismax_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax `ps` (phrase slop on the pf boost phrases —
    ExtendedDismaxQParser U.getParam ps wiring the slop into each pf
    PhraseQuery): same qf/tie/pf request as ft11 but the pf boost counts
    ordered sloppy chains weighted 1/(1+matchLength) within slop=2 instead
    of exact adjacency, so near-miss phrase docs pick up a (smaller) boost
    too. Matcher: query/phrase.py::_ordered_chains via
    edismax._phrase_boosts(slop=)."""
    from solr_spark.query.edismax import edismax_topk

    readers = {"text": _ft_index(spark, sf_dir),
               "title": _ft_title_index(spark, sf_dir)}
    topk = edismax_topk(spark, readers, _EDISMAX_Q, _EDISMAX_QF, k=20,
                        tie=_EDISMAX_TIE, pf={"text": _EDISMAX_PF}, ps=2)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft40_sql() -> str:
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    t1, t2 = _EDISMAX_Q.split()
    in_list = f"'{t1}', '{t2}'"
    wt_text, wt_title = _EDISMAX_QF["text"], _EDISMAX_QF["title"]
    tie, pfw = _EDISMAX_TIE, _EDISMAX_PF
    return f"""
WITH {_TOKS_CTE},
ttoks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(list_slice(string_split(text, ' '), 1, 5)) AS tok
        FROM documents
    ) WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
corpus AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs),
fstats AS (
    SELECT 'text' AS fld, (SELECT count(*) FROM toks)::DOUBLE / n_docs AS avgdl
    FROM corpus
    UNION ALL
    SELECT 'title', (SELECT count(*) FROM ttoks)::DOUBLE / n_docs FROM corpus
),
alltoks AS (
    SELECT 'text' AS fld, doc_id, tok FROM toks
    UNION ALL SELECT 'title', doc_id, tok FROM ttoks
),
dl AS (SELECT fld, doc_id, count(*)::DOUBLE AS dl FROM alltoks GROUP BY fld, doc_id),
dfreq AS (
    SELECT fld, tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM alltoks WHERE tok IN ({in_list}) GROUP BY fld, tok
),
idf AS (
    SELECT fld, term, ln(1.0 + (c.n_docs - df + 0.5) / (df + 0.5)) AS idf
    FROM dfreq CROSS JOIN corpus c
),
tf AS (
    SELECT fld, doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM alltoks WHERE tok IN ({in_list}) GROUP BY fld, doc_id, tok
),
contrib AS (
    SELECT tf.doc_id, tf.term,
           (CASE tf.fld WHEN 'text' THEN {wt_text} ELSE {wt_title} END)
           * idf.idf * tf.tf
           / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / fs.avgdl)) AS c
    FROM tf
    JOIN idf ON idf.fld = tf.fld AND idf.term = tf.term
    JOIN dl ON dl.fld = tf.fld AND dl.doc_id = tf.doc_id
    JOIN fstats fs ON fs.fld = tf.fld
),
dismax AS (
    SELECT doc_id, term, max(c) + {tie} * (sum(c) - max(c)) AS tscore
    FROM contrib GROUP BY doc_id, term
),
main AS (SELECT doc_id, sum(tscore) AS score FROM dismax GROUP BY doc_id),
rawp AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
),
ptoks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS p
  FROM rawp WHERE tok <> '' AND lower(tok) NOT IN ({_STOP_SQL})
),
starts AS (SELECT doc_id, p FROM ptoks WHERE tok = '{t1}'),
nxtt AS (SELECT doc_id, p FROM ptoks WHERE tok = '{t2}'),
chain AS (
  SELECT s.doc_id, s.p, min(j.p) AS q
  FROM starts s JOIN nxtt j ON j.doc_id = s.doc_id AND j.p > s.p
  GROUP BY s.doc_id, s.p
),
pfreq AS (
  SELECT doc_id, sum(1.0 / (1.0 + (q - p - 1)))::DOUBLE AS pfr
  FROM chain WHERE (q - p - 1) <= 2 GROUP BY doc_id
),
idfsum AS (
  SELECT sum(idf)::DOUBLE AS s FROM idf WHERE fld = 'text'
),
boost AS (
  SELECT p.doc_id,
         {pfw} * idfsum.s * p.pfr
         / (p.pfr + {k1} * (1.0 - {b} + {b} * dl.dl / fs.avgdl)) AS bst
  FROM pfreq p
  JOIN dl ON dl.fld = 'text' AND dl.doc_id = p.doc_id
  JOIN fstats fs ON fs.fld = 'text'
  CROSS JOIN idfsum
  WHERE p.pfr > 0
)
SELECT m.doc_id, round(m.score + coalesce(boost.bst, 0.0), 4) AS score
FROM main m LEFT JOIN boost ON boost.doc_id = m.doc_id
ORDER BY score DESC, m.doc_id LIMIT 20
"""


def _q98_expr_significant(spark, sf_dir):
    """significantTerms() through the streaming-expression STRING DSL
    (dispatch.py::_h_significant_terms; SignificantTermsStream.java:57):
    q= picks the foreground, whole collection is background, minDocFreq
    floors bg df, foreground-only terms, lift scoring — the same operator
    tx02 pins, exercised end-to-end from the parsed expression."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"documents": _t(spark, sf_dir, "documents")}
    out = run_expression(
        'significantTerms(documents, q="source:src1", field="text", '
        'minDocFreq="5")', colls)
    return out.select("term", F.col("fg").cast("long").alias("fg"),
                      F.col("bg").cast("long").alias("bg"),
                      _dround("score", 4).alias("score")).orderBy("term")


_Q98_SQL = """
WITH pairs AS (
  SELECT DISTINCT doc_id, source, tok AS term FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
tot AS (
  SELECT count(DISTINCT doc_id) AS n_bg,
         count(DISTINCT doc_id) FILTER (source = 'src1') AS n_fg
  FROM pairs
),
cnt AS (
  SELECT term, count(*)::BIGINT AS bg,
         count(*) FILTER (source = 'src1')::BIGINT AS fg
  FROM pairs GROUP BY term
)
SELECT term, fg, bg,
       round((fg::DOUBLE / n_fg) / (bg::DOUBLE / n_bg), 4) AS score
FROM cnt, tot WHERE bg >= 5 AND fg > 0 ORDER BY term
"""


def _q99_expr_random(spark, sf_dir):
    """random() through the expression DSL (RandomStream.java:60 role,
    dispatch.py::_h_random): a pseudo-random sample of the q= match set
    whose order is the DETERMINISTIC md5(fl values + seed) used across
    functions/sampling.py — reruns, retried partitions, and other engines
    draw the identical sample (the reference's session-Random is the one
    part that can't be reproduced across engines, so the seed is explicit)."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"documents": _t(spark, sf_dir, "documents")}
    out = run_expression(
        'random(documents, q="lang:en", fl="doc_id,source", rows="15", '
        'seed="7")', colls)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "source")


_Q99_SQL = """
SELECT doc_id, source FROM documents
WHERE lang = 'en'
ORDER BY md5(doc_id::VARCHAR || chr(31) || source || chr(31) || '7') ASC,
         doc_id ASC, source ASC
LIMIT 15
"""


def _ft41_doc_suggester(spark, sf_dir):
    """Document-dictionary suggester (components.suggest_documents;
    DocumentDictionaryFactory.java:41): suggestions are field VALUES
    weighted by an explicit numeric column (weightField) with a payload
    column riding the heaviest row (payloadField) — doc_id is the weight
    here so the max_by payload pick is tie-free and engine-portable."""
    from solr_spark.operators.components import suggest_documents

    docs = _t(spark, sf_dir, "documents")
    return suggest_documents(docs, "source", "src", weight_col="doc_id",
                             payload_col="lang", k=10)


_FT41_SQL = """
SELECT source AS term, max(doc_id)::DOUBLE AS weight,
       arg_max(lang, doc_id) AS payload
FROM documents WHERE starts_with(source, 'src')
GROUP BY source ORDER BY weight DESC, term LIMIT 10
"""


def _q100_expr_let(spark, sf_dir):
    """let()/get() variable binding in the expression DSL (LetStream.java:63 /
    GetStream.java:42, dispatch.py::_h_let): a filtered search bound to a
    variable, replayed by get() into a rollup — the reference's Lang program
    shape, end-to-end from the parsed string."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"lineitem": _t(spark, sf_dir, "lineitem")}
    out = run_expression(
        'let(f=search(lineitem, q="l_shipdate:[1998-06-01 TO *]", '
        'fl="l_returnflag,l_quantity", sort="l_returnflag asc"), '
        'rollup(get(f), over="l_returnflag", sum(l_quantity), count(*)))',
        colls)
    return out.select(
        "l_returnflag",
        F.col("`sum(l_quantity)`").alias("sum_qty"),
        F.col("`count(*)`").cast("long").alias("n"))


_Q100_SQL = """
SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*)::BIGINT AS n
FROM lineitem WHERE l_shipdate >= DATE '1998-06-01'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q101_expr_evaluators(spark, sf_dir):
    """Lang-census evaluators reached FROM EXPRESSION TEXT (dispatch.py
    _evaluator -> functions/evaluators.ev fallback): sqrt/ceil dispatch via
    the 166-name registry inside a select() projection, composed with the
    scalar core's add — the reference's Lang.java name resolution
    (StreamFactory.java:219) over the same census."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"orders": _t(spark, sf_dir, "orders")}
    out = run_expression(
        'select(search(orders, q="o_orderstatus:F", '
        'fl="o_orderkey,o_totalprice", sort="o_orderkey asc"), '
        'o_orderkey as k, sqrt(o_totalprice) as root, '
        'ceil(add(o_totalprice, 1)) as c)', colls)
    return out.select(F.col("k").cast("long").alias("k"),
                      _dround("root", 6).alias("root"),
                      F.col("c").cast("long").alias("c")).orderBy("k")


_Q101_SQL = """
SELECT o_orderkey AS k, round(sqrt(o_totalprice), 6) AS root,
       ceil(o_totalprice + 1)::BIGINT AS c
FROM orders WHERE o_orderstatus = 'F' ORDER BY k
"""


def _q102_expr_knn(spark, sf_dir):
    """knn() through the expression DSL (KnnStream.java:55,
    dispatch.py::_h_knn): MoreLikeThis text-kNN from a seed document's top
    idf terms — the same operator tx03 pins, reached from the parsed
    expression string with the reference's id=/qf=/k=/maxqt= params."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"documents": _t(spark, sf_dir, "documents")}
    return run_expression(
        'knn(documents, id="0", qf="text", k="10", maxqt="25")', colls)


_Q102_SQL = """
WITH pairs AS (
  SELECT DISTINCT doc_id, tok AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
dft AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
seed AS (
  SELECT p.term, ln((SELECT count(*) FROM documents)::DOUBLE / df) AS idf
  FROM pairs p JOIN dft USING (term) WHERE p.doc_id = 0
  ORDER BY idf DESC, term LIMIT 25
)
SELECT doc_id, round(sum(idf), 4) AS mlt_score, count(*)::BIGINT AS n_shared
FROM pairs JOIN seed USING (term) WHERE doc_id <> 0
GROUP BY doc_id ORDER BY mlt_score DESC, doc_id LIMIT 10
"""


def _q103_expr_features(spark, sf_dir):
    """featuresSelection() through the expression DSL
    (FeaturesSelectionStream.java:59, dispatch.py::_h_features_selection):
    top-10 information-gain features against a binary outcome column — the
    q63 operator reached from the parsed expression string."""
    from solr_spark.streaming.dispatch import run_expression

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("y"))
    return run_expression(
        'featuresSelection(documents, q=*:*, field="text", outcome="y", '
        'numTerms="10")', {"documents": docs})


def _ft42_word_breaks(spark, sf_dir):
    """WordBreak spellcheck, break direction (WordBreakSolrSpellChecker /
    Lucene WordBreakSpellChecker.suggestWordBreaks;
    operators/components.py::suggest_word_breaks): 'mergejoin' splits at one
    change, 'hashjoinkey' needs the 3-part split (max_changes=2). Candidate
    splits enumerate driver-side; the dictionary scans once per call with an
    isin pushdown."""
    from solr_spark.operators.components import suggest_word_breaks

    reader = _ft_index(spark, sf_dir)
    a = (suggest_word_breaks(spark, reader.index_dir, "mergejoin",
                             min_break_length=3, max_changes=1, k=10)
         .withColumn("word", F.lit("mergejoin")))
    b = (suggest_word_breaks(spark, reader.index_dir, "hashjoinkey",
                             min_break_length=3, max_changes=2, k=10)
         .withColumn("word", F.lit("hashjoinkey")))
    return (a.unionByName(b)
            .select("word", "suggestion", "n_changes", "score")
            .orderBy("word", "n_changes", F.desc("score"), "suggestion"))


def _ft42_sql() -> str:
    # independent split enumeration: DuckDB generate_series over cut points
    return f"""
WITH {_TOKS_CTE},
d AS (SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
      FROM toks GROUP BY tok),
w AS (SELECT 'mergejoin' AS word UNION ALL SELECT 'hashjoinkey'),
s2 AS (
  SELECT word, substr(word, 1, i) AS p1, substr(word, i + 1) AS p2
  FROM w CROSS JOIN generate_series(3, 8) t(i)
  WHERE i <= length(word) - 3 AND word = 'mergejoin'
),
m2 AS (
  SELECT word, p1 || ' ' || p2 AS suggestion, 1 AS n_changes,
         greatest(d1.df, d2.df) AS score
  FROM s2 JOIN d d1 ON d1.term = p1 JOIN d d2 ON d2.term = p2
),
s3 AS (
  SELECT word, substr(word, 1, i) AS p1,
         substr(word, i + 1, j - i) AS p2, substr(word, j + 1) AS p3
  FROM (SELECT 'hashjoinkey' AS word)
       CROSS JOIN generate_series(3, 8) t(i)
       CROSS JOIN generate_series(6, 8) u(j)
  WHERE j - i >= 3 AND length(word) - j >= 3
),
s3two AS (  -- the 2-part splits of hashjoinkey (max_changes=2 includes them)
  SELECT word, substr(word, 1, i) AS p1, substr(word, i + 1) AS p2
  FROM (SELECT 'hashjoinkey' AS word) CROSS JOIN generate_series(3, 8) t(i)
  WHERE i <= length(word) - 3
),
m3 AS (
  SELECT word, p1 || ' ' || p2 || ' ' || p3 AS suggestion, 2 AS n_changes,
         greatest(d1.df, d2.df, d3.df) AS score
  FROM s3 JOIN d d1 ON d1.term = p1 JOIN d d2 ON d2.term = p2
          JOIN d d3 ON d3.term = p3
  UNION ALL
  SELECT word, p1 || ' ' || p2, 1, greatest(d1.df, d2.df)
  FROM s3two JOIN d d1 ON d1.term = p1 JOIN d d2 ON d2.term = p2
)
SELECT word, suggestion, n_changes::INT AS n_changes, score
FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m3)
ORDER BY word, n_changes, score DESC, suggestion
"""


def _ft43_word_combinations(spark, sf_dir):
    """WordBreak spellcheck, combine direction
    (WordBreakSpellChecker.suggestWordCombinations;
    operators/components.py::suggest_word_combinations): adjacent query-term
    runs 'vec tor'->'vector' and 'mer ge'->'merge' resolve against the
    dictionary in one isin-pushed lookup."""
    from solr_spark.operators.components import suggest_word_combinations

    reader = _ft_index(spark, sf_dir)
    return suggest_word_combinations(
        spark, reader.index_dir, ["vec", "tor", "mer", "ge"], k=10)


def _ft43_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
d AS (SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
      FROM toks GROUP BY tok),
runs(start_idx, length, suggestion) AS (
  VALUES (0, 2, 'vector'), (1, 2, 'tormer'), (2, 2, 'merge')
)
SELECT start_idx::INT AS start_idx, length::INT AS length, suggestion, df
FROM runs JOIN d ON d.term = suggestion
ORDER BY length, df DESC, suggestion, start_idx
"""


def _q105_json_ranges_facet(spark, sf_dir):
    """Explicit `ranges` list in a JSON range facet (SOLR-6348,
    RangeFacetProcessor `ranges`; facets.py::list_ranges_facet through
    jsonapi.py::json_facets): arbitrary OVERLAPPING ranges with mixed
    inclusivity and unbounded ends, a per-range stat, all folded into one
    conditional-aggregation scan of the filtered domain."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "*:*",
           "filter": "lang:en",
           "facet": {"sizes": {
               "type": "range", "field": "n_chars",
               "ranges": [
                   {"range": "[0,200)"},
                   {"from": 100, "to": 400},
                   {"from": 300, "to": 800, "inclusive_from": False,
                    "inclusive_to": True},
                   {"range": "[500,*)"}],
               "facet": {"total_chars": "sum(n_chars)"}}}}
    out = json_facets(docs, req)["sizes"]
    return (out.select("range",
                       F.col("count").cast("long").alias("count"),
                       F.col("total_chars").cast("long").alias("total_chars"))
            .orderBy("range"))


_Q105_SQL = """
WITH dom AS (SELECT n_chars FROM documents WHERE lang = 'en'),
r(k, lo, hi, ilo, ihi) AS (VALUES
  ('[0,200)',   0,    200, true,  false),
  ('[100,400)', 100,  400, true,  false),
  ('(300,800]', 300,  800, false, true),
  ('[500,*)',   500, NULL, true,  false))
SELECT k AS range,
  count(CASE WHEN (CASE WHEN ilo THEN n_chars >= lo ELSE n_chars > lo END)
              AND (hi IS NULL OR (CASE WHEN ihi THEN n_chars <= hi
                                       ELSE n_chars < hi END))
        THEN 1 END)::BIGINT AS count,
  sum(CASE WHEN (CASE WHEN ilo THEN n_chars >= lo ELSE n_chars > lo END)
            AND (hi IS NULL OR (CASE WHEN ihi THEN n_chars <= hi
                                     ELSE n_chars < hi END))
      THEN n_chars END)::BIGINT AS total_chars
FROM dom CROSS JOIN r
GROUP BY k ORDER BY k
"""


def _q104_versioned_update(spark, sf_dir):
    """Optimistic concurrency (DistributedUpdateProcessor.versionAdd;
    indexing/versions.py::check_versions): `_version_` conditional updates
    classified in one broadcastable key+version join. Current versions are
    synthesized as 2 + doc_id % 5; the update batch covers all four
    semantics — exact-match (doc_id%4==0), mismatch (999), must-exist (1),
    unconditional (0) — plus creates at shifted ids with must-not-exist (-1,
    applied) and must-exist (1, conflict)."""
    from solr_spark.indexing.versions import check_versions

    docs = _t(spark, sf_dir, "documents")
    current = docs.select(
        "doc_id", (F.lit(2) + F.col("doc_id") % 5).cast("long")
        .alias("_version_"))
    req = (F.when(F.col("doc_id") % 4 == 0, F.lit(2) + F.col("doc_id") % 5)
           .when(F.col("doc_id") % 4 == 1, F.lit(999))
           .when(F.col("doc_id") % 4 == 2, F.lit(1))
           .otherwise(F.lit(0)))
    updates = docs.select("doc_id", req.cast("long").alias("_version_"))
    tens = docs.where(F.col("doc_id") % 10 == 0)
    creates = tens.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.lit(-1).cast("long").alias("_version_"))
    ghosts = tens.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.lit(1).cast("long").alias("_version_"))
    batch = updates.unionByName(creates).unionByName(ghosts)
    out = check_versions(current, batch, ["doc_id"])
    return (out.select("doc_id", "status", "cur_version", "new_version")
            .orderBy("doc_id", "status"))


_Q104_SQL = """
WITH cur AS (
  SELECT doc_id, (2 + doc_id % 5)::BIGINT AS cur_version FROM documents
),
upd AS (
  SELECT doc_id, (CASE WHEN doc_id % 4 = 0 THEN 2 + doc_id % 5
                       WHEN doc_id % 4 = 1 THEN 999
                       WHEN doc_id % 4 = 2 THEN 1
                       ELSE 0 END)::BIGINT AS req
  FROM documents
  UNION ALL
  SELECT doc_id + 10000000, (-1)::BIGINT FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000, 1::BIGINT FROM documents WHERE doc_id % 10 = 0
),
j AS (
  SELECT upd.doc_id, req, cur_version,
    CASE WHEN req > 1 AND cur_version IS NULL THEN 'conflict_doc_missing'
         WHEN req > 1 AND cur_version <> req THEN 'conflict_version_mismatch'
         WHEN req = 1 AND cur_version IS NULL THEN 'conflict_doc_missing'
         WHEN req < 0 AND cur_version IS NOT NULL THEN 'conflict_doc_exists'
         ELSE 'applied' END AS status
  FROM upd LEFT JOIN cur USING (doc_id)
)
SELECT doc_id, status, cur_version,
  (CASE WHEN status = 'applied' THEN COALESCE(cur_version, 1) + 1 END)::BIGINT
    AS new_version
FROM j ORDER BY doc_id, status
"""


def _q106_expr_classify(spark, sf_dir):
    """classify() stream (ClassifyStream.java:38; dispatch.py::_h_classify):
    apply a FIXED logistic model (term,weight rows, __intercept__ included)
    to a doc stream via the expression DSL, emitting the reference's score_d
    (raw margin over distinct-token presence) and probability_d (sigmoid).
    Training itself is gated by q65/q103; this pins the apply semantics."""
    from solr_spark.streaming.dispatch import run_expression

    model = spark.createDataFrame(
        [("error", 1.5), ("merge", -0.75), ("__intercept__", 0.25)],
        "term string, weight double")
    colls = {"models": model, "docs": _t(spark, sf_dir, "documents")}
    out = run_expression(
        'classify(search(models, q=*:*, fl="term,weight", sort="term asc"), '
        'search(docs, q=*:*, fl="doc_id,text", sort="doc_id asc"))', colls)
    return (out.select("doc_id",
                       _dround("score_d", 6).alias("score_d"),
                       _dround("probability_d", 6).alias("probability_d"))
            .orderBy("doc_id"))


_Q106_SQL = """
WITH m AS (
  SELECT doc_id,
         0.25 + 1.5 * (CASE WHEN list_contains(string_split(text, ' '),
                                               'error') THEN 1.0 ELSE 0.0 END)
              - 0.75 * (CASE WHEN list_contains(string_split(text, ' '),
                                                'merge') THEN 1.0 ELSE 0.0 END)
           AS margin
  FROM documents
)
SELECT doc_id, round(margin, 6) AS score_d,
       round(1.0 / (1.0 + exp(-margin)), 6) AS probability_d
FROM m ORDER BY doc_id
"""


def _q107_expr_outer_hash_join(spark, sf_dir):
    """outerHashJoin() stream (OuterHashJoinStream.java:50; dispatch.py::
    _h_outer_hash_join): left-outer broadcast join through the DSL — every
    nation row passes, ASIA region fields attach where the key matches."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"nation": _t(spark, sf_dir, "nation"),
             "region": _t(spark, sf_dir, "region")}
    out = run_expression(
        'outerHashJoin(search(nation, q=*:*, fl="n_nationkey,n_name,'
        'n_regionkey", sort="n_nationkey asc"), '
        'hashed=search(region, q="r_name:ASIA", fl="r_regionkey,r_name", '
        'sort="r_regionkey asc"), on="n_regionkey=r_regionkey")', colls)
    return out.select("n_nationkey", "n_name", "r_name").orderBy("n_nationkey")


_Q107_SQL = """
SELECT n_nationkey, n_name, r.r_name
FROM nation n LEFT JOIN (SELECT * FROM region WHERE r_name = 'ASIA') r
  ON n.n_regionkey = r.r_regionkey
ORDER BY n_nationkey
"""


def _q108_expr_drill(spark, sf_dir):
    """drill() stream (DrillStream.java:43 + DrillHandler's pushed export
    rollup; dispatch.py::_h_drill/_h_input): the inner rollup runs over
    input() = the exported scan — Spark's partial aggregation IS the
    reference's shard-side pushdown, so the plan is the plain one-exchange
    grouped aggregate."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"lineitem": _t(spark, sf_dir, "lineitem")}
    out = run_expression(
        'drill(lineitem, q="l_shipdate:[1998-03-01 TO *]", '
        'fl="l_returnflag,l_quantity", sort="l_returnflag asc", '
        'rollup(input(), over="l_returnflag", sum(l_quantity), count(*)))',
        colls)
    return out.select(
        F.col("l_returnflag"),
        F.col("`sum(l_quantity)`").alias("sum_qty"),
        F.col("`count(*)`").alias("n")).orderBy("l_returnflag")


_Q108_SQL = """
SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*)::BIGINT AS n
FROM lineitem WHERE l_shipdate >= DATE '1998-03-01'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q109_scale_recip_ms(spark, sf_dir):
    """Corpus-dependent function queries (functions/funcquery.py):
    scale(o_totalprice, 0, 1) = ScaleFloatFunction's corpus-min/max linear
    map (one bounded agg broadcast over the scan), and the classic recency
    boost recip(ms(fixed_now, o_orderdate), 1e-9, 1, 1) =
    ReciprocalFloatFunction over epoch-millis arithmetic."""
    from solr_spark.functions.funcquery import ms, recip, scale_fq

    o = _t(spark, sf_dir, "orders")
    scaled = scale_fq(o, "o_totalprice", 0.0, 1.0)
    age = ms(F.lit("1998-12-01 00:00:00"), F.col("o_orderdate"))
    return (scaled.select(
        "o_orderkey",
        _dround("scale_o_totalprice", 6).alias("scaled_price"),
        _dround(recip(age, 1e-9, 1.0, 1.0), 6).alias("recency"))
        .where(F.col("o_orderkey") < 2000).orderBy("o_orderkey"))


_Q109_SQL = """
WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
           FROM orders)
SELECT o_orderkey,
  round(CASE WHEN mx = mn THEN 0.5
             ELSE (o_totalprice - mn) / (mx - mn) END, 6) AS scaled_price,
  round(1.0 / (1e-9 * (epoch_ms(TIMESTAMP '1998-12-01 00:00:00')
                       - epoch_ms(o_orderdate::TIMESTAMP)) + 1.0), 6)
    AS recency
FROM orders CROSS JOIN s
WHERE o_orderkey < 2000 ORDER BY o_orderkey
"""


def _q110_ord_rord(spark, sf_dir):
    """ord()/rord() ordinal function queries (OrdFieldSource /
    ReverseOrdFieldSource; functions/funcquery.py::with_ord): 1-based
    ordinal of the doc's value in the field's sorted unique values, ranked
    over the DISTINCT-value table (|vocabulary| window rows, never
    |corpus|) and joined back; null -> 0."""
    from solr_spark.functions.funcquery import with_ord

    ev = _t(spark, sf_dir, "events")
    out = with_ord(with_ord(ev, "event_type"), "event_type", reverse=True)
    return (out.groupBy("event_type", "ord_event_type", "rord_event_type")
            .agg(F.count("*").alias("n")).orderBy("event_type"))


_Q110_SQL = """
WITH vals AS (
  SELECT event_type, row_number() OVER (ORDER BY event_type) AS o,
         count(*) OVER () AS nv
  FROM (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL)
)
SELECT e.event_type,
       coalesce(o, 0)::BIGINT AS ord_event_type,
       coalesce(nv + 1 - o, 0)::BIGINT AS rord_event_type,
       count(*)::BIGINT AS n
FROM events e LEFT JOIN vals USING (event_type)
GROUP BY 1, 2, 3 ORDER BY e.event_type
"""


def _ft44_blended_infix(spark, sf_dir):
    """BlendedInfixSuggester (BlendedInfixSuggester.java POSITION_RECIPROCAL
    blender, Solr BlendedInfixLookupFactory;
    operators/components.py::suggest_blended_infix): token-prefix infix
    match over document text with weight = n_chars discounted by
    1/(match_position+1)."""
    from solr_spark.operators.components import suggest_blended_infix

    docs = _t(spark, sf_dir, "documents")
    out = suggest_blended_infix(docs.select(
        F.col("text"), F.col("n_chars")), "text", "vec", "n_chars", k=15)
    return out.select("suggestion", F.col("weight").cast("long").alias("weight"),
                      "position", _dround("score", 4).alias("score"))


_FT44_SQL = """
WITH hits AS (
  SELECT text AS suggestion, n_chars::BIGINT AS weight,
         (list_position(list_transform(string_split(text, ' '),
                                       t -> starts_with(t, 'vec')),
                        true) - 1)::INT AS position
  FROM documents
)
SELECT suggestion, weight, position,
       round(weight / (position + 1.0), 4) AS score
FROM hits WHERE position >= 0
ORDER BY score DESC, suggestion LIMIT 15
"""


def _q111_external_file_field(spark, sf_dir):
    """ExternalFileField / FileFloatSource (schema/ExternalFileField.java;
    functions/funcquery.py::load_external_floats/with_external_field): a
    key=float sidecar file attached to the corpus as a function-query
    field. The file is synthesized deterministically from doc_ids (with a
    malformed line and a duplicate key to exercise the reference's
    skip-and-last-wins parse); missing keys take defVal 0.0."""
    import os as _os
    import tempfile as _tf

    from solr_spark.functions.funcquery import (
        load_external_floats, with_external_field)

    docs = _t(spark, sf_dir, "documents")
    ids = [r.doc_id for r in
           docs.where(F.col("doc_id") % 3 == 0).select("doc_id").collect()]
    d = _tf.mkdtemp(prefix="extff_")
    p = _os.path.join(d, "external_rank")
    with open(p, "w") as f:
        if ids:
            f.write(f"{ids[0]}=99.0\n")     # duplicate: overwritten below
        f.write("not a kv line\n")
        for i in sorted(ids):
            f.write(f"{i}={(i % 7) + 0.5}\n")
    ext = load_external_floats(spark, p, key_type="long")
    out = with_external_field(docs.select("doc_id"), ext, "doc_id",
                              "rank_f", default=0.0)
    return (out.select("doc_id",
                       F.col("rank_f").cast("double").alias("rank_f"))
            .orderBy("doc_id"))


_Q111_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN (doc_id % 7) + 0.5
            ELSE 0.0 END::DOUBLE AS rank_f
FROM documents ORDER BY doc_id
"""


def _q112_json_graph_domain(spark, sf_dir):
    """Graph domain change in the JSON facet tree
    (json-faceting-domain-changes.adoc "graph", search/join/GraphQuery.java;
    jsonapi.py domain.graph): customers form a parent forest via
    to_v = c_custkey DIV 10; the facet domain walks from the queried range
    [1000,1009] up the ancestor chain (1000..1009 -> 100 -> 10 -> 1), then
    counts mktsegments over roots + traversed docs."""
    from solr_spark.query.jsonapi import json_facets

    c = (_t(spark, sf_dir, "customer")
         .withColumn("from_v", F.col("c_custkey"))
         .withColumn("to_v", F.expr("c_custkey DIV 10")))
    req = {"query": "c_custkey:[1000 TO 1009]",
           "facet": {"segs": {
               "type": "terms", "field": "c_mktsegment", "limit": 10,
               "domain": {"graph": {"from": "from_v", "to": "to_v",
                                    "maxDepth": 10}}}}}
    out = json_facets(c, req)["segs"]
    return (out.select("bucket", F.col("count").cast("long").alias("count"))
            .orderBy(F.desc("count"), "bucket"))


_Q112_SQL = """
WITH RECURSIVE dom0 AS (
  SELECT c_custkey FROM customer WHERE c_custkey BETWEEN 1000 AND 1009
),
vals AS (
  SELECT DISTINCT (c_custkey // 10) AS v, 0 AS lvl
  FROM customer WHERE c_custkey BETWEEN 1000 AND 1009
  UNION
  SELECT c.c_custkey // 10, vals.lvl + 1
  FROM customer c JOIN vals ON c.c_custkey = vals.v
  WHERE vals.lvl < 10
),
dom AS (
  SELECT c_custkey FROM dom0
  UNION
  SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT v FROM vals)
)
SELECT c_mktsegment AS bucket, count(*)::BIGINT AS count
FROM customer WHERE c_custkey IN (SELECT c_custkey FROM dom)
GROUP BY 1 ORDER BY count DESC, bucket LIMIT 10
"""


def _q113_stats_facet(spark, sf_dir):
    """stats.facet (StatsComponent.java stats.facet / StatsInfo.facets;
    facets.py::stats_facet): the full stats block per o_orderpriority value
    in ONE grouped aggregation — identical exact-DECIMAL sum kernels to the
    q09 stats_component gate, keyed by the facet value."""
    out = facets.stats_facet(_t(spark, sf_dir, "orders"), "o_totalprice",
                             "o_orderpriority")
    return (out.withColumn("sum", F.col("sum").cast("string"))
            .withColumn("sum_of_squares",
                        F.col("sum_of_squares").cast("string"))
            .orderBy("facet_value"))


_Q113_SQL = """
SELECT o_orderpriority AS facet_value,
       min(o_totalprice) AS min, max(o_totalprice) AS max,
       sum(round(o_totalprice, 4)::DECIMAL(38,4))::VARCHAR AS sum,
       count(o_totalprice)::BIGINT AS count,
       count(*) FILTER (o_totalprice IS NULL)::BIGINT AS missing,
       round(avg(o_totalprice), 6) AS mean,
       sum(round(o_totalprice * o_totalprice, 4)::DECIMAL(38,4))::VARCHAR
         AS sum_of_squares,
       round(stddev_samp(o_totalprice), 6) AS stddev
FROM orders GROUP BY 1 ORDER BY 1
"""


def _q114_json_heatmap(spark, sf_dir):
    """facet.heatmap through the JSON facet tree (spatial-search.adoc,
    HeatmapFacetCounter role; jsonapi.py type=heatmap): grid-cell counts
    over a filtered domain, coordinates derived deterministically from keys
    as in q40."""
    from solr_spark.query.jsonapi import json_facets

    c = (_t(spark, sf_dir, "customer")
         .withColumn("lat", (F.col("c_custkey") % 180 - 90) + F.lit(0.5))
         .withColumn("lon", (F.col("c_custkey") * 7 % 360 - 180) + F.lit(0.5)))
    req = {"query": "*:*", "filter": "c_custkey:[0 TO 700]",
           "facet": {"grid": {"type": "heatmap", "latField": "lat",
                              "lonField": "lon", "gridSize": 30.0}}}
    out = json_facets(c, req)["grid"]
    return (out.select("cell", F.col("count").cast("long").alias("count"))
            .orderBy("cell"))


def _q115_query_facet_stats(spark, sf_dir):
    """query facets carrying nested stat metrics (FacetQuery.java with a
    facet block; facets.py::query_facet_stats through jsonapi): count + sum
    + avg per named predicate in ONE conditional-aggregation pass."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "*:*",
           "facet": {"long_en": {"type": "query",
                                 "q": "lang:en AND n_chars:[300 TO *]",
                                 "facet": {"total_chars": "sum(n_chars)",
                                           "avg_chars": "avg(n_chars)"}}}}
    out = json_facets(docs, req)["long_en"]
    return out.select(
        "bucket", F.col("count").cast("long").alias("count"),
        F.col("total_chars").cast("long").alias("total_chars"),
        _dround("avg_chars", 6).alias("avg_chars"))


_Q115_SQL = """
SELECT 'long_en' AS bucket,
       count(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 END)::BIGINT
         AS count,
       sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN n_chars END)::BIGINT
         AS total_chars,
       round(avg(CASE WHEN lang = 'en' AND n_chars >= 300 THEN n_chars END),
             6) AS avg_chars
FROM documents
"""


def _q116_range_subfacet(spark, sf_dir):
    """Terms sub-facet INSIDE range buckets (FacetRange with nested
    FacetField; jsonapi range branch -> facet_tree): n_chars ranges as the
    outer level, top-2 langs per range inside, one tree plan / one scan."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "*:*",
           "facet": {"sizes": {
               "type": "range", "field": "n_chars",
               "start": 0, "gap": 250, "end": 1000,
               "facet": {"langs": {"type": "terms", "field": "lang",
                                   "limit": 2}}}}}
    out = json_facets(docs, req)["sizes"]
    return (out.select(F.col("bucket").cast("long").alias("bucket_start"),
                       F.col("langs"),
                       F.col("count").cast("long").alias("count"))
            .orderBy("bucket_start", "langs"))


_Q116_SQL = """
WITH b AS (
  SELECT (floor(n_chars / 250) * 250)::BIGINT AS bucket_start, lang
  FROM documents WHERE n_chars >= 0 AND n_chars < 1000
),
counts AS (
  SELECT bucket_start, lang, count(*)::BIGINT AS count,
         row_number() OVER (PARTITION BY bucket_start
                            ORDER BY count(*) DESC, lang) AS rk
  FROM b GROUP BY 1, 2
)
SELECT bucket_start, lang AS langs, count
FROM counts WHERE rk <= 2 ORDER BY bucket_start, langs
"""


def _ft45_edismax_filtered(spark, sf_dir):
    """edismax q + fq (ExtendedDismaxQParser with the classic fq flow;
    query/edismax.py filters=): the ft11 request restricted to lang:en --
    the filter docid-set semi-joins the combined match set BEFORE
    mm/boosts/top-k, scoring stats stay global (IDF unchanged)."""
    from solr_spark.query.edismax import edismax_topk

    readers = {"text": _ft_index(spark, sf_dir),
               "title": _ft_title_index(spark, sf_dir)}
    topk = edismax_topk(spark, readers, _EDISMAX_Q, _EDISMAX_QF, k=20,
                        tie=_EDISMAX_TIE, pf={"text": _EDISMAX_PF},
                        filters=["lang:en"])
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _q117_analyze_expr(spark, sf_dir):
    """analyze() evaluator (AnalyzeEvaluator.java:49) in expression text —
    the reference's indexing/census idiom: tokenize a stored field inside
    the DSL, explode with cartesianProduct (CartesianProductStream.java:47),
    hashRollup a term census. The chain runs as the pure-JVM Column
    analyzer (analysis/analyzer.py::tokenize_column), so the whole
    expression compiles to one scan + one hash aggregate — no Python."""
    from solr_spark.streaming.dispatch import run_expression

    colls = {"documents": _t(spark, sf_dir, "documents")}
    out = run_expression(
        'hashRollup(cartesianProduct(select(search(documents, q=*:*, '
        'fl="doc_id,text", sort="doc_id asc"), doc_id as doc_id, '
        'analyze(text) as term), term), over="term", count(*))', colls)
    return (out.select("term", F.col("`count(*)`").cast("long").alias("n"))
            .orderBy("term"))


_Q117_SQL = f"""
WITH {_TOKS_CTE}
SELECT tok AS term, count(*)::BIGINT AS n
FROM toks GROUP BY tok ORDER BY term
"""


def _ft46_maxscore(spark, sf_dir):
    """`{!maxscore}` qparser (search/MaxScoreQParser.java:53): the ft01
    query scored with SHOULD clauses DISMAXED (tie=0.3) and `merge` as a
    MUST pass-through clause — score = contrib(merge) + max(other contribs)
    + 0.3 * (sum(other contribs) - max). WAND pruning is unchanged: the
    per-range sum-of-bounds dominates the dismax score for tie <= 1."""
    reader = _ft_index(spark, sf_dir)
    topk = bm25_topk(spark, reader, _FT_QUERY, k=20, mode="wand",
                     combine="dismax", tie=0.3, required=["merge"])
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft46_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
contrib AS (
    SELECT tf.doc_id, tf.term,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) AS c
    FROM tf
    JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
),
agg AS (
    SELECT doc_id,
           sum(CASE WHEN term = 'merge' THEN c ELSE 0 END) AS must_c,
           count(CASE WHEN term = 'merge' THEN 1 END) AS must_n,
           max(CASE WHEN term <> 'merge' THEN c END) AS mx,
           sum(CASE WHEN term <> 'merge' THEN c ELSE 0 END) AS sm
    FROM contrib GROUP BY doc_id
)
SELECT doc_id,
       round(must_c + coalesce(mx, 0.0) + 0.3 * (sm - coalesce(mx, 0.0)), 4) AS score
FROM agg WHERE must_n > 0
ORDER BY score DESC, doc_id LIMIT 20
"""


def _q118_graph_terms(spark, sf_dir):
    """`{!graphTerms}` qparser (search/GraphTermsQParserPlugin.java:72): a
    terms filter where a term whose docFreq exceeds maxDocFreq contributes
    NO matches — the hub-node skip for graph traversals. maxDocFreq=386 at
    sf0.01 keeps `spark` (df 385) and `vector` (382) but caps out `window`
    (387) and `merge` (393); the cap resolves against the DICTIONARY before
    any posting is decoded."""
    from solr_spark.query.bm25 import graph_terms_docs

    reader = _ft_index(spark, sf_dir)
    docs = graph_terms_docs(spark, reader, list(_FT_TERMS), max_doc_freq=386)
    return (docs.join(reader.doc_map(spark), "docid")
            .select(_doc_id()).orderBy("doc_id"))


def _q118_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id) AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
)
SELECT DISTINCT doc_id FROM toks
WHERE tok IN (SELECT term FROM dfreq WHERE df <= 386)
ORDER BY doc_id
"""


_TX09_CONTENT = ("spark streaming checkpoint recovery merge vector spark "
                 "shuffle partition skew")


def _tx09_mlt_content(spark, sf_dir):
    """mlt from FREE TEXT (search/mlt/MLTContentQParserPlugin.java — the
    `{!mlt_content}` parser feeds arbitrary text to MoreLikeThis.like(Reader)
    instead of a seed document): content terms are scored tf-in-content *
    corpus idf, the top terms broadcast into the postings disjunction."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    pairs = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("term"),
    )
    return streams.mlt_content(pairs, _TX09_CONTENT.split(), n_docs,
                               doc_col="doc_id", k=10)


def _tx09_sql() -> str:
    from collections import Counter

    ctf = Counter(_TX09_CONTENT.split())
    values = ", ".join(f"('{t}', {float(c)})" for t, c in sorted(ctf.items()))
    return f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, tok AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
dft AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
content(term, ctf) AS (VALUES {values}),
seed AS (
  SELECT c.term,
         c.ctf * ln((SELECT count(*) FROM documents)::DOUBLE / df) AS boost
  FROM content c JOIN dft USING (term)
  ORDER BY boost DESC, term LIMIT 25
)
SELECT doc_id, round(sum(boost), 4) AS mlt_score, count(*)::BIGINT AS n_shared
FROM pairs JOIN seed USING (term)
GROUP BY doc_id ORDER BY mlt_score DESC, doc_id LIMIT 10
"""


def _q119_query_func(spark, sf_dir):
    """`query($q)` function query (ValueSourceParser.java:389
    QueryValueSource): a subquery's BM25 score as a per-document VALUE with
    defVal=0 for non-matching docs — the `bf=query($qq)` / `boost(query($q),
    f)` building block. The match-set scores left-join the filtered corpus;
    scoring stats stay global."""
    from solr_spark.functions.funcquery import query_scores, with_query_score

    reader = _ft_index(spark, sf_dir)
    scores = query_scores(spark, reader, _FT_QUERY)
    dm = reader.doc_map(spark).select("docid", _doc_id())
    base = (_t(spark, sf_dir, "documents")
            .where(F.col("n_chars") >= 400).select("doc_id")
            .join(dm, "doc_id"))
    out = with_query_score(base, scores)
    return (out.select("doc_id", _dround("qscore", 4).alias("qscore"))
            .orderBy(F.desc("qscore"), "doc_id").limit(30))


def _q119_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
)
SELECT d.doc_id, round(coalesce(s.score, 0.0), 4) AS qscore
FROM documents d LEFT JOIN scored s USING (doc_id)
WHERE d.n_chars >= 400
ORDER BY qscore DESC, d.doc_id LIMIT 30
"""


def _q120_subquery(spark, sf_dir):
    """[subquery] doc transformer (SubQueryAugmenterFactory.java): each
    customer carries its top-2 orders by totalprice — the row-parameter
    substitution (`orders.q={!terms f=o_custkey v=$row.c_custkey}`)
    expressed as the salted-top-N + group-collect + one left join
    (operators/streams.py::subquery_docs). Structs projected to a portable
    string so both engines hash the nested payload identically."""
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") < 200).select("c_custkey"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice")
    out = streams.subquery_docs(
        cust, orders, "c_custkey", "o_custkey",
        [F.desc("o_totalprice"), F.asc("o_orderkey")], rows=2)
    sub_str = F.transform(
        "subquery",
        lambda s: F.concat_ws(":", s["o_orderkey"].cast("string"),
                              F.round(s["o_totalprice"] * 100)
                               .cast("long").cast("string")))
    return (out.select("c_custkey",
                       F.col("subquery_numFound").alias("num_found"),
                       F.array_join(sub_str, ",").alias("top_orders"))
            .orderBy("c_custkey"))


_Q120_SQL = """
WITH ranked AS (
  SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
),
agg AS (
  SELECT c_custkey,
         count(*)::BIGINT AS num_found,
         string_agg(CASE WHEN rn <= 2
                         THEN o_orderkey || ':' ||
                              round(o_totalprice * 100)::BIGINT END,
                    ',' ORDER BY rn) AS top_orders
  FROM ranked GROUP BY c_custkey
)
SELECT c.c_custkey, coalesce(a.num_found, 0) AS num_found,
       coalesce(a.top_orders, '') AS top_orders
FROM customer c LEFT JOIN agg a USING (c_custkey)
WHERE c.c_custkey < 200
ORDER BY c.c_custkey
"""


def _dd22_ccnet_buckets(spark, sf_dir):
    """CCNet perplexity bucketing + bucket-weighted sampling (Wenzek et al.
    2019): self-scored bigram-LM perplexity (tx05's kernel) -> exact
    value-granular head/middle/tail terciles (cumulative window over the
    DISTINCT score table, the KS distributed-rank shape) -> md5-keyed keep
    rates 1.0/0.5/0.1 per bucket (functions/sampling.py::perplexity_buckets
    / ccnet_sample)."""
    from solr_spark.functions.lm import bigram_lm_score
    from solr_spark.functions.sampling import ccnet_sample, perplexity_buckets

    d = _t(spark, sf_dir, "documents")
    scored = bigram_lm_score(d, "doc_id", "text")
    kept = ccnet_sample(perplexity_buckets(scored), "doc_id")
    return (kept.select("doc_id", F.col("ppl_bucket").alias("bucket"),
                        "perplexity")
            .orderBy("doc_id"))


def _dd22_sql() -> str:
    lm = lm_score_sql("text", "documents", "doc_id").strip().rstrip()
    return f"""
WITH lm AS ({lm}),
valid AS (SELECT doc_id, perplexity FROM lm WHERE perplexity IS NOT NULL),
dist AS (SELECT perplexity, count(*) AS c FROM valid GROUP BY perplexity),
cum AS (
  SELECT perplexity, c,
         sum(c) OVER (ORDER BY perplexity
                      ROWS UNBOUNDED PRECEDING) AS cum,
         (SELECT count(*) FROM valid) AS n
  FROM dist
),
buck AS (
  SELECT perplexity,
         CASE floor((cum - c) * 3 / n)
              WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
  FROM cum
),
tagged AS (
  SELECT v.doc_id, b.bucket, v.perplexity
  FROM valid v JOIN buck b USING (perplexity)
),
u AS (
  SELECT doc_id,
         ('0x' || substr(md5('ccnet:' || doc_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
             / 4294967296.0 AS u
  FROM valid
)
SELECT t.doc_id, t.bucket, t.perplexity
FROM tagged t JOIN u USING (doc_id)
WHERE u < CASE t.bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5
          ELSE 0.1 END
ORDER BY t.doc_id
"""


def _ft47_suggest_contexts(spark, sf_dir):
    """Suggester CONTEXT FILTERING (contextField + suggest.cfq —
    SolrSuggester.getSuggestions with a contextFilterQuery, Lucene
    ContextQuery): only documents in the requested context ('lang' = en)
    feed the document-dictionary suggester; the context predicate pushes to
    the scan alongside the prefix."""
    from solr_spark.operators.components import suggest_documents

    docs = _t(spark, sf_dir, "documents")
    return suggest_documents(docs, "source", "src", weight_col="doc_id",
                             k=10, contexts_col="lang", contexts=["en"])


_FT47_SQL = """
SELECT source AS term, max(doc_id)::DOUBLE AS weight
FROM documents WHERE lang = 'en' AND starts_with(source, 'src')
GROUP BY source ORDER BY weight DESC, term LIMIT 10
"""


def _dd24_doremi(spark, sf_dir):
    """DoReMi domain-mixture reweighting (Xie et al. 2023, Algorithm 1):
    per-(step, domain) clipped excess losses -> exponentiated-gradient
    state in closed form (cumsum over steps), max-stabilized per-step
    softmax, smoothing on the PLAYED distribution only, time-averaged
    weights (functions/sampling.py::doremi_weights). The proxy/reference
    loss log is synthesized deterministically from documents: step =
    doc_id % 6, domain = source, loss = (n_chars % 89) / 29, ref 1.5."""
    from solr_spark.functions.sampling import doremi_weights

    log = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 6).cast("int").alias("step"),
        F.col("source").alias("domain"),
        ((F.col("n_chars") % 89) / 29.0).alias("loss"),
        F.lit(1.5).alias("ref"))
    w = doremi_weights(log, "step", "domain", "loss", "ref",
                       eta=0.7, smoothing=0.01)
    return w.select("domain", _dround("weight", 7).alias("weight"))


_DD24_SQL = """
WITH log AS (
  SELECT doc_id % 6 AS step, source AS domain,
         (n_chars % 89) / 29.0 AS loss, 1.5 AS ref
  FROM documents
),
agg AS (
  SELECT step, domain,
         avg(CASE WHEN loss - ref > 0 THEN loss - ref ELSE 0 END) AS xl
  FROM log GROUP BY step, domain
),
grid AS (
  SELECT s.step, d.domain, coalesce(a.xl, 0) AS xl
  FROM (SELECT DISTINCT step FROM agg) s
  CROSS JOIN (SELECT DISTINCT domain FROM agg) d
  LEFT JOIN agg a ON a.step = s.step AND a.domain = d.domain
),
cum AS (
  SELECT step, domain,
         sum(xl) OVER (PARTITION BY domain ORDER BY step) AS L
  FROM grid
),
sm AS (
  SELECT step, domain, L,
         max(L) OVER (PARTITION BY step) AS m,
         count(*) OVER (PARTITION BY step) AS k
  FROM cum
),
ez AS (
  SELECT step, domain, k, exp(0.7 * (L - m)) AS ex,
         sum(exp(0.7 * (L - m))) OVER (PARTITION BY step) AS Z
  FROM sm
)
SELECT domain, round(avg(0.99 * ex / Z + 0.01 / k), 7) AS weight
FROM ez GROUP BY domain ORDER BY domain
"""


def _dd23_unimax(spark, sf_dir):
    """UniMax language-balanced sampling (Chung et al. 2023): uniform
    cross-language budget with an epoch cap — exact integer waterfilling
    over the language table (capped prefix + even split with remainder),
    epoch-tagged materialization (full passes map-only, the fractional
    epoch md5-ranked). Budget 702 / max_epochs 2 at sf0.01 exercises both
    capped (fr, de) and waterfilled (es, zh, en) branches plus the
    remainder's +1 (functions/sampling.py::unimax_allocations /
    unimax_sample)."""
    from solr_spark.functions.sampling import unimax_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = unimax_sample(d, "doc_id", "lang", total_budget=702, max_epochs=2)
    return out.select("doc_id", "lang",
                      F.col("epoch").cast("long").alias("epoch")) \
              .orderBy("doc_id", "epoch")


_DD23_SQL = """
WITH counts AS (
  SELECT lang, count(*)::BIGINT AS n_docs, (count(*) * 2)::BIGINT AS capacity
  FROM documents GROUP BY lang
),
ranked AS (
  SELECT lang, n_docs, capacity,
         row_number() OVER (ORDER BY capacity, lang) AS i,
         sum(capacity) OVER (ORDER BY capacity, lang
                             ROWS UNBOUNDED PRECEDING) AS cum,
         (SELECT count(*) FROM counts) AS k
  FROM counts
),
flags AS (
  SELECT *, (capacity * (k - i + 1) <= 702 - (cum - capacity)) AS capped
  FROM ranked
),
tot AS (
  SELECT sum(CASE WHEN capped THEN capacity ELSE 0 END) AS cap_sum,
         sum(CASE WHEN capped THEN 1 ELSE 0 END) AS n_capped
  FROM flags
),
alloc AS (
  SELECT f.lang, f.n_docs,
    CASE WHEN f.capped THEN f.capacity
         ELSE (702 - t.cap_sum) // (f.k - t.n_capped)
              + CASE WHEN (f.i - t.n_capped)
                          <= (702 - t.cap_sum) % (f.k - t.n_capped)
                     THEN 1 ELSE 0 END
    END AS allocation
  FROM flags f CROSS JOIN tot t
),
docs AS (
  SELECT d.doc_id, d.lang, a.n_docs, a.allocation,
         ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
             / 4294967296.0 AS u
  FROM documents d JOIN alloc a USING (lang)
),
rankd AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY u, doc_id::VARCHAR) AS r
  FROM docs
),
epochs AS (
  SELECT doc_id, lang,
         (allocation // n_docs)
           + CASE WHEN r <= allocation % n_docs THEN 1 ELSE 0 END AS n_e
  FROM rankd
)
SELECT doc_id, lang, epoch FROM (
  SELECT doc_id, lang, unnest(range(1, n_e::INT + 1))::BIGINT AS epoch
  FROM epochs WHERE n_e > 0
) ORDER BY doc_id, epoch
"""


_PHRASES_QUERY = "spark merge window"


def _tx11_phrases(spark, sf_dir):
    """PhrasesIdentificationComponent (`phrases.q` — handler/component/
    PhrasesIdentificationComponent.java): every candidate span of the query
    scored by the reference's Bayesian shingle model (computeFieldScore:
    P(words|phrase)·(P(phrase)−maxWrapper) − P(words|¬phrase)·(1−…), scaled
    by the query/indexed shingle-length ratio and the conjunction ratio).
    operators/components.py::phrases_identify — two column-pruned scans
    (gram census with map-side needed-grams filter; one conditional-agg
    conjunction pass), bounded stats priced driver-side."""
    from solr_spark.operators.components import phrases_identify

    docs = _t(spark, sf_dir, "documents")
    out = phrases_identify(docs, "text", _PHRASES_QUERY,
                           max_indexed=2, max_query=3)
    return out.select(
        "phrase",
        F.col("position_start").cast("long").alias("position_start"),
        F.col("position_end").cast("long").alias("position_end"),
        _dround("score", 7).alias("score"))


def _tx11_sql() -> str:
    """SQL twin GENERATED from the same pure lattice helper the operator
    uses (phrase_structure) — the q65-tlogit pattern: the query is fixed, so
    the span structure unrolls into explicit scalar-subquery arithmetic."""
    from solr_spark.analysis import analyze_text
    from solr_spark.operators.components import phrase_structure

    mi, mq = 2, 3
    tokens = analyze_text(_PHRASES_QUERY)
    st = phrase_structure(tokens, mi, mq)
    span_text = {(p["start"], p["end"]): p["text"] for p in st}
    by_span = {(p["start"], p["end"]): p for p in st}

    def ttf(g):
        return f"COALESCE((SELECT ttf FROM stats WHERE g = '{g}'), 0)::DOUBLE"

    def dfq(g):
        return f"COALESCE((SELECT df FROM stats WHERE g = '{g}'), 0)::DOUBLE"

    def conj(span):
        words = sorted({tokens[q] for q in range(span[0], span[1])})
        conds = " AND ".join(f"list_contains(a, '{w}')" for w in words)
        return f"(SELECT count(*) FROM t WHERE {conds})::DOUBLE"

    rows = []
    for p in st:
        s, e = p["start"], p["end"]
        text = p["text"]
        terms = [span_text[t] for t in p["terms"]]
        conj_p = conj((s, e))
        if e - s <= 1:
            score = (f"CASE WHEN {dfq(text)} <= 0 THEN -1.0 "
                     f"WHEN {conj_p} <= 0 THEN -1.0 ELSE 0.0 END")
        else:
            contribs = []
            sub_conjs = [conj_p]
            for (a, b) in p["sub"]:
                w_text = span_text[(a, b)]
                w_terms = [span_text[(q, q + 1)] for q in range(a, b)]
                conj_w = conj((a, b))
                sub_conjs.append(conj_w)
                sups = by_span[(a, b)]["super"]
                if sups:
                    wr = ", ".join(
                        f"CASE WHEN {conj(sp)} > 0 THEN "
                        f"{dfq(span_text[sp])} / {conj(sp)} ELSE 0.0 END"
                        for sp in sups)
                    mw = f"GREATEST({wr}, 0.0)"
                else:
                    mw = "0.0"
                tmin = f"LEAST({', '.join(ttf(t) for t in w_terms)})"
                tmax = f"GREATEST({', '.join(ttf(t) for t in w_terms)})"
                pp = f"({conj_p} / {conj_w})"
                contribs.append(
                    f"CASE WHEN {tmin} > 0 AND {conj_w} > 0 THEN "
                    f"({ttf(w_text)} / {tmin}) * ({pp} - {mw}) "
                    f"- ({ttf(w_text)} / {tmax}) * (1.0 - ({pp} - {mw})) "
                    f"ELSE 0.0 END")
            msc = f"GREATEST({', '.join(sub_conjs)})"
            df_guard = " OR ".join(f"{dfq(t)} <= 0" for t in terms)
            score = (f"CASE WHEN {df_guard} THEN -1.0 "
                     f"WHEN {conj_p} <= 0 THEN -1.0 ELSE "
                     f"(({' + '.join(contribs)}) * (1.0 / {1 + mq - mi}) "
                     f"* ({conj_p} / {msc})) END")
        rows.append(
            f"SELECT '{text}' AS phrase, {s + 1}::BIGINT AS position_start, "
            f"{e + 1}::BIGINT AS position_end, round({score}, 7) AS score")
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
pos AS (SELECT doc_id, unnest(a) AS g, generate_subscripts(a, 1) AS p FROM t),
bi AS (SELECT x.doc_id AS doc_id, x.g || ' ' || y.g AS g
       FROM pos x JOIN pos y ON x.doc_id = y.doc_id AND y.p = x.p + 1),
allg AS (SELECT doc_id, g FROM pos UNION ALL SELECT doc_id, g FROM bi),
stats AS (SELECT g, count(*) AS ttf, count(DISTINCT doc_id) AS df
          FROM allg GROUP BY g)
{union}
ORDER BY position_start, position_end
"""


def _tx10_term_vectors(spark, sf_dir):
    """/tv TermVectorComponent (handler/component/TermVectorComponent.java):
    per-doc term vectors for 5 selected docs — tv.tf, tv.df (:386), and
    tv.tf_idf pinned to the reference's literal freq/df (:391, the formula
    its own comment disowns). Docid IN-list pushes into the forward scan;
    df joins the dictionary bounded by the docs' distinct terms."""
    from solr_spark.operators.components import term_vector_component

    reader = _ft_index(spark, sf_dir)
    dm = reader.doc_map(spark).select("docid", _doc_id())
    ids = [r["docid"] for r in dm.where(F.col("doc_id") < 5).collect()]
    tv = term_vector_component(spark, reader, ids)
    return (tv.join(dm, "docid")
            .select("doc_id", "term", "tf", "df",
                    _dround("tf_idf", 6).alias("tf_idf"))
            .orderBy("doc_id", "term"))


def _tx10_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
    FROM toks GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::BIGINT AS tf
    FROM toks WHERE doc_id < 5 GROUP BY doc_id, tok
)
SELECT tf.doc_id, tf.term, tf.tf, d.df,
       round(tf.tf::DOUBLE / d.df, 6) AS tf_idf
FROM tf JOIN dfreq d USING (term)
ORDER BY tf.doc_id, tf.term
"""


def _q121_luke_histogram(spark, sf_dir):
    """/admin/luke docFreq histogram (LukeRequestHandler.java:1169): the
    vocabulary counted into power-of-two df buckets with the handler's
    exact slot arithmetic (32 - numberOfLeadingZeros(df - 1)); one
    aggregate over the term dictionary."""
    from solr_spark.operators.components import luke_histogram

    reader = _ft_index(spark, sf_dir)
    return luke_histogram(spark, reader.index_dir)


_Q121_SQL = f"""
WITH {_TOKS_CTE},
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::BIGINT AS df
    FROM toks GROUP BY tok
),
slots AS (
    SELECT CASE WHEN df <= 1 THEN 0
                ELSE ceil(log2(df))::INT END AS slot
    FROM dfreq
)
SELECT (1::BIGINT << slot) AS bucket, count(*)::BIGINT AS n_terms
FROM slots GROUP BY slot ORDER BY bucket
"""


def _vv08_hard_negatives(spark, sf_dir):
    """Hard-negative mining (DPR / sentence-transformers triples): top-5
    most-similar corpus vectors per query EXCLUDING the query's positives
    (here its own identity pair) — broadcast query batch, codegen cosine,
    anti-join exclusion, salted per-query top-k
    (functions/vectors.py::hard_negative_mine)."""
    from solr_spark.functions.vectors import hard_negative_mine

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding")
    pos = qs.select("q_id", F.col("q_id").alias("vec_id"))
    out = hard_negative_mine(qs, e, positives=pos, k=5)
    return (out.select("q_id", "vec_id", "cosine",
                       F.col("rank").cast("long").alias("rank"))
            .orderBy("q_id", "rank"))


_VV08_SQL = """
WITH qs AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3
),
pairs AS (
  SELECT q.q_id, e.vec_id, e.embedding AS cv, q.qv
  FROM embeddings e CROSS JOIN qs q
  WHERE e.vec_id <> q.q_id
),
flat AS (
  SELECT q_id, vec_id, unnest(cv)::DOUBLE AS x, unnest(qv)::DOUBLE AS y
  FROM pairs
),
sims AS (
  SELECT q_id, vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM flat GROUP BY q_id, vec_id
),
ranked AS (
  SELECT q_id, vec_id, c,
         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank
  FROM sims
)
SELECT q_id, vec_id, round(c, 6) AS cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= 5 ORDER BY q_id, rank
"""


def _ft48_json_queries_ref(spark, sf_dir):
    """Top-level `queries` in the JSON Request API (RequestUtil.java:239):
    named query strings referenced by {"param": name} from query/filter —
    the localparams v=$name idiom. The ft33 request expressed entirely
    through refs must produce the identical filtered WAND top-k (same
    oracle)."""
    from solr_spark.query.jsonapi import json_search

    reader = _ft_index(spark, sf_dir)
    topk = json_search(spark, reader, {
        "queries": {"main": _FT_QUERY, "langfq": "lang:en",
                    "sizefq": "n_chars:[200 TO *]"},
        "query": {"param": "main"},
        "filter": [{"param": "langfq"}, {"param": "sizefq"}],
        "limit": 20,
    })
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _ft49_field_sorted(spark, sf_dir):
    """Field sort on the SCORED path (search/SolrIndexSearcher.java:1911
    TopFieldCollectorManager; SortSpecParsing.java): q + sort=n_chars desc
    + fq=lang:en — the match DocSet is the scored query's (terms OR
    together, resolved from the term_bucket-pruned postings), the ordering
    key is the stored field with doc-id tiebreak (TakeOrderedAndProject,
    never a global sort), and fl=score still returns each page doc's REAL
    BM25 score (global stats; only the page's posting ranges are decoded).
    query/fieldsort.py::field_sorted_search."""
    from solr_spark.query.fieldsort import field_sorted_search

    reader = _ft_index(spark, sf_dir)
    page = field_sorted_search(spark, reader, _FT_QUERY, "n_chars desc",
                               k=20, filters=["lang:en"], with_score=True)
    return page.select(_doc_id(), F.col("n_chars").cast("long")
                       .alias("n_chars"),
                       _dround("score", 4).alias("score"),
                       F.col("rank").cast("long").alias("rank"))


def _ft49_sql() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _FT_TERMS)
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
q(term) AS (VALUES {terms_sql}),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN q USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY tf.doc_id
),
page AS (
    SELECT s.doc_id, dd.n_chars::BIGINT AS n_chars, round(s.score, 4) AS score,
           row_number() OVER (ORDER BY dd.n_chars DESC, s.doc_id) AS rank
    FROM scored s JOIN documents dd USING (doc_id)
    WHERE dd.lang = 'en'
)
SELECT doc_id, n_chars, score, rank::BIGINT AS rank
FROM page WHERE rank <= 20 ORDER BY rank
"""


def _ft50_select_facets(spark, sf_dir):
    """The full /select contract on the ranked path (SearchHandler.java:
    104-118 component pipeline + facet/FacetModule.java:45): a JSON body
    with query + filter + facet computes the facet block over the ENTIRE
    q+fq match DocSet — every doc matching any query term AND the fq —
    never just the returned page. jsonapi.py::json_select routes the facet
    tree through the forward table semi-joined with the scored match set
    (query/fieldsort.py::scored_match_docids, a postings-resolved DocSet)."""
    from solr_spark.query.jsonapi import json_select

    reader = _ft_index(spark, sf_dir)
    res = json_select(spark, reader, {
        "query": _FT_QUERY, "limit": 10,
        "filter": ["n_chars:[200 TO *]"],
        "facet": {"by_lang": {"type": "terms", "field": "lang",
                              "limit": -1}}})
    return res["facets"]["by_lang"].select(
        "bucket", F.col("count").cast("long").alias("count"))


def _ft50_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _FT_TERMS)
    return f"""
WITH {_TOKS_CTE},
matched AS (
    SELECT DISTINCT doc_id FROM toks WHERE tok IN ({in_list})
)
SELECT d.lang AS bucket, count(*)::BIGINT AS count
FROM documents d JOIN matched USING (doc_id)
WHERE d.n_chars >= 200
GROUP BY d.lang ORDER BY count DESC, bucket ASC
"""


def _ft51_xml_boolean(spark, sf_dir):
    """`{!xml}` query parser (XmlQParserPlugin.java; SolrCoreParser.java:50
    wiring Lucene CoreParser + the LegacyNumericRangeQuery builder): a
    BooleanQuery with should/must/mustNot term clauses plus a filter-occurs
    numeric range. query/xmlquery.py lowers occurs onto the BM25 kernel's
    required/prohibited masks and folds the range clause into a filter
    docid-set riding the q+fq bitmap path — identical scoring to the classic
    parser's `spark merge +window -vector` under fq n_chars:[150 TO 450]."""
    from solr_spark.query.xmlquery import xml_query_topk

    reader = _ft_index(spark, sf_dir)
    xml = ("<BooleanQuery>"
           "<Clause><TermQuery>spark</TermQuery></Clause>"
           "<Clause><TermQuery>merge</TermQuery></Clause>"
           '<Clause occurs="must"><TermQuery>window</TermQuery></Clause>'
           '<Clause occurs="mustNot"><TermQuery>vector</TermQuery></Clause>'
           '<Clause occurs="filter"><LegacyNumericRangeQuery '
           'fieldName="n_chars" type="long" lowerTerm="150" upperTerm="450"/>'
           "</Clause></BooleanQuery>")
    # deep over-fetch so the rounded re-cut never straddles a raw-score tie
    topk = xml_query_topk(spark, reader, xml, k=200)
    return (topk.select(_doc_id(), _dround("score", 4).alias("score"))
            .orderBy(F.desc("score"), "doc_id").limit(20))


def _ft51_sql() -> str:
    in_list = "'spark', 'merge', 'window'"
    k1, b = _FT_CONFIG.k1, _FT_CONFIG.b
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
           (SELECT sum(dl) FROM dl)::DOUBLE AS sum_dl
),
dfreq AS (
    SELECT tok AS term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE tok IN ({in_list}) GROUP BY tok
),
tf AS (
    SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
    FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id, tok
),
must AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'window'),
mustnot AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'vector'),
allowed AS (SELECT doc_id FROM documents WHERE n_chars BETWEEN 150 AND 450),
scored AS (
    SELECT tf.doc_id,
           sum( ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / (c.sum_dl / c.n_docs))) ) AS score
    FROM tf
    JOIN dfreq d USING (term) JOIN dl USING (doc_id)
    CROSS JOIN corpus c
    WHERE tf.doc_id IN (SELECT doc_id FROM must)
      AND tf.doc_id NOT IN (SELECT doc_id FROM mustnot)
      AND tf.doc_id IN (SELECT doc_id FROM allowed)
    GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
"""


def _ft52_xml_spannear(spark, sf_dir):
    """`{!xml}` span family: the CoreParser span elements (SpanNear/
    SpanOrTerms/SpanTerm — the XML spelling of the surround algebra) must
    compile to the exact span AST the surround parser builds, so this gate
    shares ft23's oracle: 2W(OR(fast, slow), scan) as
    <SpanNear slop=2 inOrder=true><SpanOrTerms>fast slow</SpanOrTerms>
    <SpanTerm>scan</SpanTerm></SpanNear>."""
    from solr_spark.query.xmlquery import xml_query_topk

    reader = _ft_index(spark, sf_dir)
    xml = ('<SpanNear slop="2" inOrder="true">'
           "<SpanOrTerms>fast slow</SpanOrTerms><SpanTerm>scan</SpanTerm>"
           "</SpanNear>")
    topk = xml_query_topk(spark, reader, xml, k=20)
    return topk.select(_doc_id(), _dround("score", 4).alias("score"))


def _q123_sibling_subfacets(spark, sf_dir):
    """Sibling sub-facet MAPS (search/facet/FacetRequest.java:353 —
    processSubs iterates a map of sub-facets, not a single child): one
    terms node carries a stat AND a terms sub-facet AND a range sub-facet.
    jsonapi._tree_chains decomposes the tree into root-to-leaf chains, each
    compiled to its own single-scan facet_tree plan with identical root
    buckets; the gate joins the two branches on the root bucket."""
    from solr_spark.query.jsonapi import json_facets

    docs = _t(spark, sf_dir, "documents")
    req = {"query": "*:*", "filter": "n_chars:[100 TO *]",
           "facet": {"langs": {
               "type": "terms", "field": "lang", "limit": 3,
               "facet": {
                   "mean_chars": "avg(n_chars)",
                   "by_src": {"type": "terms", "field": "source",
                              "limit": 2},
                   "sizes": {"type": "range", "field": "n_chars",
                             "start": 100, "gap": 500, "end": 1100}}}}}
    res = json_facets(docs, req)
    a = res["langs/by_src"].select(
        F.col("bucket").alias("lang"),
        F.col("langs_count").cast("long").alias("lang_count"),
        _dround("mean_chars", 4).alias("mean_chars"),
        F.col("by_src").alias("src"),
        F.col("count").cast("long").alias("src_count"))
    b = res["langs/sizes"].select(
        F.col("bucket").alias("lang"),
        F.col("sizes").cast("long").alias("size_bucket"),
        F.col("count").cast("long").alias("size_count"))
    return a.join(b, "lang").orderBy("lang", "src", "size_bucket")


_Q123_SQL = """
WITH dom AS (SELECT lang, source, n_chars FROM documents
             WHERE n_chars >= 100),
lang_rank AS (
  SELECT lang, count(*)::BIGINT AS lang_count,
         sum(n_chars)::DOUBLE / count(*) AS mean_chars,
         row_number() OVER (ORDER BY count(*) DESC, lang) AS lr
  FROM dom GROUP BY lang
),
langs AS (SELECT * FROM lang_rank WHERE lr <= 3),
src AS (
  SELECT lang, source AS src, count(*)::BIGINT AS src_count,
         row_number() OVER (PARTITION BY lang
                            ORDER BY count(*) DESC, source) AS sr
  FROM dom GROUP BY lang, source
),
sizes AS (
  SELECT lang,
         (floor((n_chars - 100) / 500) * 500 + 100)::BIGINT AS size_bucket,
         count(*)::BIGINT AS size_count
  FROM dom WHERE n_chars < 1100
  GROUP BY lang, size_bucket
)
SELECT l.lang, l.lang_count, round(l.mean_chars, 4) AS mean_chars,
       s.src, s.src_count, z.size_bucket, z.size_count
FROM langs l JOIN src s ON l.lang = s.lang AND s.sr <= 2
JOIN sizes z ON l.lang = z.lang
ORDER BY l.lang, s.src, z.size_bucket
"""


def _q124_scored_block_join(spark, sf_dir):
    """Scored block join `{!parent score=max}` (search/join/
    BlockJoinParentQParser.java:56; ScoreMode per ScoreJoinQParserPlugin.
    java:92): the child query is the scored path's FULL match set (BM25,
    global stats) under a child fq (lang:en); each child's score rolls up
    to its parent block (source groups) by MAX, and parents rank by the
    rolled-up score. operators/streams.py::block_join_parent_scored —
    children aggregate to one row per parent key BEFORE the join. The
    child fq matches ft33's (lang:en + n_chars range), so the oracle
    reuses ft33's scored derivation minus the top-20 cut."""
    reader = _ft_index(spark, sf_dir)
    kids = bm25_topk(spark, reader, _FT_QUERY, k=10 ** 6, mode="exact",
                     filters=["lang:en", "n_chars:[200 TO *]"])
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    kids = (kids.select(_doc_id(), _dround("score", 4).alias("score"))
            .join(docs, "doc_id"))
    parents = docs.select("source").distinct()
    out = streams.block_join_parent_scored(parents, kids, "source",
                                           "source", score_mode="max")
    return out.select("source", "score")


def _q124_sql() -> str:
    base = _ft33_sql().rstrip()
    # same scored derivation as ft33 (q + lang:en fq, global stats), WITHOUT
    # the top-20 cut — every child hit feeds its parent's max
    base_all = base.replace(
        "SELECT doc_id, round(score, 4) AS score\n"
        "FROM scored ORDER BY score DESC, doc_id LIMIT 20",
        "SELECT doc_id, round(score, 4) AS score FROM scored")
    return f"""
WITH kids AS ({base_all})
SELECT d.source, max(k.score) AS score
FROM kids k JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY score DESC, d.source
"""


def _q125_currency(spark, sf_dir):
    """`currency(field, TARGET)` value source (CurrencyFieldType.java:55 +
    the currency parser in ValueSourceParser.java): (amount, code) pairs
    convert through an exchange-rate table — cross rate via the common
    base, request-metadata CASE chain, no join
    (functions/funcquery.py::currency_convert). Codes synthesized
    deterministically from the order key."""
    from solr_spark.functions.funcquery import currency_convert

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    ccy = F.element_at(F.array(F.lit("USD"), F.lit("EUR"), F.lit("JPY")),
                       (F.col("o_orderkey") % 3 + 1).cast("int"))
    rates = {"USD": 1.0, "EUR": 0.92, "JPY": 155.0}
    out = o.select("o_orderkey", ccy.alias("ccy"),
                   currency_convert("o_totalprice", ccy, "USD", rates)
                   .alias("usd"))
    return out.select("o_orderkey", "ccy",
                      _dround("usd", 4).alias("usd")).orderBy("o_orderkey")


_Q125_SQL = """
SELECT o_orderkey,
       CASE (o_orderkey % 3) WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
            ELSE 'JPY' END AS ccy,
       round(o_totalprice * CASE (o_orderkey % 3)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 1.0 / 0.92
             ELSE 1.0 / 155.0 END, 4) AS usd
FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
"""


def _q126_childfield(spark, sf_dir):
    """`childfield(field)` value source (ChildFieldValueSourceParser,
    registered in ValueSourceParser.java's standardVSParsers): while
    ranking parents by their best child's score, a child doc's field value
    rides along from THAT child — carried inside the same per-key
    max-of-struct aggregate, deterministic tie-break by smallest doc_id
    (operators/streams.py::block_join_parent_scored child_fields=)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.col("n_chars").cast("double")
        .alias("score"))
    parents = docs.select("source").distinct()
    out = streams.block_join_parent_scored(
        parents, docs, "source", "source", score_mode="max",
        child_fields=["doc_id", "lang"], child_tiebreak="doc_id")
    return out.select("source", F.col("score").cast("long").alias("score"),
                      F.col("doc_id").alias("best_doc"),
                      F.col("lang").alias("best_lang"))


_Q126_SQL = """
WITH ranked AS (
  SELECT source, doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS r
  FROM documents
)
SELECT source, n_chars::BIGINT AS score, doc_id AS best_doc,
       lang AS best_lang
FROM ranked WHERE r = 1 ORDER BY score DESC, source
"""


def _q122_group_offset(spark, sf_dir):
    """group.offset (Grouping.java groupOffset): within-group paging — skip
    the first 2 rows of each group's sort order, take the next 2, with
    group_rank keeping the ABSOLUTE within-group position (3, 4). Runs on
    the same salted two-stage top-(offset+n) shape as q13."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    out = windows.group_top_n(
        li, "l_orderkey", [F.desc("l_extendedprice"), F.asc("l_linenumber")],
        2, offset=2)
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice",
                      F.col("group_rank").cast("long").alias("group_rank"))


_Q122_SQL = """
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber)
           AS group_rank
  FROM lineitem WHERE l_orderkey < 200
)
SELECT l_orderkey, l_linenumber, l_extendedprice, group_rank
FROM ranked WHERE group_rank > 2 AND group_rank <= 4
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 block-max-WAND top-k over the inverted index built from
    /root/testdata/sf0.001 documents (full path: analyzer → docids → postings →
    dictionary → WAND → two-phase top-k)."""
    return _ft01_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ft01_bm25_wand_topk": _ft01_bm25_topk,
        "ft02_term_postings": _ft02_term_postings,
        "ft03_term_stats": _ft03_term_stats,
        "ft04_corpus_stats": _ft04_corpus_stats,
        "ft05_suggest_prefix": _ft05_suggest,
        "ft06_highlight": _ft06_highlight,
        "ft07_phrase_topk": _ft07_phrase,
        "ft08_spellcheck": _ft08_spellcheck,
        "ft09_synonym_query": _ft09_synonyms,
        "ft10_near_proximity": _ft10_near,
        "ft11_edismax": _ft11_edismax,
        "ft12_boosted_query": _ft12_boosted,
        "ft13_sloppy_phrase": _ft13_sloppy_phrase,
        "ft14_fuzzy_scored": _ft14_fuzzy_scored,
        "ft15_classic_tfidf": _ft15_classic_tfidf,
        "ft16_lmdirichlet": _ft16_lmdirichlet,
        "ft53_dfi": _ft53_dfi,
        "ft54_sweetspot": _ft54_sweetspot,
        "ft55_dfr_gl2": _ft55_dfr_gl2,
        "ft56_ib_ll": _ft56_ib_ll,
        "ft17_stemmed_search": _ft17_stemmed_search,
        "ft19_bf_boost": _ft19_bf_boost,
        "ft20_unified_highlight": _ft20_unified_highlight,
        "ft21_sloppy_reversed": _ft21_sloppy_reversed,
        "ft22_suggest_infix": _ft22_suggest_infix,
        "ft23_span_near_or": _ft23_span_near_or,
        "ft29_complex_phrase": _ft29_complex_phrase,
        "ft30_freetext_suggest": _ft30_freetext_suggest,
        "ft31_boolean_occurs": _ft31_boolean_occurs,
        "ft18_folded_query": _ft18_folded_query,
        "q01_search_filter_project": _q01_search,
        "q02_lucene_qparser": _q02_lucene_parser,
        "q03_terms_in_list": _q03_terms_in_list,
        "q04_terms_facet": _q04_terms_facet,
        "q05_range_facet": _q05_range_facet,
        "q06_query_facet": _q06_query_facet,
        "q07_nested_facet": _q07_nested_facet,
        "q08_pivot_facet": _q08_pivot_facet,
        "q09_stats_component": _q09_stats,
        "q10_percentiles": _q10_percentiles,
        "q11_timeseries": _q11_timeseries,
        "q12_collapse": _q12_collapse,
        "q13_group_topn": _q13_group_topn,
        "q14_expand": _q14_expand,
        "q15_cursor_page": _q15_cursor_page,
        "q16_top_rank": _q16_top_rank,
        "q17_unique_stream": _q17_unique_stream,
        "q18_merge_union": _q18_merge_union,
        "q19_intersect": _q19_intersect,
        "q20_complement": _q20_complement,
        "q21_semi_join": _q21_semi_join,
        "q22_join_rollup": _q22_join_rollup,
        "q23_hash_join": _q23_hash_join,
        "q24_block_join_parent": _q24_block_join_parent,
        "q25_function_queries": _q25_function_queries,
        "q26_strdist": _q26_strdist,
        "q27_date_filter": _q27_date_filter,
        "q28_json_extract": _q28_json_extract,
        "q29_explode_tf": _q29_explode,
        "q30_rerank": _q30_rerank,
        "q31_rollup_cube": _q31_rollup_cube,
        "q32_moving_avg": _q32_moving_avg,
        "q33_shingles": _q33_shingles,
        "g01_gather_nodes": _g01_gather_nodes,
        "g02_shortest_path": _g02_shortest_path,
        "g03_graph_fixpoint": _g03_graph_fixpoint,
        "q34_geodist": _q34_geodist,
        "q35_date_math": _q35_date_math,
        "q36_jaro_winkler": _q36_jaro_winkler,
        "q37_reduce_group": _q37_reduce_group,
        "q38_fetch": _q38_fetch,
        "q39_ltr_rerank": _q39_ltr_rerank,
        "q40_geo_heatmap": _q40_geo_heatmap,
        "q41_sessionize": _q41_sessionize,
        "q42_relatedness": _q42_relatedness,
        "vv03_cosine_near_dup": _vv03_cosine_near_dup,
        "dd12_semantic_dedup": _dd12_semantic_dedup,
        "dd13_sft_pairs": _dd13_sft_pairs,
        "q43_frange": _q43_frange,
        "q44_unique_block": _q44_unique_block,
        "q45_scored_join": _q45_scored_join,
        "q46_delete_tombstones": _q46_delete,
        "q47_payload_score": _q47_payload,
        "q48_ltr_trees": _q48_ltr_trees,
        "q49_elevation": _q49_elevation,
        "q50_hll_metric": _q50_hll,
        "q51_evaluator_series": _q51_evaluator_series,
        "q52_regress": _q52_regress,
        "q53_hist": _q53_hist,
        "q54_ks_test": _q54_ks_test,
        "q55_spearman": _q55_spearman,
        "q56_context_window": _q56_context_window,
        "q57_facet_domain": _q57_facet_domain,
        "q58_terms_enum": _q58_terms_enum,
        "q59_result_clustering": _q59_result_clustering,
        "q60_nrt_add": _q60_nrt_add,
        "q61_range_other": _q61_range_other,
        "q62_facet_bucket_options": _q62_facet_bucket_options,
        "q63_igain": _q63_igain,
        "q66_geo_polygon": _q66_geo_polygon,
        "q67_facet2d": _q67_facet2d,
        "q68_distributions": _q68_distributions,
        "q69_term_vectors": _q69_term_vectors,
        "dd06_minhash_query": _dd06_minhash_query,
        "q64_interval_facet": _q64_interval_facet,
        "q65_tlogit": _q65_tlogit,
        "dd05_det_split": _dd05_det_split,
        "g04_score_nodes": _g04_score_nodes,
        "tx01_text_stats": _tx01_text_stats,
        "tx02_significant_terms": _tx02_significant_terms,
        "tx03_more_like_this": _tx03_mlt,
        "tx04_analyze_chain": _tx04_analyze_chain,
        "tx05_lm_perplexity": _tx05_lm_perplexity,
        "dd01_exact_dedup": _dd01_exact,
        "dd02_minhash_lsh_pairs": _dd02_minhash_pairs,
        "dd03_minhash_verified": _dd03_minhash_verified,
        "dd11_dedup_clusters": _dd11_dedup_clusters,
        "dd04_simhash": _dd04_simhash,
        "vv01_cosine_topk": _vv01_cosine_topk,
        "q70_quantized_cosine": _q70_quantized_cosine,
        "q71_quality_repetition": _q71_quality_repetition,
        "vv02_lsh_ann_topk": _vv02_lsh_ann,
        "vv04_ivf_ann_topk": _vv04_ivf_ann,
        "vv05_hybrid_rrf": _vv05_hybrid_rrf,
        "vv06_prefiltered_knn": _vv06_prefiltered_knn,
        "dd07_text_profile_signature": _dd07_text_profile,
        "ft24_phonetic": _ft24_phonetic,
        "ft25_word_delimiter": _ft25_word_delimiter,
        "ft26_html_strip": _ft26_html_strip,
        "ft27_explain": _ft27_explain,
        "ft28_collation": _ft28_collation,
        "dd08_decontaminate": _dd08_decontaminate,
        "dd18_dsir_select": _dd18_dsir_select,
        "dd19_bloom_decontaminate": _dd19_bloom_decontaminate,
        "dd09_stratified_quota": _dd09_stratified_quota,
        "dd10_token_packs": _dd10_token_packs,
        "q72_collapse_null_policy": _q72_collapse_null_policy,
        "q73_range_include": _q73_range_include,
        "q74_child_transformer": _q74_child_transformer,
        "q75_atomic_update": _q75_atomic_update,
        "dd14_url_curation": _dd14_url_curation,
        "dd15_line_dedup": _dd15_line_dedup,
        "q76_conversation_stats": _q76_conversation_stats,
        "q77_stream_expr": _q77_stream_expr,
        "q78_expr_join": _q78_expr_join,
        "dd16_temperature_mixture": _dd16_temperature_mixture,
        "dd17_chunk_windows": _dd17_chunk_windows,
        "q79_json_request": _q79_json_request,
        "q80_json_facets": _q80_json_facets,
        "q81_json_subfacet": _q81_json_subfacet,
        "ft32_json_search": _ft32_json_search,
        "ft33_filtered_topk": _ft33_filtered_topk,
        "q82_facet_tree": _q82_facet_tree,
        "ft35_multivalued_bm25": _ft35_multivalued_bm25,
        "q84_array_terms_facet": _q84_array_terms_facet,
        "q85_pivot_stats": _q85_pivot_stats,
        "q86_group_ngroups": _q86_group_ngroups,
        "q87_grouped_facet": _q87_grouped_facet,
        "q83_date_range_facet": _q83_date_range_facet,
        "sq01_sql_select": _sq01_sql_select,
        "sq02_sql_group_by": _sq02_sql_group_by,
        "sq03_sql_distinct": _sq03_sql_distinct,
        "sq04_sql_operators": _sq04_sql_operators,
        "tv01_term_vectors": _tv01_term_vectors,
        "q88_group_query": _q88_group_query,
        "q89_group_func": _q89_group_func,
        "dd20_cluster_balanced": _dd20_cluster_balanced,
        "sq05_scored_sql": _sq05_scored_sql,
        "q90_multiselect_facet": _q90_multiselect_facet,
        "tx06_mlt_interesting": _tx06_mlt_interesting,
        "q91_json_dsl_bool": _q91_json_dsl_bool,
        "q92_matched_queries": _q92_matched_queries,
        "q93_facet_domain_join": _q93_facet_domain_join,
        "q94_classifier_metrics": _q94_classifier_metrics,
        "q95_simple_parser": _q95_simple_parser,
        "ft34_multi_snippets": _ft34_multi_snippets,
        "ft36_terms_enum": _ft36_terms_enum,
        "ft38_copyfield_bm25": _ft38_copyfield_bm25,
        "ft39_json_fields": _ft39_json_fields,
        "ft37_luke_histogram": _ft37_luke_histogram,
        "dd21_duplicated_spans": _dd21_duplicated_spans,
        "q96_ranking_metrics": _q96_ranking_metrics,
        "tx07_c4_filters": _tx07_c4_filters,
        "tx08_bpe_tokens": _tx08_bpe_tokens,
        "vv07_semantic_decontaminate": _vv07_semantic_decontaminate,
        "q97_facet_percentile": _q97_facet_percentile,
        "ft40_edismax_ps": _ft40_edismax_ps,
        "q98_expr_significant": _q98_expr_significant,
        "q99_expr_random": _q99_expr_random,
        "ft41_doc_suggester": _ft41_doc_suggester,
        "q100_expr_let": _q100_expr_let,
        "q101_expr_evaluators": _q101_expr_evaluators,
        "q102_expr_knn": _q102_expr_knn,
        "q103_expr_features": _q103_expr_features,
        "q104_versioned_update": _q104_versioned_update,
        "q105_json_ranges_facet": _q105_json_ranges_facet,
        "q106_expr_classify": _q106_expr_classify,
        "q107_expr_outer_hash_join": _q107_expr_outer_hash_join,
        "q108_expr_drill": _q108_expr_drill,
        "q109_scale_recip_ms": _q109_scale_recip_ms,
        "q110_ord_rord": _q110_ord_rord,
        "ft44_blended_infix": _ft44_blended_infix,
        "q111_external_file_field": _q111_external_file_field,
        "q112_json_graph_domain": _q112_json_graph_domain,
        "q113_stats_facet": _q113_stats_facet,
        "q114_json_heatmap": _q114_json_heatmap,
        "q115_query_facet_stats": _q115_query_facet_stats,
        "q116_range_subfacet": _q116_range_subfacet,
        "q117_analyze_expr": _q117_analyze_expr,
        "ft46_maxscore": _ft46_maxscore,
        "q118_graph_terms": _q118_graph_terms,
        "tx09_mlt_content": _tx09_mlt_content,
        "tx11_phrases_id": _tx11_phrases,
        "q119_query_func": _q119_query_func,
        "q120_subquery": _q120_subquery,
        "dd22_ccnet_buckets": _dd22_ccnet_buckets,
        "ft47_suggest_contexts": _ft47_suggest_contexts,
        "dd23_unimax": _dd23_unimax,
        "dd24_doremi": _dd24_doremi,
        "tx10_term_vectors": _tx10_term_vectors,
        "q121_luke_histogram": _q121_luke_histogram,
        "vv08_hard_negatives": _vv08_hard_negatives,
        "ft48_json_queries_ref": _ft48_json_queries_ref,
        "ft49_field_sorted": _ft49_field_sorted,
        "ft50_select_facets": _ft50_select_facets,
        "ft51_xml_boolean": _ft51_xml_boolean,
        "ft52_xml_spannear": _ft52_xml_spannear,
        "q123_sibling_subfacets": _q123_sibling_subfacets,
        "q124_scored_block_join": _q124_scored_block_join,
        "q125_currency": _q125_currency,
        "q126_childfield": _q126_childfield,
        "q122_group_offset": _q122_group_offset,
        "ft45_edismax_filtered": _ft45_edismax_filtered,
        "ft42_word_breaks": _ft42_word_breaks,
        "ft43_word_combinations": _ft43_word_combinations,
    }


def oracle_sql() -> dict[str, str]:
    stop = _STOP_SQL
    minhash_cte = """
WITH rawtoks AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ) WHERE tok <> ''
),
seeded AS (
    SELECT doc_id, seed, md5(seed || ':' || tok) AS h
    FROM rawtoks CROSS JOIN (SELECT unnest(range(16)) AS seed) s
),
sig AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
bands AS (
    SELECT doc_id, (seed // 4) AS band_id,
           md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
    FROM sig GROUP BY doc_id, (seed // 4)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
"""
    return {
        "ft01_bm25_wand_topk": _ft01_sql(),
        "ft02_term_postings": _ft02_sql(),
        "ft03_term_stats": _ft03_sql(),
        "ft04_corpus_stats": _ft04_sql(),
        "ft05_suggest_prefix": _ft05_sql(),
        "ft06_highlight": _ft06_sql(),
        "ft07_phrase_topk": _ft07_sql(),
        "ft08_spellcheck": _ft08_sql(),
        "ft09_synonym_query": _ft09_sql(),
        "ft10_near_proximity": _ft10_sql(),
        "ft11_edismax": _ft11_sql(),
        "ft12_boosted_query": _ft12_sql(),
        "ft13_sloppy_phrase": _ft13_sql(),
        "ft14_fuzzy_scored": _ft14_sql(),
        "ft15_classic_tfidf": _ft15_sql(),
        "ft16_lmdirichlet": _ft16_sql(),
        "ft53_dfi": _ft53_sql(),
        "ft54_sweetspot": _ft54_sql(),
        "ft55_dfr_gl2": _ft55_sql(),
        "ft56_ib_ll": _ft56_sql(),
        "ft17_stemmed_search": _ft17_sql(),
        "ft19_bf_boost": _ft19_sql(),
        "ft20_unified_highlight": _ft20_sql(),
        "ft21_sloppy_reversed": _ft21_sql(),
        "ft22_suggest_infix": _ft22_sql(),
        "ft23_span_near_or": _ft23_sql(),
        "ft29_complex_phrase": _ft29_sql(),
        "ft30_freetext_suggest": _ft30_sql(),
        "ft31_boolean_occurs": _ft31_sql(),
        "ft18_folded_query": _ft18_sql(),
        "q01_search_filter_project": """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_shipdate >= '1998-01-01' AND l_quantity > 30
ORDER BY l_orderkey, l_linenumber LIMIT 100
""",
        "q02_lucene_qparser": """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 100000
  AND NOT o_orderstatus = 'P'
ORDER BY o_orderkey
""",
        "q03_terms_in_list": """
SELECT o_orderpriority AS priority, count(*)::BIGINT AS n FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') GROUP BY 1 ORDER BY 1
""",
        "q04_terms_facet": """
SELECT event_type AS bucket, count(*)::BIGINT AS count FROM events
GROUP BY 1 ORDER BY count DESC, bucket LIMIT 10
""",
        "q05_range_facet": """
SELECT floor(o_totalprice / 50000.0) * 50000.0 AS bucket_start,
       count(*)::BIGINT AS count, round(avg(o_totalprice), 4) AS avg_price
FROM orders WHERE o_totalprice >= 0 GROUP BY 1 ORDER BY 1
""",
        "q06_query_facet": """
SELECT 'discounted' AS bucket, count(*) FILTER (l_discount > 0.05)::BIGINT AS count FROM lineitem
UNION ALL
SELECT 'high_qty', count(*) FILTER (l_quantity >= 45)::BIGINT FROM lineitem
UNION ALL
SELECT 'returned', count(*) FILTER (l_returnflag = 'R')::BIGINT FROM lineitem
ORDER BY bucket
""",
        "q07_nested_facet": """
SELECT event_type AS outer_bucket, strftime(date_trunc('day', ts), '%Y-%m-%d') AS inner_bucket,
       count(*)::BIGINT AS count, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q08_pivot_facet": """
SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS count
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q09_stats_component": """
SELECT min(l_extendedprice) AS min, max(l_extendedprice) AS max,
       sum(round(l_extendedprice, 4)::DECIMAL(38,4))::VARCHAR AS sum,
       count(l_extendedprice)::BIGINT AS count,
       count(*) FILTER (l_extendedprice IS NULL)::BIGINT AS missing,
       round(avg(l_extendedprice), 6) AS mean,
       sum(round(l_extendedprice * l_extendedprice, 4)::DECIMAL(38,4))::VARCHAR
         AS sum_of_squares,
       round(stddev_samp(l_extendedprice), 6) AS stddev
FROM lineitem
""",
        "q10_percentiles": """
SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
       round(quantile_cont(o_totalprice, 0.95), 6) AS p95
FROM orders
""",
        "q11_timeseries": """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*)::BIGINT AS count, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1 ORDER BY 1
""",
        "q12_collapse": """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders
) WHERE rn = 1
""",
        "q13_group_topn": """
SELECT l_orderkey, l_linenumber, l_extendedprice, rn::BIGINT AS group_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
  FROM lineitem WHERE l_orderkey < 200
) WHERE rn <= 2
""",
        "q14_expand": """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey < 50
) WHERE rn > 1 AND rn <= 3
""",
        "q15_cursor_page": """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_orderkey > 750 ORDER BY o_orderkey LIMIT 50
""",
        "q16_top_rank": """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
        "q17_unique_stream": """
SELECT user_id, event_id, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
        "q18_merge_union": """
SELECT event_id, event_type, round(value, 2) AS value FROM events WHERE event_type = 'error'
UNION ALL
SELECT event_id, event_type, round(value, 2) FROM events
WHERE event_type = 'purchase' AND value > 150
ORDER BY event_id
""",
        "q19_intersect": """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
ORDER BY o_custkey
""",
        "q20_complement": """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey
""",
        "q21_semi_join": """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
ORDER BY c_custkey
""",
        "q22_join_rollup": """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*)::BIGINT AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
        "q23_hash_join": """
SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
""",
        "q24_block_join_parent": """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
ORDER BY o_orderkey
""",
        "q25_function_queries": """
SELECT o_orderkey, round(ln(o_totalprice), 4) AS ln_price,
       round(sqrt(o_totalprice), 4) AS sqrt_price,
       o_orderstatus || '-' || o_orderpriority AS status_prio,
       CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class
FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey
""",
        "q26_strdist": """
SELECT DISTINCT event_type, levenshtein(event_type, 'purchase')::BIGINT AS edit_dist
FROM events ORDER BY event_type
""",
        "q27_date_filter": """
SELECT event_type, count(*)::BIGINT AS n FROM events
WHERE ts >= '2024-01-02' AND ts < '2024-01-05' GROUP BY 1 ORDER BY 1
""",
        "q28_json_extract": """
SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k_val
FROM events WHERE event_id < 100 ORDER BY event_id
""",
        "q29_explode_tf": """
SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents WHERE doc_id < 20
) WHERE tok <> '' GROUP BY doc_id, tok ORDER BY doc_id, tok
""",
        "q30_rerank": """
WITH top20 AS (
  SELECT o_orderkey, o_totalprice AS score,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
)
SELECT o_orderkey,
       round(CASE WHEN pos <= 10
                  THEN score + (o_orderkey % 7) * 1000.0 ELSE score END, 2)
         AS new_score
FROM top20
""",
        "q31_rollup_cube": """
SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
""",
        "q32_moving_avg": """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
)
SELECT day, n,
       round(avg(n) OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
         AS ma3
FROM daily ORDER BY day
""",
        "q33_shingles": """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 50
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM t
)
SELECT doc_id, len(list_distinct(shingles))::BIGINT AS n_distinct_shingles
FROM sh ORDER BY doc_id
""",
        "q51_evaluator_series": """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
agg AS (
  SELECT user_id, max(n) AS n,
         avg(value) AS mean,
         stddev_samp(value) AS sd,
         sqrt(sum(value * value)) AS l2,
         sum(value) - (max(CASE WHEN rn = 1 THEN value END)
                       + max(CASE WHEN rn = n THEN value END)) / 2 AS integral,
         max(CASE WHEN rn = n THEN value END)
           - max(CASE WHEN rn = 1 THEN value END) AS diff_sum,
         avg(CASE WHEN rn > n - 3 THEN value END) AS ma3_last
  FROM ordered GROUP BY user_id
)
SELECT user_id, n::BIGINT AS n, round(mean, 4) AS mean, round(sd, 4) AS sd,
       round(l2, 4) AS l2, round(integral, 4) AS integral,
       round(diff_sum, 4) AS diff_sum, round(ma3_last, 4) AS ma3_last
FROM agg WHERE n >= 4 ORDER BY user_id
""",
        "q52_regress": """
SELECT round(regr_slope(value, x), 6) AS slope,
       round(regr_intercept(value, x), 6) AS intercept,
       round(corr(value, x), 6) AS r,
       round(regr_r2(value, x), 6) AS r_squared,
       regr_count(value, x)::BIGINT AS n
FROM (SELECT value, extract(hour FROM ts)::DOUBLE AS x FROM events)
""",
        "q53_hist": """
WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
binned AS (
  SELECT least(floor((value - b.lo) / ((b.hi - b.lo) / 12)), 11)::BIGINT AS bin
  FROM events, b
)
SELECT bin,
       round(b.lo + bin * ((b.hi - b.lo) / 12), 6) AS lo,
       round(b.lo + (bin + 1) * ((b.hi - b.lo) / 12), 6) AS hi,
       count(*)::BIGINT AS "count"
FROM binned, b GROUP BY bin, b.lo, b.hi ORDER BY bin
""",
        "q54_ks_test": """
WITH per AS (
  SELECT value AS v,
         sum(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END) AS c1,
         sum(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS c2
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value
),
n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM per),
cum AS (
  SELECT abs(sum(c1) OVER w / n.n1 - sum(c2) OVER w / n.n2) AS d
  FROM per, n
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
dd AS (SELECT max(d) AS d FROM cum),
lam AS (SELECT d, n1 * n2 / (n1 + n2) AS ne FROM dd, n),
pv AS (
  SELECT d, 2 * sum(power(-1.0, k - 1) * exp(-2.0 * k * k
         * power((sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d, 2))) AS p
  FROM lam, generate_series(1, 100) AS t(k) GROUP BY d, ne
)
SELECT round(d, 6) AS d_statistic,
       round(greatest(0.0, least(1.0, p)), 6) AS p_value
FROM pv
""",
        "q55_spearman": """
WITH src AS (SELECT value AS x, extract(hour FROM ts)::DOUBLE AS y FROM events),
r AS (
  SELECT rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
         rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
  FROM src
)
SELECT round(corr(rx, ry), 6) AS spearman FROM r
""",
        "q56_context_window": _Q56_SQL,
        "q57_facet_domain": _Q57_SQL,
        "q58_terms_enum": _Q58_SQL,
        "q59_result_clustering": _q59_sql(),
        "q60_nrt_add": _q60_sql(),
        "q61_range_other": _Q61_SQL,
        "q62_facet_bucket_options": _Q62_SQL,
        "q63_igain": _Q63_SQL,
        "q65_tlogit": _q65_sql(),
        "q66_geo_polygon": _Q66_SQL,
        "q67_facet2d": _Q67_SQL,
        "q68_distributions": _Q68_SQL,
        "q69_term_vectors": _Q69_SQL,
        "dd06_minhash_query": _DD06_SQL,
        "q64_interval_facet": _Q64_SQL,
        # q65_tlogit: no SQL twin (iterative training) — rows-only by design
        "dd05_det_split": _DD05_SQL,
        "g04_score_nodes": _G04_SQL,
        "tx01_text_stats": f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
         length(text) AS n_chars
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, len(toks)::BIGINT AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
         ELSE 0.0 END AS mtl,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> lower(x) IN ({_MARKER_SQL})))::DOUBLE / len(toks)
         ELSE 0.0 END AS sr,
    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
  FROM t
)
SELECT doc_id, n_tokens, n_chars::BIGINT AS n_chars,
       round(mtl, 4) AS mean_token_len, round(sr, 4) AS stop_ratio,
       CASE WHEN sr >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred, fingerprint
FROM s ORDER BY doc_id
""",
        "g01_gather_nodes": """
WITH lvl1 AS (
  SELECT DISTINCT 'o' || o_orderkey AS node FROM orders WHERE o_custkey IN (1, 2)
),
lvl2 AS (
  SELECT DISTINCT 'p' || l_partkey AS node FROM lineitem
  WHERE 'o' || l_orderkey IN (SELECT node FROM lvl1)
)
SELECT node, 1::BIGINT AS level FROM lvl1
UNION ALL
SELECT node, 2::BIGINT AS level FROM lvl2
ORDER BY level, node
""",
        "g02_shortest_path": """
WITH RECURSIVE edges AS (
  SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS dst FROM orders
  UNION ALL
  SELECT 'o' || l_orderkey, 'p' || l_partkey FROM lineitem
), walk AS (
  SELECT 'c7' AS node, 0 AS depth
  UNION ALL
  SELECT e.dst, walk.depth + 1 FROM walk JOIN edges e ON e.src = walk.node
  WHERE walk.depth < 4
), dist AS (
  SELECT node, min(depth) AS d FROM walk GROUP BY node
), pred AS (
  -- first-reach predecessor with min-src tiebreak (matches the BFS operator)
  SELECT d2.node, min(e.src) AS pred, d2.d
  FROM dist d2
  JOIN edges e ON e.dst = d2.node
  JOIN dist d1 ON d1.node = e.src AND d1.d = d2.d - 1
  GROUP BY d2.node, d2.d
), path AS (
  SELECT node, d AS pos FROM dist WHERE node = 'p35'
  UNION ALL
  SELECT pred.pred, path.pos - 1 FROM path JOIN pred ON pred.node = path.node
  WHERE path.pos > 0
)
SELECT pos::BIGINT AS pos, node FROM path ORDER BY pos
""",
        "g03_graph_fixpoint": """
WITH RECURSIVE edges AS (
  SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS dst FROM orders
  UNION ALL
  SELECT 'o' || l_orderkey, 'p' || l_partkey FROM lineitem
), walk AS (
  SELECT node FROM (VALUES ('c1'), ('c2'), ('c3')) v(node)
  UNION
  SELECT e.dst FROM walk JOIN edges e ON e.src = walk.node
)
SELECT DISTINCT node FROM walk ORDER BY node
""",
        "q34_geodist": """
WITH pts AS (
  SELECT c_custkey,
         (c_custkey % 180 - 90) + 0.5 AS lat,
         (c_custkey * 7 % 360 - 180) + 0.5 AS lon
  FROM customer
), d AS (
  SELECT c_custkey,
         2.0 * 6371.0087714 * asin(sqrt(
             pow(sin(radians(lat - 10.0) / 2), 2)
             + cos(radians(10.0)) * cos(radians(lat))
               * pow(sin(radians(lon - 20.0) / 2), 2))) AS dist_km
  FROM pts
)
SELECT c_custkey, round(dist_km, 2) AS dist_km
FROM d WHERE dist_km <= 4000.0 ORDER BY c_custkey
""",
        "q35_date_math": _Q35_SQL,
        "q36_jaro_winkler": """
SELECT c_custkey,
       round(jaro_winkler_similarity(c_name, 'Customer#000000042'), 4) AS jw
FROM customer WHERE c_custkey < 100 ORDER BY c_custkey
""",
        "q37_reduce_group": """
SELECT o_custkey,
       string_agg(o_orderpriority, ',' ORDER BY o_orderdate, o_orderkey) AS prios
FROM orders WHERE o_custkey < 100 GROUP BY o_custkey ORDER BY o_custkey
""",
        "q38_fetch": """
SELECT o_orderkey, o_custkey, c_name
FROM orders LEFT JOIN customer ON c_custkey = o_custkey
WHERE o_orderkey < 200 ORDER BY o_orderkey
""",
        "q39_ltr_rerank": """
WITH top20 AS (
  SELECT o_orderkey, o_totalprice, o_orderdate,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
)
SELECT o_orderkey,
       round(CASE WHEN pos <= 10
             THEN o_totalprice + (2.0 + 0.8 * (o_totalprice / 1000.0)
                                      + 5.0 * (year(o_orderdate) - 1992))
             ELSE o_totalprice END, 3) AS new_score
FROM top20
""",
        "q40_geo_heatmap": """
WITH pts AS (
  SELECT (c_custkey % 180 - 90) + 0.5 AS lat,
         (c_custkey * 7 % 360 - 180) + 0.5 AS lon
  FROM customer
)
SELECT (floor((lat + 90) / 30)::BIGINT || ':' ||
        floor((lon + 180) / 30)::BIGINT) AS cell,
       count(*)::BIGINT AS n
FROM pts GROUP BY cell ORDER BY cell
""",
        "q41_sessionize": """
WITH m AS (
  SELECT user_id::VARCHAR AS conv_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT conv_id, ts,
         (sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts, event_id) - 1) AS sid
  FROM m
)
SELECT conv_id, sid::INT AS session_id,
       min(ts) AS start_ts, max(ts) AS end_ts,
       count(*)::BIGINT AS n_turns, count(*)::BIGINT AS n_tokens
FROM s GROUP BY conv_id, sid ORDER BY conv_id, session_id
""",
        "q44_unique_block": """
SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS unique_blocks
FROM lineitem WHERE l_quantity > 45
GROUP BY l_returnflag ORDER BY l_returnflag
""",
        "q46_delete_tombstones": _q46_sql(),
        "q49_elevation": """
SELECT o_orderkey, o_totalprice, pos FROM (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY
            CASE WHEN o_orderkey = 42 THEN 1
                 WHEN o_orderkey = 7 THEN 2 END ASC NULLS LAST,
            o_totalprice DESC, o_orderkey)::BIGINT AS pos
  FROM orders WHERE o_orderkey <> 1
) WHERE pos <= 25 ORDER BY pos
""",
        "q48_ltr_trees": """
WITH top20 AS (
  SELECT o_orderkey, o_totalprice, o_orderdate,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
), feat AS (
  SELECT o_orderkey, o_totalprice, pos,
         o_totalprice / 1000.0 AS price_k,
         year(o_orderdate) - 1992 AS recency
  FROM top20
)
SELECT o_orderkey,
       round(CASE WHEN pos <= 10 THEN o_totalprice + 0.5
                  + 0.6 * (CASE WHEN price_k <= 250.0 THEN 5.0
                                WHEN recency <= 3.0 THEN 10.0
                                ELSE 20.0 END)
                  + 1.0 * (CASE WHEN recency <= 2.0 THEN 1.0 ELSE 2.0 END)
             ELSE o_totalprice END, 3) AS new_score
FROM feat
""",
        "q47_payload_score": """
SELECT doc_id, min(rp - 1)::BIGINT AS first_pos FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS rp
  FROM documents
) WHERE tok = 'vector' GROUP BY doc_id ORDER BY doc_id
""",
        "q45_scored_join": """
SELECT o_orderkey, o_totalprice, round(s.score, 2) AS score
FROM orders
JOIN (SELECT l_orderkey AS o_orderkey,
             max(l_extendedprice * (1 - l_discount)) AS score
      FROM lineitem GROUP BY l_orderkey) s USING (o_orderkey)
WHERE o_orderkey < 500 ORDER BY o_orderkey
""",
        "q43_frange": """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 2) AS net
FROM lineitem
WHERE round(l_extendedprice * (1 - l_discount), 2) BETWEEN 900.0 AND 1000.0
ORDER BY l_orderkey, l_linenumber
""",
        "vv03_cosine_near_dup": """
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
ORDER BY a_id, b_id
""",
        "dd13_sft_pairs": _DD13_SQL,
        "dd12_semantic_dedup": """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
),
assign AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.cid AS cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   c.cvec::DOUBLE[]), 9) DESC,
                      c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
av AS (
  SELECT a.vec_id, a.cluster, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
)
SELECT x.vec_id AS a_id, y.vec_id AS b_id,
       round(list_cosine_similarity(x.embedding::DOUBLE[],
                                    y.embedding::DOUBLE[]), 6) AS cosine
FROM av x JOIN av y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
                                   y.embedding::DOUBLE[]), 6) >= 0.4
ORDER BY a_id, b_id
""",
        "q42_relatedness": """
WITH counted AS (
  SELECT o_orderpriority,
         sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         count(*)::BIGINT AS bg_count
  FROM orders GROUP BY o_orderpriority
), tot AS (
  SELECT sum(fg_count)::DOUBLE AS fg_size, sum(bg_count)::DOUBLE AS bg_size
  FROM counted
)
SELECT o_orderpriority, fg_count, bg_count,
       round(CASE WHEN fg_count = 0 THEN -1.0
             ELSE ((fg_count / fg_size) - (bg_count / bg_size))
                  / ((fg_count / fg_size) + (bg_count / bg_size)) END, 6)
         AS relatedness
FROM counted CROSS JOIN tot ORDER BY o_orderpriority
""",
        "tx02_significant_terms": """
WITH pairs AS (
  SELECT DISTINCT doc_id, source, tok AS term FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
tot AS (
  SELECT count(DISTINCT doc_id) AS n_bg,
         count(DISTINCT doc_id) FILTER (source = 'src1') AS n_fg
  FROM pairs
),
cnt AS (
  SELECT term, count(*)::BIGINT AS bg,
         count(*) FILTER (source = 'src1')::BIGINT AS fg
  FROM pairs GROUP BY term
)
SELECT term, fg, bg,
       round((fg::DOUBLE / n_fg) / (bg::DOUBLE / n_bg), 4) AS score
FROM cnt, tot ORDER BY term
""",
        "tx04_analyze_chain": _TX04_SQL,
        "tx05_lm_perplexity": lm_score_sql("text", "documents", "doc_id"),
        "tx03_more_like_this": """
WITH pairs AS (
  SELECT DISTINCT doc_id, tok AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
dft AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
seed AS (
  SELECT p.term, ln((SELECT count(*) FROM documents)::DOUBLE / df) AS idf
  FROM pairs p JOIN dft USING (term) WHERE p.doc_id = 0
  ORDER BY idf DESC, term LIMIT 25
)
SELECT doc_id, round(sum(idf), 4) AS mlt_score, count(*)::BIGINT AS n_shared
FROM pairs JOIN seed USING (term) WHERE doc_id <> 0
GROUP BY doc_id ORDER BY mlt_score DESC, doc_id LIMIT 10
""",
        "dd01_exact_dedup": """
SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       count(*) OVER (PARTITION BY md5(text))::BIGINT AS group_size
FROM documents ORDER BY doc_id
""",
        "dd04_simhash": _dd04_sql(),
        "dd02_minhash_lsh_pairs": minhash_cte + """
SELECT id_a, id_b FROM cand ORDER BY id_a, id_b
""",
        "dd03_minhash_verified": minhash_cte + """,
tsets AS (SELECT doc_id, count(*) AS n FROM rawtoks GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN rawtoks ta ON ta.doc_id = c.id_a
  JOIN rawtoks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT i.id_a, i.id_b,
         round(n_inter::DOUBLE / (sa.n + sb.n - n_inter), 4) AS jaccard
  FROM inter i
  JOIN tsets sa ON sa.doc_id = i.id_a
  JOIN tsets sb ON sb.doc_id = i.id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY id_a, id_b
""",
        "dd11_dedup_clusters": minhash_cte.replace("WITH ", "WITH RECURSIVE ", 1) + _DD11_SQL_TAIL,
        "vv05_hybrid_rrf": _vv05_sql(),
        "vv04_ivf_ann_topk": """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.cid AS cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   c.cvec::DOUBLE[]), 9) DESC,
                      c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cid FROM (
    SELECT c.cid,
           row_number() OVER (ORDER BY
             list_cosine_similarity(q.qv::DOUBLE[], c.cvec::DOUBLE[]) DESC,
             c.cid) AS rn
    FROM cent c, q
  ) WHERE rn <= 4
),
cand AS (SELECT vec_id FROM assign WHERE cluster IN (SELECT cid FROM probe)),
sims AS (
  SELECT e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS c
  FROM embeddings e JOIN cand USING (vec_id), q
)
SELECT vec_id, round(c, 4) AS cosine FROM sims ORDER BY c DESC, vec_id LIMIT 10
""",
        "vv02_lsh_ann_topk": _vv02_sql(),
        "q70_quantized_cosine": _Q70_SQL,
        "q71_quality_repetition": _Q71_SQL,
        "vv01_cosine_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
),
sims AS (
  SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM flat GROUP BY vec_id
)
SELECT vec_id, round(c, 4) AS cosine FROM sims ORDER BY c DESC, vec_id LIMIT 10
""",
        "vv06_prefiltered_knn": _VV06_SQL,
        "dd07_text_profile_signature": _DD07_SQL,
        "ft24_phonetic": _ft24_sql(),
        "ft25_word_delimiter": _ft25_sql(),
        "ft26_html_strip": _ft26_sql(),
        "ft27_explain": _ft27_sql(),
        "ft28_collation": _ft28_sql(),
        "dd08_decontaminate": _DD08_SQL,
        "dd18_dsir_select": _DD18_SQL,
        "dd19_bloom_decontaminate": _DD19_SQL,
        "dd09_stratified_quota": _DD09_SQL,
        "dd10_token_packs": _DD10_SQL,
        "q72_collapse_null_policy": _Q72_SQL,
        "q73_range_include": _Q73_SQL,
        "q74_child_transformer": _Q74_SQL,
        "q75_atomic_update": _Q75_SQL,
        "dd14_url_curation": _DD14_SQL,
        "dd15_line_dedup": _DD15_SQL,
        "q76_conversation_stats": _Q76_SQL,
        "q77_stream_expr": _Q77_SQL,
        "q78_expr_join": _Q78_SQL,
        "dd16_temperature_mixture": _DD16_SQL,
        "dd17_chunk_windows": _DD17_SQL,
        "q79_json_request": _Q79_SQL,
        "q80_json_facets": _Q80_SQL,
        "q81_json_subfacet": _Q81_SQL,
        "ft32_json_search": _ft01_sql(),
        "ft33_filtered_topk": _ft33_sql(),
        "q82_facet_tree": _Q82_SQL,
        "ft35_multivalued_bm25": _ft01_sql(),
        "q84_array_terms_facet": _Q84_SQL,
        "q85_pivot_stats": _Q85_SQL,
        "q86_group_ngroups": _Q86_SQL,
        "q87_grouped_facet": _Q87_SQL,
        "q83_date_range_facet": _Q83_SQL,
        "sq01_sql_select": _SQ01_SQL,
        "sq02_sql_group_by": _SQ02_SQL,
        "sq03_sql_distinct": _SQ03_SQL,
        "sq04_sql_operators": _SQ04_SQL,
        "tv01_term_vectors": _tv01_sql(),
        "q88_group_query": _Q88_SQL,
        "q89_group_func": _Q89_SQL,
        "dd20_cluster_balanced": _DD20_SQL,
        "sq05_scored_sql": _ft33_sql(),
        "q90_multiselect_facet": _Q90_SQL,
        "tx06_mlt_interesting": _TX06_SQL,
        "q91_json_dsl_bool": _Q91_SQL,
        "q92_matched_queries": _Q92_SQL,
        "q93_facet_domain_join": _Q93_SQL,
        "q94_classifier_metrics": _q94_sql(),
        "q95_simple_parser": _Q95_SQL,
        "ft34_multi_snippets": _ft34_sql(),
        "ft36_terms_enum": _ft36_sql(),
        "ft38_copyfield_bm25": _ft38_sql(),
        "ft39_json_fields": _ft39_sql(),
        "ft37_luke_histogram": _ft37_sql(),
        "dd21_duplicated_spans": _DD21_SQL,
        "q96_ranking_metrics": _Q96_SQL,
        "tx07_c4_filters": _TX07_SQL,
        "tx08_bpe_tokens": _tx08_sql(),
        "vv07_semantic_decontaminate": _VV07_SQL,
        "q97_facet_percentile": _Q97_SQL,
        "ft40_edismax_ps": _ft40_sql(),
        "q98_expr_significant": _Q98_SQL,
        "q99_expr_random": _Q99_SQL,
        "ft41_doc_suggester": _FT41_SQL,
        "q100_expr_let": _Q100_SQL,
        "q101_expr_evaluators": _Q101_SQL,
        "q102_expr_knn": _Q102_SQL,
        "q103_expr_features": _Q63_SQL,
        "q104_versioned_update": _Q104_SQL,
        "q105_json_ranges_facet": _Q105_SQL,
        "q106_expr_classify": _Q106_SQL,
        "q107_expr_outer_hash_join": _Q107_SQL,
        "q108_expr_drill": _Q108_SQL,
        "q109_scale_recip_ms": _Q109_SQL,
        "q110_ord_rord": _Q110_SQL,
        "ft44_blended_infix": _FT44_SQL,
        "q111_external_file_field": _Q111_SQL,
        "q112_json_graph_domain": _Q112_SQL,
        "q113_stats_facet": _Q113_SQL,
        "q115_query_facet_stats": _Q115_SQL,
        "q116_range_subfacet": _Q116_SQL,
        "q117_analyze_expr": _Q117_SQL,
        "ft46_maxscore": _ft46_sql(),
        "q118_graph_terms": _q118_sql(),
        "tx09_mlt_content": _tx09_sql(),
        "tx11_phrases_id": _tx11_sql(),
        "q119_query_func": _q119_sql(),
        "q120_subquery": _Q120_SQL,
        "dd22_ccnet_buckets": _dd22_sql(),
        "ft47_suggest_contexts": _FT47_SQL,
        "dd23_unimax": _DD23_SQL,
        "dd24_doremi": _DD24_SQL,
        "tx10_term_vectors": _tx10_sql(),
        "q121_luke_histogram": _Q121_SQL,
        "vv08_hard_negatives": _VV08_SQL,
        "ft48_json_queries_ref": _ft33_sql(),
        "ft49_field_sorted": _ft49_sql(),
        "ft50_select_facets": _ft50_sql(),
        "ft51_xml_boolean": _ft51_sql(),
        "ft52_xml_spannear": _ft23_sql(),
        "q123_sibling_subfacets": _Q123_SQL,
        "q124_scored_block_join": _q124_sql(),
        "q125_currency": _Q125_SQL,
        "q126_childfield": _Q126_SQL,
        "q122_group_offset": _Q122_SQL,
        "ft45_edismax_filtered": _ft11_sql(final_where="WHERE m.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
        "q114_json_heatmap": """
WITH pts AS (
  SELECT (c_custkey % 180 - 90) + 0.5 AS lat,
         (c_custkey * 7 % 360 - 180) + 0.5 AS lon
  FROM customer WHERE c_custkey BETWEEN 0 AND 700
)
SELECT (floor((lat + 90) / 30)::BIGINT || ':' ||
        floor((lon + 180) / 30)::BIGINT) AS cell,
       count(*)::BIGINT AS count
FROM pts GROUP BY cell ORDER BY cell
""",
        "ft42_word_breaks": _ft42_sql(),
        "ft43_word_combinations": _ft43_sql(),
    }
