"""Dictionary-expanded scored multi-term queries: prefix, wildcard, fuzzy.

Reference semantics: Lucene MultiTermQuery rewrite as exposed by the `prefix`
and `fuzzy` QParsers (solr/core/src/java/org/apache/solr/search/
QParserPlugin.java:46-96 registry entries). The pattern is expanded against the
ANALYZED term dictionary (not the raw column — matching analyzed terms is what
distinguishes these from the filter parser's LIKE/levenshtein predicates), the
expansion capped at max_expansions by descending document frequency (Lucene's
TopTermsRewrite keeps the highest-scoring/df terms), and the surviving terms
scored as ONE blended group: pooled tf per document, saturated once, idf from
the max member df — the SynonymQuery/BlendedTermQuery shape Lucene's
TopTermsBlendedFreqScoringRewrite produces. (Deviation, documented: Lucene's
FuzzyQuery additionally boosts each expanded term by edit-distance similarity;
the blend here weights all members equally.)

Scale shape: the expansion is a scan of the term DICTIONARY (dictionary rows ~
vocabulary size, orders of magnitude smaller than postings; Lucene walks its
term dict with an automaton just the same), and scoring reuses the bm25_topk
synonym path — partition-pruned posting reads + WAND.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.query.bm25 import RANKED_SCHEMA, IndexReader, bm25_topk
from solr_spark.query.empty import empty_df


def _top_expansions(matches: DataFrame, max_expansions: int) -> list[str]:
    rows = (matches.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions).collect())
    return [r["term"] for r in rows]


def expand_prefix(spark: SparkSession, reader: IndexReader, prefix: str,
                  max_expansions: int = 50) -> list[str]:
    """Analyzed terms starting with `prefix`, top-df-first (PrefixQuery)."""
    d = reader.dictionary(spark)
    esc = (prefix.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_"))
    return _top_expansions(d.where(F.col("term").like(esc + "%")),
                           max_expansions)


def expand_wildcard(spark: SparkSession, reader: IndexReader, pattern: str,
                    max_expansions: int = 50) -> list[str]:
    """Analyzed terms matching a `*`/`?` wildcard pattern (WildcardQuery)."""
    d = reader.dictionary(spark)
    like = (pattern.replace("\\", "\\\\").replace("%", r"\%")
            .replace("_", r"\_").replace("*", "%").replace("?", "_"))
    return _top_expansions(d.where(F.col("term").like(like)), max_expansions)


def osa_distance(a: str, b: str, cap: int | None = None) -> int:
    """Optimal-string-alignment edit distance: Levenshtein plus adjacent
    transposition as ONE primitive edit — the metric Lucene's FuzzyQuery
    automaton applies when `transpositions=true` (its default; Lucene
    LevenshteinAutomata via the Schulz-Mihov parametric tables). Pure
    function, unit-tested; `cap` early-exits once every cell of a DP row
    exceeds it (Ukkonen band cut)."""
    la, lb = len(a), len(b)
    if a == b:
        return 0
    big = la + lb
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == b[j - 1]:
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
        if cap is not None and min(cur) > cap:
            return big
        prev2, prev = prev, cur
    return prev[lb]


def _osa_filter_udf(term: str, max_edits: int):
    @F.pandas_udf("boolean")
    def within(terms: pd.Series) -> pd.Series:
        return terms.map(
            lambda t: osa_distance(t, term, cap=max_edits) <= max_edits)

    return within


def fuzzy_candidates(d: DataFrame, term: str, max_edits: int,
                     transpositions: bool = True) -> DataFrame:
    """Dictionary rows within `max_edits` edits of `term`.

    transpositions=True (Lucene FuzzyQuery's default) counts an adjacent
    swap as ONE edit (OSA metric — `erorr~1` matches `error`); False is
    plain Levenshtein (FuzzyQuery's transpositions=false mode).

    The length band |len(t) - len(term)| <= max_edits (a necessary condition
    under BOTH metrics) filters on the dictionary's stored `tlen` column —
    a PLAIN column predicate that reaches the parquet scan as PushedFilters
    and prunes row groups (the dictionary is written length-clustered), so a
    fuzzy query reads a sliver of the vocabulary instead of scanning it
    (the automaton-intersection analog of Lucene's FuzzyQuery; plan-audited).
    The distance itself then runs only on band survivors: levenshtein's
    threshold form short-circuits JVM-side; the OSA kernel is an Arrow-batch
    pandas UDF with a per-row Ukkonen cap (vocabulary-sliver cardinality —
    the reference's automaton walk is equally per-term)."""
    n = len(term)
    band = ((F.col("tlen") >= n - max_edits) & (F.col("tlen") <= n + max_edits)
            if "tlen" in d.columns else  # pre-tlen index layout
            (F.length("term") >= n - max_edits)
            & (F.length("term") <= n + max_edits))
    if transpositions:
        return d.where(band).where(
            _osa_filter_udf(term, max_edits)(F.col("term")))
    return d.where(
        band & (F.levenshtein(F.col("term"), F.lit(term), max_edits) >= 0))


def expand_fuzzy(spark: SparkSession, reader: IndexReader, term: str,
                 max_edits: int = 2, max_expansions: int = 50,
                 transpositions: bool = True) -> list[str]:
    """Analyzed terms within `max_edits` edits of `term` (FuzzyQuery;
    transpositions=True is Lucene's default — adjacent swaps cost 1).

    The exact term itself is included when present (distance 0), as in
    Lucene. See fuzzy_candidates for the pushed-down pruning."""
    return _top_expansions(
        fuzzy_candidates(reader.dictionary(spark), term, max_edits,
                         transpositions=transpositions),
        max_expansions)


def _blended_topk(spark: SparkSession, reader: IndexReader,
                  members: list[str], k: int) -> DataFrame:
    """Score an expansion set as one blended group via the bm25_topk synonym
    path. The canonical term is the first (highest-df) member — a real
    dictionary term, so re-analysis is the identity and the group always
    resolves regardless of what raw pattern produced the expansion."""
    if not members:
        return empty_df(spark, RANKED_SCHEMA)
    canon = members[0]
    return bm25_topk(spark, reader, canon, k=k, mode="wand",
                     synonyms={canon: members})


def prefix_topk(spark: SparkSession, reader: IndexReader, prefix: str,
                k: int = 10, max_expansions: int = 50) -> DataFrame:
    """Scored prefix query `pre*`: expand against the dictionary, score the
    expansion as one blended group."""
    return _blended_topk(
        spark, reader, expand_prefix(spark, reader, prefix, max_expansions), k)


def wildcard_topk(spark: SparkSession, reader: IndexReader, pattern: str,
                  k: int = 10, max_expansions: int = 50) -> DataFrame:
    """Scored wildcard query (`vec*or`, `t?rm`)."""
    return _blended_topk(
        spark, reader,
        expand_wildcard(spark, reader, pattern, max_expansions), k)


def fuzzy_topk(spark: SparkSession, reader: IndexReader, term: str,
               k: int = 10, max_edits: int = 2,
               max_expansions: int = 50,
               transpositions: bool = True) -> DataFrame:
    """Scored fuzzy query `term~N`: dictionary-expanded, blended-group scored."""
    return _blended_topk(
        spark, reader,
        expand_fuzzy(spark, reader, term, max_edits, max_expansions,
                     transpositions=transpositions), k)


def _normalize_pattern(pattern: str, config) -> str:
    """Multi-term normalization: lowercase + ASCII fold, NO stemming/stop —
    Lucene runs wildcard/fuzzy patterns through the analyzer's *normalization*
    chain only (Analyzer.normalize), never the full token filters, so `Vec*`
    matches the lowercased dictionary but `running*` is NOT stemmed."""
    from solr_spark.analysis.analyzer import _fold_text

    p = pattern.lower()
    if getattr(config, "fold_ascii", False):
        p = _fold_text(p)
    return p


def complex_phrase_topk(spark: SparkSession, reader: IndexReader,
                        phrase: str, k: int = 10, slop: int = 0,
                        ordered: bool = True,
                        max_expansions: int = 50) -> DataFrame:
    """ComplexPhraseQParser: a phrase whose words may be wildcards, prefixes,
    or fuzzy terms — `"fast vec*"~2`, `"quik~1 scan"`.

    Reference semantics: solr/core/src/java/org/apache/solr/search/
    ComplexPhraseQParserPlugin.java:43 (Lucene ComplexPhraseQueryParser):
    each phrase word lowers to a SpanTermQuery, or — when it carries `*`/`?`/
    `~N` — to the dictionary expansion of that pattern wrapped in a SpanOr,
    and the words combine under a SpanNearQuery with the phrase slop
    (`inOrder=true` by default, the parser's `inOrder` local param maps to
    `ordered=False`). Scoring follows the span path: tf = |distinct span
    windows|, query-time df, BM25 — query/spans.py semantics.

    Scale shape: expansions scan the (vocabulary-sized, length/prefix-pruned)
    dictionary exactly like prefix/wildcard/fuzzy_topk; the span evaluation is
    index-prefiltered per clause group, so only candidate docs reach the
    forward-index kernel. A clause whose expansion is empty matches nothing
    (Lucene's rewrite to an empty disjunction).
    """
    from solr_spark.query.spans import (SpanNear, SpanOr, SpanTerm, span_term,
                                        span_topk)

    clauses = []
    for word in phrase.split():
        if "*" in word or "?" in word:
            members = expand_wildcard(
                spark, reader, _normalize_pattern(word, reader.config),
                max_expansions)
        elif "~" in word:
            base, _, edits = word.partition("~")
            seed = span_term(base, reader.config).term
            members = expand_fuzzy(spark, reader, seed,
                                   int(edits) if edits else 2, max_expansions)
        else:
            clauses.append(span_term(word, reader.config))
            continue
        if not members:
            return empty_df(spark, RANKED_SCHEMA)
        clauses.append(SpanTerm(members[0]) if len(members) == 1
                       else SpanOr(*[SpanTerm(m) for m in members]))
    if not clauses:
        return empty_df(spark, RANKED_SCHEMA)
    node = clauses[0] if len(clauses) == 1 \
        else SpanNear(clauses, slop=slop, ordered=ordered)
    return span_topk(spark, reader, node, k=k)
