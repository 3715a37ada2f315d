"""Scored `q` string parser: the classic-parser SCORING surface in one call.

The filter parser (query/parser.py) turns the classic syntax into Catalyst
predicates (the fq/DocSet role). This module is the `q` role: parse a query
string into scored clauses and dispatch to the scoring kernels —

    error timeout^2            term clauses with ^boosts       -> bm25_topk
    "merge join"~2             sloppy phrase clause            -> phrase_topk
    vectr~1                    fuzzy clause (dictionary)       -> fuzzy_topk
    vec*  t?rm                 wildcard/prefix (dictionary)    -> wildcard_topk
    error "merge join"^1.5     terms + additive phrase boost
    error -timeout             MUST_NOT exclusion (ReqExclScorer shape)
    +error timeout             MUST: error required, timeout optional

Reference: grammar solr/core/src/java/org/apache/solr/parser/QueryParser.jj
(term^boost, "..."~slop), dispatch QParser.getParser (search/QParser.java:364).

Combination semantics (Lucene BooleanQuery of SHOULD clauses, simplified and
documented): term/fuzzy/wildcard clauses form the match set and base score;
phrase clauses add their BM25 phrase score to docs already matching (the
edismax-pf shape). A query of ONLY phrase clauses ranks by the phrase alone.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.query.bm25 import (RANKED_SCHEMA, IndexReader, bm25_topk,
                                   rank_topk)
from solr_spark.query.empty import empty_df

_CLAUSE_RE = re.compile(
    r"""\s*(?P<occur>[+-])?(?:
      "(?P<phrase>[^"]*)"(?:~(?P<slop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?
    | (?P<term>[^\s"]+)
    )""",
    re.VERBOSE,
)
_TERM_MODS = re.compile(
    r"^(?P<body>.*?)(?:~(?P<fuzz>\d*))?(?:\^(?P<boost>\d+(?:\.\d+)?))?$")


@dataclass
class ScoredQuery:
    terms: list[tuple[str, float]] = field(default_factory=list)  # (body, boost)
    phrases: list[tuple[str, int, float]] = field(default_factory=list)
    fuzzies: list[tuple[str, int, float]] = field(default_factory=list)
    wildcards: list[tuple[str, float]] = field(default_factory=list)
    required: list[str] = field(default_factory=list)    # `+term` MUST bodies
    prohibited: list[str] = field(default_factory=list)  # `-term` MUST_NOT


def parse_scored_query(q: str) -> ScoredQuery:
    out = ScoredQuery()
    pos = 0
    while pos < len(q):
        m = _CLAUSE_RE.match(q, pos)
        if not m or m.end() == pos:
            if q[pos:].strip():
                raise ValueError(f"cannot parse scored query at: {q[pos:]!r}")
            break
        pos = m.end()
        occur = m["occur"]
        if m["phrase"] is not None:
            if occur:
                raise ValueError(
                    f"{occur}\"...\" phrase occurrence clauses are not "
                    f"supported by the scored parser (term +/- only)")
            out.phrases.append((m["phrase"], int(m["slop"] or 0),
                                float(m["pboost"] or 1.0)))
            continue
        tm = _TERM_MODS.match(m["term"])
        body, boost = tm["body"], float(tm["boost"] or 1.0)
        if occur == "-":
            # MUST_NOT: pure exclusion, never a scoring clause
            out.prohibited.append(body)
            continue
        if occur == "+":
            out.required.append(body)
        if tm["fuzz"] is not None:
            out.fuzzies.append((body, int(tm["fuzz"] or 2), boost))
        elif "*" in body or "?" in body:
            out.wildcards.append((body, boost))
        else:
            out.terms.append((body, boost))
    return out


def scored_topk(spark: SparkSession, reader: IndexReader, q: str,
                k: int = 10,
                filters: list[str] | str | None = None,
                filter_docids: DataFrame | None = None,
                now: str | None = None) -> DataFrame:
    """Parse + score a classic `q` string; returns the bm25_topk shape
    (conv_id, turn_idx, docid, score, rank) as a local relation: a term
    query is bm25_topk's own result, a phrase-scored one is ranked by
    bm25.rank_topk.

    Phrase boosts rescore the term query's top max(4k, 100) candidates (the
    ReRank-window approximation — a doc outside that window cannot be promoted
    by a phrase clause alone; Lucene's exhaustive BooleanQuery has no window,
    deviation documented).

    filters / filter_docids: q+fq (see bm25_topk) — the term query hands
    them to bm25_topk as given (fq strings hit the reader's filterCache),
    and phrase boosts only rescore its hits; phrase-only queries compile
    the fq once, score their FULL match set and intersect before ranking,
    so a selective filter still returns k hits."""
    from solr_spark.query.multiterm import expand_fuzzy, expand_wildcard
    from solr_spark.query.phrase import (match_scores, phrase_matches,
                                         phrase_topk)

    cfg = reader.config
    if isinstance(filters, (list, tuple)) and not filters:
        filters = None  # empty fq list = no filter, skip the bitmap machinery
    if filters is not None and filter_docids is not None:
        raise ValueError("pass filters OR filter_docids, not both")
    sq = parse_scored_query(q)
    required_set = set(sq.required)

    # fold dictionary-expanded clauses into the term query as synonym groups
    synonyms: dict[str, list[str]] = {}
    boosts: dict[str, float] = {}
    terms_text: list[str] = []
    required_canon: list[str] = []
    for body, boost in sq.terms:
        terms_text.append(body)
        if body in required_set:
            required_canon.append(body)
        if boost != 1.0:
            for t in analyze_text(body, cfg):
                boosts[t] = boost
    # fuzzy then wildcard clauses, each expanded only when its turn comes
    expanded = chain(
        ((body, boost, expand_fuzzy(spark, reader, body.lower(),
                                    max_edits=fuzz))
         for body, fuzz, boost in sq.fuzzies),
        ((body, boost, expand_wildcard(spark, reader, body.lower()))
         for body, boost in sq.wildcards))
    for body, boost, members in expanded:
        if not members:
            if body in required_set:  # an unmatchable MUST clause
                return empty_df(spark, RANKED_SCHEMA)
            continue
        canon = members[0]
        synonyms.setdefault(canon, []).extend(members)
        terms_text.append(canon)
        if body in required_set:
            required_canon.append(canon)
        if boost != 1.0:
            boosts[canon] = boost

    if sq.prohibited and not terms_text:
        raise ValueError("MUST_NOT clauses need at least one scoring term "
                         "clause (phrase-only exclusion unsupported)")

    main: DataFrame | None = None
    if terms_text:
        # a term query with no phrase to rescore is bm25_topk's own top k
        main = bm25_topk(spark, reader, " ".join(terms_text),
                         k=max(k * 4, 100) if sq.phrases else k, mode="wand",
                         synonyms=synonyms or None, boosts=boosts or None,
                         prohibited=sq.prohibited or None,
                         required=required_canon or None,
                         filters=filters, filter_docids=filter_docids, now=now)
        if not sq.phrases:
            return main
        main = main.select("docid", "score")
    elif sq.phrases and filters is not None:
        # a phrase-only query semi-joins the fq, so it needs it as docids
        from solr_spark.query.docsets import filter_docids as _compile_fq

        filter_docids = _compile_fq(spark, reader, filters, now=now)

    if (sq.phrases and main is None and len(sq.phrases) == 1
            and filter_docids is None):
        text, slop, boost = sq.phrases[0]
        ph = phrase_topk(spark, reader, text, k=k, slop=slop)
        return ph if boost == 1.0 else ph.withColumn(
            "score", F.col("score") * F.lit(boost))

    held: list[DataFrame] = []

    def phrase_scores(text: str, slop: int, boost: float) -> DataFrame:
        """The phrase's full match set as lazy (docid, boosted score). The
        set stays persisted from its count through the final ranking (the
        forward scan and matcher run once) and is released on return."""
        terms = analyze_text(text, cfg)
        if not terms:
            return empty_df(spark, "docid long, score double")
        held.append(phrase_matches(spark, reader, terms, slop).persist())
        return match_scores(reader, held[-1], held[-1].count()).select(
            "docid", (F.col("score") * F.lit(boost)).alias("score"))

    try:
        for text, slop, boost in sq.phrases:
            if main is None:
                # phrase-only base set. Filtered: score the FULL match set
                # and semi-join the DocSet BEFORE ranking — top-k of the
                # filtered matches, not a filtered top-k.
                if filter_docids is not None:
                    main = phrase_scores(text, slop, boost).join(
                        filter_docids.select("docid").distinct(), "docid",
                        "left_semi")
                    continue
                main = phrase_topk(spark, reader, text, k=max(k * 4, 100),
                                   slop=slop).select(
                    "docid", (F.col("score") * F.lit(boost)).alias("score"))
                continue
            ph = phrase_scores(text, slop, boost) \
                .withColumnRenamed("score", "pboost")
            main = (main.join(ph, "docid", "left")
                    .withColumn("score", F.col("score")
                                + F.coalesce(F.col("pboost"), F.lit(0.0)))
                    .drop("pboost"))

        if main is None:
            return empty_df(spark, RANKED_SCHEMA)
        return rank_topk(spark, reader, main, k)
    finally:
        for matched in held:
            matched.unpersist()
