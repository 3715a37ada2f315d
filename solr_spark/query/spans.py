"""Span algebra: composable positional queries — the surround parser family.

Reference behavior specs: solr/core/src/java/org/apache/solr/search/
SurroundQParserPlugin.java:41 (the `{!surround}` W/N/OR/NOT operators) and
ComplexPhraseQParserPlugin.java, both lowering to Lucene's SpanQuery family
(SpanTermQuery / SpanNearQuery ordered+unordered / SpanOrQuery / SpanNotQuery),
arbitrarily NESTED: `3W(2N(a, b), c)` is a first-class query.

Semantics here (documented, deliberately set-valued): a span node evaluates,
per document, to the SET of distinct (start, end) token windows it matches:

  term t          -> {(p, p+1) for every occurrence p}
  or(c1..cn)      -> union of the children's span sets
  near(c1..cn, slop, ordered) -> {(min start, max end)} over every tuple of
                     child spans that (ordered) chain start-after-end in
                     clause order, or (unordered) are mutually NON-OVERLAPPING,
                     with total-gap budget (max_end - min_start) - sum(child
                     span lengths) <= slop  — Lucene NearSpansOrdered's width
                     rule applied exhaustively.
  not(inc, exc)   -> include spans that do not overlap ANY exclude span

Deviation from Lucene, stated: Lucene's span iterators enumerate matches
lazily and can skip some same-window alignments; the set semantics above is
deterministic, order-free, and engine-portable (SQL-twin-checkable), with
tf = |span set| feeding BM25 exactly like the phrase path.

Scale shape: a span query runs through the positional pipeline of
query/phrase.py. Its candidate DocSet is bm25.clause_docids over the
_required_groups (AND of clause groups, OR within a group — one
partition-pruned posting scan over every term; a one-group query reads the
live forward rows instead); the shared occurrence
extractor feeds span_eval, a per-doc matcher in pure Python over one doc's
occurrence lists (the reference's span iterators are equally per-document
and sequential), for the candidates only; the shared scoring tail ranks
the matches, evaluating them once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from solr_spark.analysis import analyze_text
from solr_spark.query.bm25 import IndexReader
from solr_spark.query.phrase import (candidate_rows, occurrence_matches,
                                     per_doc, score_matches)


# ------------------------------------------------------------------------ AST

@dataclass(frozen=True)
class SpanTerm:
    term: str


@dataclass(frozen=True)
class SpanOr:
    clauses: tuple

    def __init__(self, *clauses):
        object.__setattr__(self, "clauses", tuple(clauses))


@dataclass(frozen=True)
class SpanNear:
    clauses: tuple
    slop: int = 0
    ordered: bool = True

    def __init__(self, clauses, slop: int = 0, ordered: bool = True):
        object.__setattr__(self, "clauses", tuple(clauses))
        object.__setattr__(self, "slop", int(slop))
        object.__setattr__(self, "ordered", bool(ordered))


@dataclass(frozen=True)
class SpanNot:
    include: object
    exclude: object


@dataclass(frozen=True)
class SpanFirst:
    """Spans of `inner` ending at or before position `end` (Lucene
    SpanFirstQuery — the CoreParser `<SpanFirst end="N">` builder)."""
    inner: object
    end: int


def span_term(text: str, config=None) -> SpanTerm:
    """Analyze `text` to exactly one term and wrap it (surround's leaf)."""
    terms = analyze_text(text, config) if config is not None \
        else analyze_text(text)
    if len(terms) != 1:
        raise ValueError(f"span_term needs exactly one analyzed term, "
                         f"got {terms!r} from {text!r}")
    return SpanTerm(terms[0])


# ----------------------------------------------------------------- evaluation

def span_eval(node, positions: dict[str, list[int]]) -> list[tuple[int, int]]:
    """Evaluate a span AST against one document's per-term position lists.
    Returns the sorted set of (start, end) spans. Pure function (unit-tested
    against hand vectors); the Spark kernel maps it over candidate docs."""
    if isinstance(node, SpanTerm):
        return [(p, p + 1) for p in positions.get(node.term, ())]
    if isinstance(node, SpanOr):
        out = set()
        for c in node.clauses:
            out.update(span_eval(c, positions))
        return sorted(out)
    if isinstance(node, SpanNot):
        inc = span_eval(node.include, positions)
        exc = span_eval(node.exclude, positions)
        return [s for s in inc
                if not any(s[0] < e[1] and e[0] < s[1] for e in exc)]
    if isinstance(node, SpanFirst):
        return [s for s in span_eval(node.inner, positions)
                if s[1] <= node.end]
    if isinstance(node, SpanNear):
        child_spans = [span_eval(c, positions) for c in node.clauses]
        if any(not cs for cs in child_spans):
            return []
        # Exhaustive alignment is exponential in the worst case (a hostile
        # doc repeating every clause term hundreds of times). Fail LOUDLY
        # instead of hanging an executor; real span queries have 2-4 clauses
        # over bounded per-doc occurrence counts, far under this cap.
        fanout = 1
        for cs in child_spans:
            fanout *= len(cs)
        if fanout > 1_000_000:
            raise ValueError(
                f"span-near fan-out {fanout} exceeds the per-doc alignment "
                f"cap (clause occurrence counts "
                f"{[len(cs) for cs in child_spans]})")
        out: set[tuple[int, int]] = set()
        n = len(child_spans)

        def rec(i: int, chosen: list[tuple[int, int]]) -> None:
            if i == n:
                lo = min(s for s, _ in chosen)
                hi = max(e for _, e in chosen)
                total = sum(e - s for s, e in chosen)
                if (hi - lo) - total <= node.slop:
                    out.add((lo, hi))
                return
            for s in child_spans[i]:
                if node.ordered:
                    if chosen and s[0] < chosen[-1][1]:
                        continue
                    # safe prune: ordered suffixes only ever GROW the window
                    # and the gap total, so a prefix already over budget
                    # cannot recover
                    if chosen:
                        lo = chosen[0][0]
                        total = sum(e - b for b, e in chosen) + (s[1] - s[0])
                        if (s[1] - lo) - total > node.slop:
                            continue
                else:
                    if any(s[0] < e and b < s[1] for b, e in chosen):
                        continue  # unordered spans must not overlap
                rec(i + 1, chosen + [s])

        rec(0, [])
        return sorted(out)
    raise TypeError(f"not a span node: {node!r}")


def _required_groups(node) -> list[set[str]]:
    """CNF-ish prefilter groups: a doc can match only if, for every group,
    it contains at least one of the group's terms. NOT prunes on include."""
    if isinstance(node, SpanTerm):
        return [{node.term}]
    if isinstance(node, SpanOr):
        terms: set[str] = set()
        for c in node.clauses:
            for g in _required_groups(c):
                terms |= g
        return [terms] if terms else []
    if isinstance(node, SpanNot):
        return _required_groups(node.include)
    if isinstance(node, SpanFirst):
        return _required_groups(node.inner)
    if isinstance(node, SpanNear):
        out = []
        for c in node.clauses:
            out.extend(_required_groups(c))
        return out
    raise TypeError(f"not a span node: {node!r}")


def _all_terms(node) -> set[str]:
    if isinstance(node, SpanTerm):
        return {node.term}
    if isinstance(node, SpanOr):
        return set().union(*[_all_terms(c) for c in node.clauses])
    if isinstance(node, SpanNot):
        return _all_terms(node.include) | _all_terms(node.exclude)
    if isinstance(node, SpanFirst):
        return _all_terms(node.inner)
    if isinstance(node, SpanNear):
        return set().union(*[_all_terms(c) for c in node.clauses])
    raise TypeError(f"not a span node: {node!r}")


def span_matches(spark: SparkSession, reader: IndexReader,
                 node) -> DataFrame:
    """Evaluate a span AST over the live forward table: DataFrame(docid, tf,
    dl), tf = |distinct span set|. The positional pipeline (query/phrase.py)
    with span_eval as its per-doc matcher: candidates hold a term of every
    _required_groups group. Shared by span_topk (scored path) and the XML
    query parser's filter path (query/xmlquery.py)."""
    terms = sorted(_all_terms(node))

    def freq(code, pos):
        return len(span_eval(node, {terms[t]: pos[code == t].tolist()
                                    for t in range(len(terms))}))

    cand = candidate_rows(spark, reader, _required_groups(node))
    return occurrence_matches(cand, terms, per_doc(freq))


def span_topk(spark: SparkSession, reader: IndexReader, node,
              k: int = 10) -> DataFrame:
    """Top-k documents matching a span AST, BM25-scored with tf = |span set|
    and query-time df = number of matching docs (the phrase path's scoring
    tail, phrase.score_matches), ranked by bm25.rank_topk into a local
    relation."""
    return score_matches(spark, reader, span_matches(spark, reader, node), k)
