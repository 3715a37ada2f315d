"""`{!xml}` query parser — the Lucene CoreParser XML dialect, Spark-first.

The reference registers XmlQParserPlugin under the name `xml`
(solr/core/src/java/org/apache/solr/search/QParserPlugin.java registry;
solr/core/src/java/org/apache/solr/search/XmlQParserPlugin.java) and wires it
to Lucene's CoreParser with one extra builder
(solr/core/src/java/org/apache/solr/search/SolrCoreParser.java:50
LegacyNumericRangeQuery). The element vocabulary is the CoreParser builder
registry (Lucene queryparser/xml/CoreParser.java, a published surface; Solr's
test shapes in solr/core/src/test/org/apache/solr/search/TestSolrCoreParser.java
and TestXmlQParserPlugin.java):

    TermQuery, TermsQuery, MatchAllDocsQuery, BooleanQuery/Clause@occurs,
    PointRangeQuery, LegacyNumericRangeQuery, ConstantScoreQuery,
    DisjunctionMaxQuery, UserQuery, SpanTerm, SpanOrTerms, SpanOr, SpanNear,
    SpanFirst, SpanNot(Include/Exclude), BoostingTermQuery.

This module parses that XML into a small AST and compiles it onto the engine's
existing executors instead of duplicating any matching logic:

  * filter semantics (`xml_query_docids`) — predicate-expressible subtrees
    become ONE Catalyst Column over the forward table (pushed to the parquet
    scan, exactly like query/parser.py fq predicates); span subtrees run the
    spans.span_matches kernel; mixed boolean nodes combine docid sets with
    left_semi / left_anti / union-distinct joins (the DocSet algebra role).
  * scored semantics (`xml_query_topk`) — term-shaped trees route to the
    BM25/WAND kernel (query/bm25.py) with occurs mapped to required /
    prohibited and non-scoring clauses lowered to a filter docid-set
    (the q+fq bitmap flow); DisjunctionMaxQuery maps to combine="dismax"
    with its tieBreaker; span trees route to spans.span_topk; UserQuery
    routes to the classic scored parser (query/scored.py).

Semantics pinned to Lucene's BooleanQuery contract: SHOULD clauses are
optional when a MUST/FILTER clause exists (they then only contribute score);
a should-only boolean requires at least one match; `filter` scores nothing.
The scored lowering scores only term clauses on the text field: a non-term
SHOULD clause (a range, an attribute term, a span) beside a MUST/FILTER
clause leaves the match set alone and its constant score is not modelled,
and a should-only boolean mixing term and non-term SHOULD clauses raises
(its match set is `xml_query_docids`'s).
A pure-negative boolean (mustNot clauses only) matches everything MINUS the
exclusions — Solr's top-level pure-negative rewrite (the `*:* AND -x` idiom
SolrQueryParserBase applies), not raw Lucene's empty match; pinned by the
random-tree property test.
`disableCoord` is accepted and ignored (BM25 has no coord factor — same as
Lucene 8+). BoostingTermQuery matches like a term; its payload *scoring*
surface lives in functions/payloads.py (payload_score), which the batch
pipeline applies as a rescoring stage.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.query import spans as S
from solr_spark.query.bm25 import IndexReader, bm25_topk, rank_topk

DEFAULT_FIELD = "text"


# ------------------------------------------------------------------------ AST

@dataclass(frozen=True)
class XTerm:
    field: str
    text: str
    boost: float = 1.0


@dataclass(frozen=True)
class XTerms:
    field: str
    text: str
    boost: float = 1.0


@dataclass(frozen=True)
class XMatchAll:
    boost: float = 1.0


@dataclass(frozen=True)
class XRange:
    field: str
    lower: object
    upper: object
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class XBool:
    clauses: tuple  # of (occur, node); occur in {"must","mustNot","should","filter"}
    boost: float = 1.0


@dataclass(frozen=True)
class XConst:
    inner: object
    boost: float = 1.0


@dataclass(frozen=True)
class XDisMax:
    clauses: tuple
    tie: float = 0.0
    boost: float = 1.0


@dataclass(frozen=True)
class XUser:
    text: str
    boost: float = 1.0


@dataclass(frozen=True)
class XSpan:
    node: object  # spans.py AST
    field: str = DEFAULT_FIELD
    boost: float = 1.0


_OCCURS = {"must", "mustNot", "should", "filter"}
_RANGE_TYPES = {"int": int, "long": int, "float": float, "double": float}


# -------------------------------------------------------------------- parsing

def _boost(el: ET.Element) -> float:
    return float(el.get("boost", "1.0"))


def _field(el: ET.Element, default_field: str) -> str:
    return el.get("fieldName", default_field)


def _text(el: ET.Element) -> str:
    return (el.text or "").strip()


def _num(el: ET.Element, attr: str, vtype):
    raw = el.get(attr)
    return None if raw is None or raw == "" else vtype(raw)


def parse_xml_query(xml: str, default_field: str = DEFAULT_FIELD,
                    config=None):
    """Parse an XML query string into the AST. Unknown elements raise
    ValueError — the analog of CoreParser's ParserException (loud, not a
    silent no-match)."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as e:
        raise ValueError(f"malformed XML query: {e}") from None
    return _parse_el(root, default_field, config)


def _parse_el(el: ET.Element, default_field: str, config):
    tag = el.tag
    if tag == "TermQuery":
        return XTerm(_field(el, default_field), _text(el), _boost(el))
    if tag == "TermsQuery":
        return XTerms(_field(el, default_field), _text(el), _boost(el))
    if tag == "MatchAllDocsQuery":
        return XMatchAll(_boost(el))
    if tag == "UserQuery":
        return XUser(_text(el), _boost(el))
    if tag == "ConstantScoreQuery":
        kids = list(el)
        if len(kids) != 1:
            raise ValueError("ConstantScoreQuery takes exactly one child query")
        return XConst(_parse_el(kids[0], default_field, config), _boost(el))
    if tag == "DisjunctionMaxQuery":
        clauses = tuple(_parse_el(c, default_field, config) for c in el)
        if not clauses:
            raise ValueError("DisjunctionMaxQuery needs at least one clause")
        return XDisMax(clauses, float(el.get("tieBreaker", "0.0")), _boost(el))
    if tag == "BooleanQuery":
        # per-element default field: BooleanQuery's fieldName flows to children
        bq_field = el.get("fieldName", default_field)
        clauses = []
        for c in el:
            if c.tag != "Clause":
                raise ValueError(
                    f"BooleanQuery children must be <Clause>, got <{c.tag}>")
            occur = c.get("occurs", "should")
            if occur not in _OCCURS:
                raise ValueError(
                    f"Clause occurs must be one of {sorted(_OCCURS)}, "
                    f"got {occur!r}")
            kids = list(c)
            if len(kids) != 1:
                raise ValueError("Clause takes exactly one child query")
            clauses.append((occur, _parse_el(kids[0], bq_field, config)))
        if not clauses:
            raise ValueError("BooleanQuery needs at least one Clause")
        return XBool(tuple(clauses), _boost(el))
    if tag in ("PointRangeQuery", "LegacyNumericRangeQuery"):
        vtype = _RANGE_TYPES.get(el.get("type", "int"))
        if vtype is None:
            raise ValueError(
                f"range type must be one of {sorted(_RANGE_TYPES)}, "
                f"got {el.get('type')!r}")
        fld = el.get("fieldName")
        if not fld:
            raise ValueError(f"{tag} requires fieldName")
        return XRange(
            fld,
            _num(el, "lowerTerm", vtype), _num(el, "upperTerm", vtype),
            el.get("includeLower", "true").lower() != "false",
            el.get("includeUpper", "true").lower() != "false",
            _boost(el))
    if tag in ("SpanTerm", "SpanOrTerms", "SpanOr", "SpanNear", "SpanFirst",
               "SpanNot", "BoostingTermQuery"):
        return XSpan(_parse_span(el, config), _field(el, default_field),
                     _boost(el))
    raise ValueError(f"unsupported XML query element <{tag}>")


def _parse_span(el: ET.Element, config):
    tag = el.tag
    if tag in ("SpanTerm", "BoostingTermQuery"):
        return S.span_term(_text(el), config)
    if tag == "SpanOrTerms":
        terms = analyze_text(_text(el), config) if config is not None \
            else analyze_text(_text(el))
        if not terms:
            raise ValueError("SpanOrTerms analyzed to zero terms")
        return S.SpanOr(*[S.SpanTerm(t) for t in terms])
    if tag == "SpanOr":
        return S.SpanOr(*[_parse_span(c, config) for c in el])
    if tag == "SpanNear":
        clauses = [_parse_span(c, config) for c in el]
        if not clauses:
            raise ValueError("SpanNear needs at least one clause")
        return S.SpanNear(clauses, slop=int(el.get("slop", "0")),
                          ordered=el.get("inOrder", "true").lower() != "false")
    if tag == "SpanFirst":
        kids = list(el)
        if len(kids) != 1:
            raise ValueError("SpanFirst takes exactly one child span")
        return S.SpanFirst(_parse_span(kids[0], config),
                           int(el.get("end", "1")))
    if tag == "SpanNot":
        inc = el.find("Include")
        exc = el.find("Exclude")
        if inc is None or exc is None:
            raise ValueError("SpanNot needs <Include> and <Exclude> children")
        return S.SpanNot(_parse_span(list(inc)[0], config),
                         _parse_span(list(exc)[0], config))
    raise ValueError(f"not a span element <{tag}>")


# ------------------------------------------------------------- filter compile

def _typed_lit(field: str, value: str):
    try:
        return F.lit(int(value))
    except ValueError:
        try:
            return F.lit(float(value))
        except ValueError:
            return F.lit(value)


def _term_predicate(field: str, text: str, config):
    """Term match as a Column over the forward table: analyzed-token
    word-boundary semantics on the default text field (exactly
    query/parser.py's text_fields contract, so fq and XML agree doc-for-doc),
    typed equality on stored attribute columns."""
    if field == DEFAULT_FIELD:
        terms = analyze_text(text, config) if config is not None \
            else analyze_text(text)
        if not terms:
            return F.lit(False)
        col = None
        for t in terms:  # multi-token input: all tokens must appear (Lucene
            c = F.col("text").rlike(rf"(^|\W){re.escape(t)}(\W|$)")
            col = c if col is None else (col & c)  # analyzer → BooleanQuery)
        return col
    return F.col(field) == _typed_lit(field, text)


def _compile_filter(node, spark, reader, config):
    """Recursive compile → ("col", Column) | ("ids", DataFrame(docid)).
    Columns stay fused into one pushed predicate as long as possible; only a
    span clause (needs the position kernel) forces docid-set algebra."""
    if isinstance(node, XTerm):
        return "col", _term_predicate(node.field, node.text, config)
    if isinstance(node, XTerms):
        if node.field == DEFAULT_FIELD:
            terms = analyze_text(node.text, config) if config is not None \
                else analyze_text(node.text)
            col = F.lit(False)
            for t in terms:  # TermsQuery = OR over the analyzed terms
                col = col | F.col("text").rlike(
                    rf"(^|\W){re.escape(t)}(\W|$)")
            return "col", col
        vals = [v for v in node.text.split() if v]
        if not vals:
            return "col", F.lit(False)
        return "col", F.col(node.field).isin(
            [_typed_lit(node.field, v) for v in vals])
    if isinstance(node, XMatchAll):
        return "col", F.lit(True)
    if isinstance(node, XRange):
        col = None
        if node.lower is not None:
            c = (F.col(node.field) >= F.lit(node.lower)) if node.include_lower \
                else (F.col(node.field) > F.lit(node.lower))
            col = c
        if node.upper is not None:
            c = (F.col(node.field) <= F.lit(node.upper)) if node.include_upper \
                else (F.col(node.field) < F.lit(node.upper))
            col = c if col is None else (col & c)
        return "col", (col if col is not None
                       else F.col(node.field).isNotNull())
    if isinstance(node, XConst):
        return _compile_filter(node.inner, spark, reader, config)
    if isinstance(node, XUser):
        from solr_spark.query.parser import LuceneQueryParser

        parser = LuceneQueryParser("text", {"text"})
        return "col", parser.parse(node.text)
    if isinstance(node, XDisMax):
        # match semantics of dismax = union of clause match sets
        return _combine_bool(
            [("should", c) for c in node.clauses], spark, reader, config)
    if isinstance(node, XBool):
        return _combine_bool(list(node.clauses), spark, reader, config)
    if isinstance(node, XSpan):
        return "ids", S.span_matches(spark, reader, node.node).select("docid")
    raise TypeError(f"not an XML query node: {node!r}")


def _ids_of(kind, val, fwd: DataFrame) -> DataFrame:
    return val if kind == "ids" else fwd.where(val).select("docid")


def _combine_bool(clauses, spark, reader, config):
    compiled = [(occ, *_compile_filter(n, spark, reader, config))
                for occ, n in clauses]
    has_required = any(occ in ("must", "filter") for occ, _, _ in compiled)
    # pure-Column fast path: ONE fused predicate, fully pushed to the scan
    if all(kind == "col" for _, kind, _ in compiled):
        req = [v for occ, _, v in compiled if occ in ("must", "filter")]
        neg = [v for occ, _, v in compiled if occ == "mustNot"]
        opt = [v for occ, _, v in compiled if occ == "should"]
        col = None
        for c in req:
            col = c if col is None else (col & c)
        if col is None:  # should-only boolean: at least one should matches
            for c in opt:
                col = c if col is None else (col | c)
        if col is None:
            col = F.lit(True)  # mustNot-only: matches everything minus exc
        for c in neg:
            col = col & ~F.coalesce(c, F.lit(False))
        return "col", col
    # mixed: lower everything to docid sets and run DocSet algebra
    fwd = reader.forward_text(spark)
    base = None
    for occ, kind, val in compiled:
        if occ in ("must", "filter"):
            ids = _ids_of(kind, val, fwd)
            base = ids if base is None else base.join(ids, "docid",
                                                      "left_semi")
    if base is None:  # should-only: union-distinct of the optional sets
        for occ, kind, val in compiled:
            if occ == "should":
                ids = _ids_of(kind, val, fwd)
                base = ids if base is None else base.unionByName(ids)
        base = base.distinct() if base is not None \
            else fwd.select("docid")
    for occ, kind, val in compiled:
        if occ == "mustNot":
            base = base.join(_ids_of(kind, val, fwd), "docid", "left_anti")
    return "ids", base


def xml_query_docids(spark: SparkSession, reader: IndexReader,
                     xml: str) -> DataFrame:
    """Filter (fq/DocSet) semantics: the docid set matching the XML query.
    Predicate-only trees compile to one pushed Column; span clauses run the
    position kernel; boolean mixes combine with semi/anti/union joins."""
    node = parse_xml_query(xml, config=reader.config)
    kind, val = _compile_filter(node, spark, reader, reader.config)
    if kind == "ids":
        return val
    return reader.forward_text(spark).where(val).select("docid")


# ------------------------------------------------------------- scored compile

def _is_termlike(n, config) -> bool:
    return (isinstance(n, (XTerm, XTerms)) and n.field == DEFAULT_FIELD
            and len(_analyzed(n, config)) >= 1)


def _analyzed(n, config) -> list[str]:
    return analyze_text(n.text, config) if config is not None \
        else analyze_text(n.text)


def _const_score_df(spark, reader, ids: DataFrame, boost: float,
                    k: int) -> DataFrame:
    """Every doc of `ids` scores `boost`, so the ranking is by docid."""
    return rank_topk(spark, reader, ids.select("docid").distinct()
                     .withColumn("score", F.lit(float(boost))), k)


def xml_query_topk(spark: SparkSession, reader: IndexReader, xml: str,
                   k: int = 10) -> DataFrame:
    """Scored retrieval for the XML dialect. Returns the engine's standard
    (conv_id, turn_idx, docid, score, rank) top-k contract, a local relation
    ranked by bm25.rank_topk.

    Dispatch: UserQuery → classic scored parser; span trees → span_topk;
    term/boolean trees → the BM25/WAND kernel with occurs lowered to
    required/prohibited and every non-scoring clause (filter occurs, ranges,
    attribute terms, spans, ConstantScoreQuery) folded into ONE filter
    docid-set riding the q+fq bitmap path; DisjunctionMaxQuery →
    combine="dismax" with its tieBreaker. ConstantScoreQuery/MatchAllDocs at
    the root score their boost as a constant."""
    cfg = reader.config
    node = parse_xml_query(xml, config=cfg)
    return _scored(node, spark, reader, k)


def _scored(node, spark: SparkSession, reader: IndexReader,
            k: int) -> DataFrame:
    cfg = reader.config
    if isinstance(node, XUser):
        from solr_spark.query.scored import scored_topk

        return scored_topk(spark, reader, node.text, k=k)
    if isinstance(node, XSpan):
        return S.span_topk(spark, reader, node.node, k=k)
    if isinstance(node, XMatchAll):
        return _const_score_df(
            spark, reader,
            reader.forward_text(spark).select("docid"), node.boost, k)
    if isinstance(node, XConst):
        ids = xml_ids_of_node(node.inner, spark, reader)
        return _const_score_df(spark, reader, ids, node.boost, k)
    if isinstance(node, (XTerm, XTerms)) and node.field == DEFAULT_FIELD:
        terms = _analyzed(node, cfg)
        boosts = {t: node.boost for t in terms} if node.boost != 1.0 else None
        return bm25_topk(spark, reader, " ".join(terms), k=k, boosts=boosts)
    if isinstance(node, XDisMax):
        if all(_is_termlike(c, cfg) for c in node.clauses):
            terms, boosts = [], {}
            for c in node.clauses:
                for t in _analyzed(c, cfg):
                    terms.append(t)
                    if c.boost != 1.0:
                        boosts[t] = c.boost
            return bm25_topk(spark, reader, " ".join(terms), k=k,
                             combine="dismax", tie=node.tie,
                             boosts=boosts or None)
        raise ValueError(
            "scored DisjunctionMaxQuery supports term clauses on the text "
            "field; lower other shapes through a BooleanQuery filter clause")
    if isinstance(node, XBool):
        scored_terms: list[str] = []
        required: list[str] = []
        prohibited: list[str] = []
        boosts: dict[str, float] = {}
        filter_parts: list = []   # (occur, node) lowered to docid sets
        for occ, c in node.clauses:
            if occ in ("should", "must") and _is_termlike(c, cfg):
                ts = _analyzed(c, cfg)
                scored_terms.extend(ts)
                # a must TermsQuery is a disjunction: its terms score, and
                # the at-least-one-of constraint rides the filter docid set
                if occ == "must" and isinstance(c, XTerms):
                    filter_parts.append(("must", c))
                elif occ == "must":
                    required.extend(ts)
                if c.boost != 1.0:
                    for t in ts:
                        boosts[t] = c.boost
            elif occ == "mustNot" and _is_termlike(c, cfg) \
                    and len(_analyzed(c, cfg)) == 1:
                prohibited.extend(_analyzed(c, cfg))
            else:
                filter_parts.append((occ, c))
        if not scored_terms:
            # no scoring clause: constant-score over the match set
            ids = xml_ids_of_node(node, spark, reader)
            return _const_score_df(spark, reader, ids, node.boost, k)
        if any(o == "should" for o, _ in filter_parts):
            if not any(o in ("must", "filter") for o, _ in node.clauses):
                raise ValueError(
                    "a should-only BooleanQuery mixing term and non-term "
                    "SHOULD clauses has no scored lowering (its match set is "
                    "the union of both kinds); use xml_query_docids for its "
                    "match set")
            # optional once a MUST/FILTER clause exists: they would only
            # add their constant score, which is not modelled
            filter_parts = [(o, n) for o, n in filter_parts if o != "should"]
        fids = None
        if filter_parts:
            kind, val = _combine_bool(filter_parts, spark, reader, cfg)
            fids = _ids_of(kind, val, reader.forward_text(spark))
        return bm25_topk(spark, reader, " ".join(scored_terms), k=k,
                         required=required or None,
                         prohibited=prohibited or None,
                         boosts=boosts or None,
                         filter_docids=fids)
    raise ValueError(
        f"no scored lowering for XML node {type(node).__name__}; "
        f"use xml_query_docids for filter semantics")


def xml_ids_of_node(node, spark: SparkSession,
                    reader: IndexReader) -> DataFrame:
    """Docid set of an already-parsed AST node (internal + test hook)."""
    kind, val = _compile_filter(node, spark, reader, reader.config)
    return val if kind == "ids" \
        else reader.forward_text(spark).where(val).select("docid")


# ---------------------------------------------------------- serving-tier twin

def xml_match_rows(tbl, xml_or_node, config=None):
    """Serving twin of `xml_query_docids`: a row-aligned numpy bool mask
    over a RESIDENT forward pandas table (columns: `text` = space-joined
    analyzed tokens, plus stored attribute columns) — same semantics,
    including the pure-negative rewrite, no Spark job. Span clauses
    prefilter candidates by required-term masks, then run the pure
    spans.span_eval per candidate doc. Feeds LocalSearcher.xml_filter_mask
    (the {!xml} fq on the serving tier)."""
    import numpy as np

    node = parse_xml_query(xml_or_node, config=config) \
        if isinstance(xml_or_node, str) else xml_or_node
    return _np_compile(node, tbl, config)


def _np_term(tbl, field, text, config):
    import numpy as np

    if field == DEFAULT_FIELD:
        terms = analyze_text(text, config) if config is not None \
            else analyze_text(text)
        if not terms:
            return np.zeros(len(tbl), dtype=bool)
        mask = np.ones(len(tbl), dtype=bool)
        s = tbl["text"].astype(str)
        for t in terms:
            mask &= s.str.contains(rf"(?:^|\W){re.escape(t)}(?:\W|$)",
                                   regex=True, na=False).to_numpy()
        return mask
    if field not in tbl.columns:
        raise ValueError(f"unknown field {field!r} "
                         f"(stored columns: {list(tbl.columns)})")
    try:
        val = int(text)
    except ValueError:
        try:
            val = float(text)
        except ValueError:
            val = text
    return (tbl[field] == val).to_numpy()


def _np_compile(node, tbl, config):
    import numpy as np

    n = len(tbl)
    if isinstance(node, XTerm):
        return _np_term(tbl, node.field, node.text, config)
    if isinstance(node, XTerms):
        if node.field == DEFAULT_FIELD:
            terms = analyze_text(node.text, config) if config is not None \
                else analyze_text(node.text)
            mask = np.zeros(n, dtype=bool)
            s = tbl["text"].astype(str)
            for t in terms:
                mask |= s.str.contains(rf"(?:^|\W){re.escape(t)}(?:\W|$)",
                                       regex=True, na=False).to_numpy()
            return mask
        mask = np.zeros(n, dtype=bool)
        for v in node.text.split():
            mask |= _np_term(tbl, node.field, v, config)
        return mask
    if isinstance(node, XMatchAll):
        return np.ones(n, dtype=bool)
    if isinstance(node, XRange):
        import pandas as pd

        s = pd.to_numeric(tbl[node.field], errors="coerce")
        mask = np.ones(n, dtype=bool)
        if node.lower is not None:
            mask &= ((s >= node.lower) if node.include_lower
                     else (s > node.lower)).to_numpy()
        if node.upper is not None:
            mask &= ((s <= node.upper) if node.include_upper
                     else (s < node.upper)).to_numpy()
        if node.lower is None and node.upper is None:
            mask &= s.notna().to_numpy()
        return mask
    if isinstance(node, XConst):
        return _np_compile(node.inner, tbl, config)
    if isinstance(node, XUser):
        from solr_spark.query.local import _PandasFilterEvaluator

        return _PandasFilterEvaluator(tbl).parse(node.text)
    if isinstance(node, XDisMax):
        mask = np.zeros(n, dtype=bool)
        for c in node.clauses:
            mask |= _np_compile(c, tbl, config)
        return mask
    if isinstance(node, XBool):
        req = [_np_compile(c, tbl, config) for o, c in node.clauses
               if o in ("must", "filter")]
        neg = [_np_compile(c, tbl, config) for o, c in node.clauses
               if o == "mustNot"]
        opt = [_np_compile(c, tbl, config) for o, c in node.clauses
               if o == "should"]
        if req:
            mask = req[0].copy()
            for m in req[1:]:
                mask &= m
        elif opt:
            mask = np.zeros(n, dtype=bool)
            for m in opt:
                mask |= m
        else:  # pure-negative rewrite (*:* AND -x)
            mask = np.ones(n, dtype=bool)
        for m in neg:
            mask &= ~m
        return mask
    if isinstance(node, XSpan):
        terms = sorted(S._all_terms(node.node))
        # candidate prefilter: per required group, any member term present
        cand = np.ones(n, dtype=bool)
        s = tbl["text"].astype(str)
        for group in S._required_groups(node.node):
            gm = np.zeros(n, dtype=bool)
            for t in sorted(group):
                gm |= s.str.contains(rf"(?:^|\W){re.escape(t)}(?:\W|$)",
                                     regex=True, na=False).to_numpy()
            cand &= gm
        mask = np.zeros(n, dtype=bool)
        texts = tbl["text"].to_numpy()
        tset = set(terms)
        for i in np.flatnonzero(cand):
            positions: dict = {}
            for p, tok in enumerate(str(texts[i]).split(" ")):
                if tok in tset:
                    positions.setdefault(tok, []).append(p)
            if S.span_eval(node.node, positions):
                mask[i] = True
        return mask
    raise TypeError(f"not an XML query node: {node!r}")
