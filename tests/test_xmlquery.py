"""`{!xml}` query parser (XmlQParserPlugin / Lucene CoreParser dialect).

Reference surface: solr/core/src/java/org/apache/solr/search/XmlQParserPlugin.java,
SolrCoreParser.java (CoreParser + LegacyNumericRangeQuery builder), test shapes
TestSolrCoreParser.java / TestXmlQParserPlugin.java.
"""

from __future__ import annotations

import pytest

from solr_spark.query.xmlquery import (
    XBool,
    XConst,
    XDisMax,
    XMatchAll,
    XRange,
    XSpan,
    XTerm,
    XTerms,
    XUser,
    parse_xml_query,
    xml_query_docids,
    xml_query_topk,
)

# --------------------------------------------------------------------- parsing


def test_parse_term_and_terms():
    t = parse_xml_query('<TermQuery fieldName="lang">en</TermQuery>')
    assert t == XTerm("lang", "en", 1.0)
    t2 = parse_xml_query('<TermQuery boost="2.5">fast</TermQuery>')
    assert t2 == XTerm("text", "fast", 2.5)
    ts = parse_xml_query("<TermsQuery>fast slow</TermsQuery>")
    assert ts == XTerms("text", "fast slow", 1.0)


def test_parse_boolean_and_occurs():
    q = parse_xml_query(
        "<BooleanQuery>"
        '<Clause occurs="must"><TermQuery>fast</TermQuery></Clause>'
        '<Clause occurs="mustNot"><TermQuery>slow</TermQuery></Clause>'
        "<Clause><TermQuery>scan</TermQuery></Clause>"
        "</BooleanQuery>")
    assert isinstance(q, XBool)
    assert [o for o, _ in q.clauses] == ["must", "mustNot", "should"]
    # fieldName on the BooleanQuery flows to children (CoreParser contract)
    q2 = parse_xml_query(
        '<BooleanQuery fieldName="lang">'
        "<Clause><TermQuery>en</TermQuery></Clause></BooleanQuery>")
    assert q2.clauses[0][1].field == "lang"


def test_parse_ranges():
    r = parse_xml_query(
        '<PointRangeQuery fieldName="size" type="long" '
        'lowerTerm="10" upperTerm="99"/>')
    assert r == XRange("size", 10, 99, True, True, 1.0)
    r2 = parse_xml_query(
        '<LegacyNumericRangeQuery fieldName="size" type="int" '
        'lowerTerm="10" upperTerm="99" includeLower="false" '
        'includeUpper="false"/>')
    assert r2 == XRange("size", 10, 99, False, False, 1.0)
    # open upper bound
    r3 = parse_xml_query(
        '<PointRangeQuery fieldName="size" type="double" lowerTerm="1.5"/>')
    assert r3.lower == 1.5 and r3.upper is None


def test_parse_wrappers_and_spans():
    c = parse_xml_query(
        '<ConstantScoreQuery boost="3"><MatchAllDocsQuery/>'
        "</ConstantScoreQuery>")
    assert c == XConst(XMatchAll(1.0), 3.0)
    d = parse_xml_query(
        '<DisjunctionMaxQuery tieBreaker="0.3">'
        "<TermQuery>fast</TermQuery><TermQuery>slow</TermQuery>"
        "</DisjunctionMaxQuery>")
    assert isinstance(d, XDisMax) and d.tie == 0.3 and len(d.clauses) == 2
    u = parse_xml_query("<UserQuery>fast AND scan</UserQuery>")
    assert u == XUser("fast AND scan", 1.0)

    from solr_spark.query.spans import (SpanFirst, SpanNear, SpanNot, SpanOr,
                                        SpanTerm)

    s = parse_xml_query(
        '<SpanNear slop="2" inOrder="true">'
        "<SpanOrTerms>fast slow</SpanOrTerms><SpanTerm>scan</SpanTerm>"
        "</SpanNear>")
    assert isinstance(s, XSpan)
    assert s.node == SpanNear(
        [SpanOr(SpanTerm("fast"), SpanTerm("slow")), SpanTerm("scan")],
        slop=2, ordered=True)
    sf = parse_xml_query('<SpanFirst end="2"><SpanTerm>fast</SpanTerm>'
                         "</SpanFirst>")
    assert sf.node == SpanFirst(SpanTerm("fast"), 2)
    sn = parse_xml_query(
        "<SpanNot><Include><SpanTerm>fast</SpanTerm></Include>"
        "<Exclude><SpanTerm>slow</SpanTerm></Exclude></SpanNot>")
    assert sn.node == SpanNot(SpanTerm("fast"), SpanTerm("slow"))
    bt = parse_xml_query("<BoostingTermQuery>fast</BoostingTermQuery>")
    assert bt.node == SpanTerm("fast")


def test_parse_errors_are_loud():
    with pytest.raises(ValueError, match="unsupported XML query element"):
        parse_xml_query("<NoSuchQuery/>")
    with pytest.raises(ValueError, match="malformed XML"):
        parse_xml_query("<TermQuery>unclosed")
    with pytest.raises(ValueError, match="occurs"):
        parse_xml_query('<BooleanQuery><Clause occurs="nope">'
                        "<TermQuery>x</TermQuery></Clause></BooleanQuery>")
    with pytest.raises(ValueError, match="range type"):
        parse_xml_query('<PointRangeQuery fieldName="x" type="decimal" '
                        'lowerTerm="1"/>')
    with pytest.raises(ValueError, match="exactly one child"):
        parse_xml_query("<ConstantScoreQuery><MatchAllDocsQuery/>"
                        "<MatchAllDocsQuery/></ConstantScoreQuery>")


def test_span_first_eval_vector():
    from solr_spark.query.spans import SpanFirst, SpanTerm, span_eval

    pos = {"a": [0, 3]}  # doc "a b c a"
    assert span_eval(SpanFirst(SpanTerm("a"), 1), pos) == [(0, 1)]
    assert span_eval(SpanFirst(SpanTerm("a"), 4), pos) == [(0, 1), (3, 4)]


# ------------------------------------------------------------------ end-to-end

DOCS = {
    # conv_id -> (text, size)
    "d1": ("fast scan runs merge", 10),
    "d2": ("slow x x scan", 20),
    "d3": ("scan fast", 30),
    "d4": ("fast x x x x scan", 40),
    "d5": ("merge join vector", 50),
    "d6": ("fast merge vector scan", 60),
}


@pytest.fixture(scope="module")
def xml_reader(spark, tmp_path_factory):
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader

    rows = [(cid, 0, "u", t, None, None, s)
            for cid, (t, s) in sorted(DOCS.items())]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp, size long")
    cfg = IndexConfig(range_shift=8, num_term_buckets=4, stopwords="none",
                      lucene_norms=False)
    index_dir = str(tmp_path_factory.mktemp("xmlidx"))
    build_index(spark, src, index_dir, cfg, input_token="xml-fixture",
                stored_cols=("size",))
    return IndexReader.open(index_dir, cfg)


def _ids(spark, reader, xml):
    out = xml_query_docids(spark, reader, xml)
    fwd = reader.forward(spark).select("docid", "conv_id")
    return {r.conv_id
            for r in fwd.join(out, "docid", "left_semi").collect()}


def test_docids_term_terms_matchall(spark, xml_reader):
    assert _ids(spark, xml_reader, "<TermQuery>fast</TermQuery>") == \
        {"d1", "d3", "d4", "d6"}
    # TermsQuery = OR of analyzed terms
    assert _ids(spark, xml_reader, "<TermsQuery>slow join</TermsQuery>") == \
        {"d2", "d5"}
    assert _ids(spark, xml_reader, "<MatchAllDocsQuery/>") == set(DOCS)
    # attribute-field term = typed equality
    assert _ids(spark, xml_reader,
                '<TermQuery fieldName="size">20</TermQuery>') == {"d2"}


def test_docids_boolean_semantics(spark, xml_reader):
    # should-only: OR
    q = ("<BooleanQuery><Clause><TermQuery>slow</TermQuery></Clause>"
         "<Clause><TermQuery>join</TermQuery></Clause></BooleanQuery>")
    assert _ids(spark, xml_reader, q) == {"d2", "d5"}
    # must + should: should optional once a must exists (Lucene contract)
    q = ("<BooleanQuery>"
         '<Clause occurs="must"><TermQuery>scan</TermQuery></Clause>'
         "<Clause><TermQuery>join</TermQuery></Clause></BooleanQuery>")
    assert _ids(spark, xml_reader, q) == {"d1", "d2", "d3", "d4", "d6"}
    # mustNot
    q = ("<BooleanQuery>"
         '<Clause occurs="must"><TermQuery>fast</TermQuery></Clause>'
         '<Clause occurs="mustNot"><TermQuery>merge</TermQuery></Clause>'
         "</BooleanQuery>")
    assert _ids(spark, xml_reader, q) == {"d3", "d4"}
    # filter range, inclusive vs exclusive bounds
    q = ("<BooleanQuery>"
         '<Clause occurs="must"><TermQuery>fast</TermQuery></Clause>'
         '<Clause occurs="filter"><PointRangeQuery fieldName="size" '
         'type="long" lowerTerm="10" upperTerm="40"/></Clause>'
         "</BooleanQuery>")
    assert _ids(spark, xml_reader, q) == {"d1", "d3", "d4"}
    q = q.replace('upperTerm="40"/>', 'upperTerm="40" includeUpper="false"/>')
    assert _ids(spark, xml_reader, q) == {"d1", "d3"}


def test_docids_user_and_spans(spark, xml_reader):
    assert _ids(spark, xml_reader,
                "<UserQuery>fast AND merge</UserQuery>") == {"d1", "d6"}
    # span near with or-clause: identical semantics to the surround family
    q = ('<SpanNear slop="2" inOrder="true">'
         "<SpanOrTerms>fast slow</SpanOrTerms><SpanTerm>scan</SpanTerm>"
         "</SpanNear>")
    assert _ids(spark, xml_reader, q) == {"d1", "d2", "d6"}
    # SpanFirst: 'scan' span must END by position 2 (positions 0/1)
    q = '<SpanFirst end="2"><SpanTerm>scan</SpanTerm></SpanFirst>'
    assert _ids(spark, xml_reader, q) == {"d1", "d3"}
    # boolean mixing a span clause with a predicate clause (DocSet algebra)
    q = ("<BooleanQuery>"
         '<Clause occurs="must"><SpanNear slop="0" inOrder="true">'
         "<SpanTerm>fast</SpanTerm><SpanTerm>scan</SpanTerm></SpanNear>"
         "</Clause>"
         '<Clause occurs="mustNot"><TermQuery>merge</TermQuery></Clause>'
         "</BooleanQuery>")
    # only d1 has 'fast scan' adjacent, and d1 contains 'merge' -> empty
    assert _ids(spark, xml_reader, q) == set()
    q = q.replace("merge", "join")
    assert _ids(spark, xml_reader, q) == {"d1"}


def test_scored_bool_matches_classic_parser(spark, xml_reader):
    """The XML BooleanQuery and the classic `fast merge +scan -vector` must
    produce the identical scored top-k (same kernel, same occurs
    lowering)."""
    from solr_spark.query.scored import scored_topk

    xml = ("<BooleanQuery>"
           "<Clause><TermQuery>fast</TermQuery></Clause>"
           "<Clause><TermQuery>merge</TermQuery></Clause>"
           '<Clause occurs="must"><TermQuery>scan</TermQuery></Clause>'
           '<Clause occurs="mustNot"><TermQuery>vector</TermQuery></Clause>'
           "</BooleanQuery>")
    got = [(r.conv_id, round(r.score, 9))
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()]
    want = [(r.conv_id, round(r.score, 9))
            for r in scored_topk(spark, xml_reader,
                                 "fast merge +scan -vector", k=10).collect()]
    assert got == want and got  # non-empty


def test_scored_filter_clause(spark, xml_reader):
    """A filter-occurs range narrows the scored result without touching
    scores (the q+fq contract)."""
    xml_nofilter = ("<BooleanQuery>"
                    "<Clause><TermQuery>fast</TermQuery></Clause>"
                    "</BooleanQuery>")
    xml = ("<BooleanQuery>"
           "<Clause><TermQuery>fast</TermQuery></Clause>"
           '<Clause occurs="filter"><PointRangeQuery fieldName="size" '
           'type="long" lowerTerm="30" upperTerm="60"/></Clause>'
           "</BooleanQuery>")
    base = {r.conv_id: r.score
            for r in xml_query_topk(spark, xml_reader, xml_nofilter,
                                    k=10).collect()}
    got = {r.conv_id: r.score
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()}
    assert set(got) == {"d3", "d4", "d6"}
    for cid, s in got.items():
        assert s == pytest.approx(base[cid], abs=1e-12)


def test_scored_text_field_filter_clause(spark, xml_reader):
    """A filter-occurs clause on the text field narrows the scored result
    by analyzed tokens without touching scores: the clause compiles against
    the forward table's `text` column."""
    xml_nofilter = ("<BooleanQuery>"
                    "<Clause><TermQuery>fast</TermQuery></Clause>"
                    "</BooleanQuery>")
    xml = ("<BooleanQuery>"
           "<Clause><TermQuery>fast</TermQuery></Clause>"
           '<Clause occurs="filter"><TermQuery>merge</TermQuery></Clause>'
           "</BooleanQuery>")
    base = {r.conv_id: r.score
            for r in xml_query_topk(spark, xml_reader, xml_nofilter,
                                    k=10).collect()}
    got = {r.conv_id: r.score
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()}
    assert set(got) == {"d1", "d6"}
    for cid, s in got.items():
        assert s == pytest.approx(base[cid], abs=1e-12)


def test_scored_must_terms_query_is_a_disjunction(spark, xml_reader):
    """A must TermsQuery requires ANY of its analyzed terms, not all of
    them: the scored match set equals the filter compiler's docid set, and
    every term still scores."""
    from solr_spark.query.bm25 import bm25_topk

    xml = ("<BooleanQuery>"
           '<Clause occurs="must"><TermsQuery>slow join</TermsQuery></Clause>'
           "<Clause><TermQuery>fast</TermQuery></Clause>"
           "</BooleanQuery>")
    got = {r.conv_id: r.score
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()}
    assert set(got) == _ids(spark, xml_reader, xml) == {"d2", "d5"}
    base = {r.conv_id: r.score
            for r in bm25_topk(spark, xml_reader, "slow join fast",
                               k=10).collect()}
    for cid, s in got.items():
        assert s == pytest.approx(base[cid], abs=1e-12)


def test_scored_non_term_should_is_optional(spark, xml_reader):
    """A non-term SHOULD clause beside a MUST clause is optional: the scored
    match set equals the filter compiler's, and the term clause's scores
    are untouched."""
    xml = ("<BooleanQuery>"
           '<Clause occurs="must"><TermQuery>fast</TermQuery></Clause>'
           '<Clause occurs="should"><PointRangeQuery fieldName="size" '
           'type="long" lowerTerm="35" upperTerm="70"/></Clause>'
           "</BooleanQuery>")
    got = {r.conv_id: r.score
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()}
    assert set(got) == _ids(spark, xml_reader, xml) == {"d1", "d3", "d4", "d6"}
    base = {r.conv_id: r.score
            for r in xml_query_topk(spark, xml_reader,
                                    "<TermQuery>fast</TermQuery>",
                                    k=10).collect()}
    assert got == pytest.approx(base, abs=1e-12)


def test_scored_should_only_mixed_clauses_raise(spark, xml_reader):
    """A should-only boolean mixing a term and a non-term SHOULD clause
    matches their union; the scored path cannot lower that and says so
    rather than intersecting."""
    xml = ("<BooleanQuery>"
           "<Clause><TermQuery>slow</TermQuery></Clause>"
           '<Clause><PointRangeQuery fieldName="size" type="long" '
           'lowerTerm="55" upperTerm="70"/></Clause>'
           "</BooleanQuery>")
    with pytest.raises(ValueError, match="xml_query_docids"):
        xml_query_topk(spark, xml_reader, xml, k=10)
    assert _ids(spark, xml_reader, xml) == {"d2", "d6"}


def test_scored_dismax_and_constant(spark, xml_reader):
    from solr_spark.query.bm25 import bm25_topk

    xml = ('<DisjunctionMaxQuery tieBreaker="0.4">'
           "<TermQuery>fast</TermQuery><TermQuery>merge</TermQuery>"
           "</DisjunctionMaxQuery>")
    got = [(r.conv_id, round(r.score, 9))
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()]
    want = [(r.conv_id, round(r.score, 9))
            for r in bm25_topk(spark, xml_reader, "fast merge", k=10,
                               combine="dismax", tie=0.4).collect()]
    assert got == want and got

    xml = ('<ConstantScoreQuery boost="2.5">'
           "<TermQuery>fast</TermQuery></ConstantScoreQuery>")
    rows = xml_query_topk(spark, xml_reader, xml, k=10).collect()
    assert {r.conv_id for r in rows} == {"d1", "d3", "d4", "d6"}
    assert all(r.score == 2.5 for r in rows)


def test_scored_span_and_user(spark, xml_reader):
    from solr_spark.query.spans import SpanNear, SpanOr, SpanTerm, span_topk

    xml = ('<SpanNear slop="2" inOrder="true">'
           "<SpanOrTerms>fast slow</SpanOrTerms><SpanTerm>scan</SpanTerm>"
           "</SpanNear>")
    got = [(r.conv_id, round(r.score, 9))
           for r in xml_query_topk(spark, xml_reader, xml, k=10).collect()]
    ast = SpanNear([SpanOr(SpanTerm("fast"), SpanTerm("slow")),
                    SpanTerm("scan")], slop=2, ordered=True)
    want = [(r.conv_id, round(r.score, 9))
            for r in span_topk(spark, xml_reader, ast, k=10).collect()]
    assert got == want and got


def test_random_boolean_trees_match_bruteforce(spark, xml_reader):
    """Property check: random BooleanQuery trees over the fixture terms —
    xml_query_docids must agree with a brute-force Python evaluation of the
    Lucene boolean contract on every doc."""
    import random

    rng = random.Random(20260821)
    TERMS = ["fast", "slow", "scan", "merge", "join", "vector", "runs"]
    docs_tokens = {cid: set(t.split()) for cid, (t, _s) in DOCS.items()}

    def gen(depth):
        if depth == 0 or rng.random() < 0.4:
            return ("term", rng.choice(TERMS))
        n = rng.randint(1, 3)
        occurs = [rng.choice(["must", "mustNot", "should", "filter"])
                  for _ in range(n)]
        return ("bool", list(zip(occurs, [gen(depth - 1) for _ in range(n)])))

    def to_xml(node):
        if node[0] == "term":
            return f"<TermQuery>{node[1]}</TermQuery>"
        inner = "".join(
            f'<Clause occurs="{o}">{to_xml(c)}</Clause>'
            for o, c in node[1])
        return f"<BooleanQuery>{inner}</BooleanQuery>"

    def ev(node, toks):
        if node[0] == "term":
            return node[1] in toks
        req = [ev(c, toks) for o, c in node[1] if o in ("must", "filter")]
        neg = [ev(c, toks) for o, c in node[1] if o == "mustNot"]
        opt = [ev(c, toks) for o, c in node[1] if o == "should"]
        if req:
            ok = all(req)
        elif opt:
            ok = any(opt)
        else:
            ok = True  # mustNot-only: everything minus the exclusions
        return ok and not any(neg)

    for _ in range(12):
        tree = gen(2)
        want = {cid for cid, toks in docs_tokens.items() if ev(tree, toks)}
        got = _ids(spark, xml_reader, to_xml(tree))
        assert got == want, to_xml(tree)


def test_serving_xml_filter_mask_parity(spark, xml_reader):
    """LocalSearcher.xml_filter_mask: the serving twin must produce the
    SAME docid set as the batch xml_query_docids for every query shape —
    terms, attribute ranges, booleans (incl. pure-negative), UserQuery,
    spans, and mixes; and the mask plugs into search(filter_mask=...)."""
    import numpy as np

    from solr_spark.query import LocalSearcher

    ls = LocalSearcher(xml_reader)
    shapes = [
        "<TermQuery>fast</TermQuery>",
        "<TermsQuery>slow join</TermsQuery>",
        '<TermQuery fieldName="size">20</TermQuery>',
        '<PointRangeQuery fieldName="size" type="long" lowerTerm="15" '
        'upperTerm="45"/>',
        "<UserQuery>fast AND merge</UserQuery>",
        "<BooleanQuery>"
        '<Clause occurs="must"><TermQuery>fast</TermQuery></Clause>'
        '<Clause occurs="mustNot"><TermQuery>merge</TermQuery></Clause>'
        "</BooleanQuery>",
        "<BooleanQuery>"
        '<Clause occurs="mustNot"><TermQuery>scan</TermQuery></Clause>'
        "</BooleanQuery>",
        '<SpanNear slop="2" inOrder="true">'
        "<SpanOrTerms>fast slow</SpanOrTerms><SpanTerm>scan</SpanTerm>"
        "</SpanNear>",
        '<SpanFirst end="2"><SpanTerm>scan</SpanTerm></SpanFirst>',
        "<BooleanQuery>"
        '<Clause occurs="must"><SpanNear slop="0" inOrder="true">'
        "<SpanTerm>fast</SpanTerm><SpanTerm>scan</SpanTerm></SpanNear>"
        "</Clause>"
        '<Clause occurs="filter"><PointRangeQuery fieldName="size" '
        'type="long" lowerTerm="0" upperTerm="30"/></Clause>'
        "</BooleanQuery>",
    ]
    for xml in shapes:
        want = {r.docid for r in
                xml_query_docids(spark, xml_reader, xml).collect()}
        mask = ls.xml_filter_mask(xml)
        got = set(np.flatnonzero(mask).tolist())
        assert got == want, xml
    # the mask IS a search() filter DocSet
    hits = ls.search("fast scan", k=10,
                     filter_mask=ls.xml_filter_mask(
                         '<TermQuery fieldName="size">10</TermQuery>'))
    assert [h["conv_id"] for h in hits] == ["d1"]
