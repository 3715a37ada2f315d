"""edismax (qf / tie / mm / pf) rank+score identity vs a pure-Python twin.

Mirrors the reference's ExtendedDismaxQParser contract (reference:
solr/core/src/java/org/apache/solr/search/ExtendedDismaxQParser.java:66;
tests core/src/test/org/apache/solr/search/TestExtendedDismaxParser.java):
per-term DisjunctionMaxQuery over qf fields with tie-breaking, BooleanQuery
minShouldMatch over distinct terms, pf phrase clauses with idf = sum of
member-term idfs.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.config import IndexConfig
from solr_spark.indexing import build_index
from solr_spark.oracle.reference import _small_float_quantize
from solr_spark.query.bm25 import IndexReader
from solr_spark.query.edismax import edismax_topk

CFG = IndexConfig(range_shift=8, num_term_buckets=16)


@pytest.fixture(scope="module")
def title_index(spark, small_corpus, tmp_path_factory):
    """Second field: 'title' := first 3 raw whitespace tokens of text."""
    index_dir = str(tmp_path_factory.mktemp("title_index"))
    titled = small_corpus.withColumn(
        "text",
        F.array_join(
            F.slice(F.split(F.coalesce("text", F.lit("")), " "), 1, 3), " "))
    build_index(spark, titled, index_dir, CFG, input_token="synth-title-1k")
    return index_dir


def _twin(small_corpus_pdf, query, qf, tie, mm, pf_weight):
    keys = sorted((r.conv_id, int(r.turn_idx), r.text)
                  for r in small_corpus_pdf.itertuples(index=False))
    qterms = analyze_text(query, CFG)
    toks = {}
    for fname in qf:
        toks[fname] = []
        for _c, _t, text in keys:
            raw = text or ""
            if fname == "title":
                raw = " ".join(raw.split(" ")[:3])
            toks[fname].append(analyze_text(raw, CFG))
    n = len(keys)
    stats = {}
    for fname, docs in toks.items():
        dls = [len(t) for t in docs]
        avgdl = sum(dls) / n
        df = {}
        for t in set(qterms):
            df[t] = sum(1 for d in docs if t in d)
        stats[fname] = (dls, avgdl, df)

    def bm25(fname, docid, term):
        docs = toks[fname]
        dls, avgdl, df = stats[fname]
        tf = docs[docid].count(term)
        if tf == 0 or df[term] == 0:
            return None
        idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
        dlq = _small_float_quantize(dls[docid])
        return idf * tf / (tf + CFG.k1 * (1 - CFG.b + CFG.b * dlq / avgdl))

    out = {}
    for docid in range(n):
        total, matched = 0.0, 0
        for term in sorted(set(qterms)):
            cs = [qf[f] * s for f in qf
                  if (s := bm25(f, docid, term)) is not None]
            if not cs:
                continue
            matched += 1
            total += max(cs) + tie * (sum(cs) - max(cs))
        if matched >= mm and matched > 0:
            out[docid] = total
    if pf_weight and len(qterms) >= 2:
        dls, avgdl, df = stats["text"]
        idf_sum = sum(
            math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            for t in qterms) if all(df[t] for t in qterms) else None
        if idf_sum is not None:
            for docid in list(out):
                d = toks["text"][docid]
                pfreq = sum(
                    1 for i in range(len(d) - len(qterms) + 1)
                    if d[i:i + len(qterms)] == qterms)
                if pfreq:
                    dlq = _small_float_quantize(dls[docid])
                    out[docid] += (pf_weight * idf_sum * pfreq
                                   / (pfreq + CFG.k1
                                      * (1 - CFG.b + CFG.b * dlq / avgdl)))
    return sorted(out.items(), key=lambda x: (-x[1], x[0]))


def _run(spark, built_index, title_index, **kw):
    readers = {"text": IndexReader.open(built_index[0], CFG),
               "title": IndexReader.open(title_index, CFG)}
    return edismax_topk(spark, readers, kw.pop("query"), **kw).collect()


def test_edismax_qf_tie_matches_twin(spark, built_index, title_index,
                                     small_corpus_pdf):
    qf = {"text": 1.0, "title": 2.0}
    got = _run(spark, built_index, title_index, query="error timeout",
               qf=qf, k=15, tie=0.3)
    want = _twin(small_corpus_pdf, "error timeout", qf, 0.3, 1, 0.0)[:15]
    assert [(r.docid, round(r.score, 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]


def test_edismax_mm_filters(spark, built_index, title_index, small_corpus_pdf):
    qf = {"text": 1.0, "title": 2.0}
    got = _run(spark, built_index, title_index, query="error timeout",
               qf=qf, k=2000, tie=0.0, min_match=2)
    want = _twin(small_corpus_pdf, "error timeout", qf, 0.0, 2, 0.0)[:2000]
    assert [(r.docid, round(r.score, 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]
    # mm=2 result set is a strict subset of mm=1's
    loose = _run(spark, built_index, title_index, query="error timeout",
                 qf=qf, k=2000, tie=0.0, min_match=1)
    assert {r.docid for r in got} < {r.docid for r in loose}


def test_edismax_pf_phrase_boost(spark, built_index, title_index,
                                 small_corpus_pdf):
    qf = {"text": 1.0, "title": 2.0}
    got = _run(spark, built_index, title_index, query="error timeout",
               qf=qf, k=15, tie=0.1, pf={"text": 1.5})
    want = _twin(small_corpus_pdf, "error timeout", qf, 0.1, 1, 1.5)[:15]
    assert [(r.docid, round(r.score, 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]
    # the boost must actually move something vs the unboosted ranking
    plain = _run(spark, built_index, title_index, query="error timeout",
                 qf=qf, k=15, tie=0.1)
    assert [(r.docid, round(r.score, 9)) for r in got] != \
        [(r.docid, round(r.score, 9)) for r in plain]


def test_edismax_single_field_reduces_to_weighted_bm25(spark, built_index):
    """qf={text: 3.0}, tie irrelevant -> 3x the plain BM25 scores, same ranks."""
    from solr_spark.query.bm25 import bm25_topk

    reader = IndexReader.open(built_index[0], CFG)
    got = edismax_topk(spark, {"text": reader}, "error timeout",
                       {"text": 3.0}, k=10, tie=0.7).collect()
    base = bm25_topk(spark, reader, "error timeout", k=10).collect()
    assert [r.docid for r in got] == [r.docid for r in base]
    for g, b in zip(got, base):
        assert g.score == pytest.approx(3.0 * b.score, rel=1e-12)


def test_edismax_absent_terms(spark, built_index, title_index):
    got = _run(spark, built_index, title_index, query="zzznope qqqnada",
               qf={"text": 1.0, "title": 2.0}, k=10)
    assert got == []


def test_edismax_bf_boost_functions(spark, built_index):
    """bf adds, boost multiplies, nesting (main + bf) * boost; missing docids
    fall back to bf=0 / boost=1; a boost can promote a doc from outside the
    unboosted top-k."""
    reader = IndexReader.open(built_index[0], CFG)
    base = edismax_topk(spark, {"text": reader}, "error timeout",
                        {"text": 1.0}, k=5).collect()
    assert base
    ids = [r.docid for r in base]
    # bf only on the second-ranked doc, big enough to flip ranks 1/2
    delta = base[0].score - base[1].score + 1.0
    bf = spark.createDataFrame([(ids[1], delta)], "docid long, bf double")
    got = edismax_topk(spark, {"text": reader}, "error timeout",
                       {"text": 1.0}, k=5, bf=bf).collect()
    assert got[0].docid == ids[1]
    assert got[0].score == pytest.approx(base[1].score + delta, rel=1e-12)
    assert got[1].score == pytest.approx(base[0].score, rel=1e-12)
    # multiplicative boost: halve the top doc -> it drops below second
    boost = spark.createDataFrame([(ids[0], 0.0)], "docid long, boost double")
    got2 = edismax_topk(spark, {"text": reader}, "error timeout",
                        {"text": 1.0}, k=5, boost=boost).collect()
    assert ids[0] not in [r.docid for r in got2[:2]]
    # nesting: bf applies before the boost product
    both = edismax_topk(spark, {"text": reader}, "error timeout",
                        {"text": 1.0}, k=5,
                        bf=bf, boost=spark.createDataFrame(
                            [(ids[1], 2.0)], "docid long, boost double")
                        ).collect()
    assert both[0].docid == ids[1]
    assert both[0].score == pytest.approx(2.0 * (base[1].score + delta),
                                          rel=1e-12)


def test_pf2_pf3_shingled_phrase_boosts(spark, tmp_path):
    """ExtendedDismaxQParser pf2/pf3 (addShingledPhraseQueries): adjacent
    bigram/trigram phrase boosts; a doc with only a bigram of the query
    gets boosted by pf2 but not pf."""
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query import IndexReader
    from solr_spark.query.edismax import edismax_topk

    cfg = IndexConfig(range_shift=8, num_term_buckets=8)
    rows = [
        (f"{i}", 0, "user", f"filler{i} text body", None, None)
        for i in range(8)
    ] + [
        ("100", 0, "user", "alpha beta gamma here", None, None),  # full phrase
        ("101", 0, "user", "alpha beta elsewhere gamma", None, None),  # bigram only
        ("102", 0, "user", "beta gamma alone", None, None),  # 2nd bigram only
        ("103", 0, "user", "gamma beta alpha", None, None),  # words, no order
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    idx = str(tmp_path / "pfidx")
    build_index(spark, df, idx, cfg, input_token="pf23")
    reader = IndexReader.open(idx, cfg)
    readers, qf = {"text": reader}, {"text": 1.0}
    q = "alpha beta gamma"

    def scores(**kw):
        return {r["conv_id"]: r["score"] for r in
                edismax_topk(spark, readers, q, qf, k=10, **kw).collect()}

    base = scores()
    with_pf = scores(pf={"text": 1.0})
    with_pf2 = scores(pf2={"text": 1.0})
    with_pf3 = scores(pf3={"text": 1.0})
    # pf boosts only the doc with the full phrase
    assert with_pf["100"] > base["100"]
    assert with_pf["101"] == base["101"] and with_pf["103"] == base["103"]
    # pf2 boosts full-phrase (both bigrams), each bigram-only doc once,
    # and the no-order doc not at all
    assert with_pf2["100"] > with_pf2["101"] > base["101"]
    assert with_pf2["102"] > base["102"]
    assert with_pf2["103"] == base["103"]
    # pf3 behaves like pf for a 3-word query
    assert with_pf3["100"] > base["100"] and with_pf3["101"] == base["101"]
    # combination sums all boost families
    both = scores(pf={"text": 1.0}, pf2={"text": 1.0})
    assert both["100"] > with_pf["100"] and both["100"] > with_pf2["100"]


def test_ps_sloppy_pf_boost(spark, tmp_path):
    """edismax ps (phrase slop on pf clauses): a doc with the pf words one
    insertion apart gets no boost at ps=0 but a 1/(1+1)-weighted boost at
    ps=2; the exact-phrase doc's sloppy boost >= its exact boost (the exact
    chain still matches at matchLength 0). ps2 slops pf2 bigrams the same
    way; ps2 defaults to ps when unset."""
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query import IndexReader
    from solr_spark.query.edismax import edismax_topk

    cfg = IndexConfig(range_shift=8, num_term_buckets=8)
    rows = [
        (f"{i}", 0, "user", f"filler{i} words here", None, None)
        for i in range(8)
    ] + [
        ("200", 0, "user", "alpha beta end", None, None),       # exact phrase
        ("201", 0, "user", "alpha gap beta end", None, None),   # slop-1 match
        ("202", 0, "user", "beta then alpha end", None, None),  # reversed
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    idx = str(tmp_path / "psidx")
    build_index(spark, df, idx, cfg, input_token="ps-test")
    reader = IndexReader.open(idx, cfg)
    readers, qf = {"text": reader}, {"text": 1.0}

    def scores(**kw):
        return {r["conv_id"]: r["score"] for r in
                edismax_topk(spark, readers, "alpha beta", qf, k=12,
                             **kw).collect()}

    base = scores()
    exact_pf = scores(pf={"text": 1.0})
    sloppy_pf = scores(pf={"text": 1.0}, ps=2)
    # exact pf: only the adjacent-phrase doc is boosted
    assert exact_pf["200"] > base["200"]
    assert exact_pf["201"] == base["201"]
    # ps=2 admits the one-gap doc (weight 1/2) and keeps the exact doc's
    # boost (weight 1 chain)
    assert sloppy_pf["201"] > base["201"]
    assert sloppy_pf["200"] >= exact_pf["200"]
    # ordered kernel: the reversed doc never gets a pf boost
    assert sloppy_pf["202"] == base["202"]
    # ps2 falls back to ps for pf2 clauses
    via_ps = scores(pf2={"text": 1.0}, ps=2)
    via_ps2 = scores(pf2={"text": 1.0}, ps2=2)
    assert via_ps == via_ps2
    assert via_ps["201"] > base["201"]


def test_sloppy_pf_boost_never_below_exact(spark, built_index):
    """Every doc's ps=1 pf boost is >= its ps=0 boost: each exact occurrence
    is an ordered chain of matchLength 0, so the sloppy phrase frequency is
    >= the exact one, and both score with the same (norms) dl. On this
    lucene_norms index most docs' norms dl differs from their token count,
    so a path scoring with the other dl breaks the order."""
    from solr_spark.query.edismax import _phrase_boosts

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    idfs = {"text": {t: 1.0 for t in analyze_text("error timeout", cfg)}}

    def boosts(slop):
        return {r.docid: r.boost for r in _phrase_boosts(
            spark, {"text": reader}, {"text": 1.0}, "error timeout", idfs,
            slop=slop).collect()}

    exact, sloppy = boosts(0), boosts(1)
    assert exact and set(exact) <= set(sloppy)
    assert [d for d, b in exact.items() if sloppy[d] < b - 1e-12] == []


def test_facet_percentile_metric(spark):
    """facets.percentile_metric rides inside terms_facet's single agg and
    matches the exact linear-interpolation definition."""
    from solr_spark.operators import facets

    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b", float(i)) for i in range(10)],
        "id long, g string, v double")
    out = {r["bucket"]: (r["count"], r["p50_v"]) for r in
           facets.terms_facet(df, "g", limit=5,
                              metrics=[facets.percentile_metric("v", 0.5)])
           .collect()}
    # a: values 0..3 -> p50 = 1.5; b: values 4..9 -> p50 = 6.5
    assert out["a"] == (4, 1.5)
    assert out["b"] == (6, 6.5)


def test_mm_spec_grammar():
    """calculateMinShouldMatch (util/SolrPluginUtils.java) conformance —
    vectors from the reference's SolrPluginUtilsTest.testMinShouldMatchCalculator."""
    from solr_spark.query.edismax import calculate_min_should_match as mm

    import pytest as _pytest

    # plain integers, negative = all-minus
    assert mm(5, "3") == 3
    assert mm(5, "-2") == 3
    assert mm(3, "-5") == 0          # clamps at 0
    assert mm(3, "5") == 3           # clamps at n
    # percentages (floor), negative percent subtracts
    assert mm(10, "50%") == 5
    assert mm(10, "49%") == 4
    assert mm(10, "-25%") == 8       # 10 + int(-2.5) = 8
    assert mm(4, "25%") == 1
    assert mm(3, "75%") == 2         # floor(2.25)
    # conditionals: last bound strictly below the count wins;
    # count at-or-under the first bound requires ALL
    assert mm(1, "3<-25% 10<25%") == 1
    assert mm(3, "3<-25% 10<25%") == 3
    assert mm(4, "3<-25% 10<25%") == 3    # 4 + int(-1.0)
    assert mm(10, "3<-25% 10<25%") == 8   # 10 + int(-2.5)
    assert mm(15, "3<-25% 10<25%") == 3   # int(15*0.25)
    # spaces around '<' tolerated
    assert mm(15, "3 < -25% 10 < 25%") == 3
    with _pytest.raises(ValueError, match="mm spec"):
        mm(5, "abc")
    with _pytest.raises(ValueError, match="mm spec"):
        mm(5, "<50%")


def test_edismax_mm_spec_string(spark, built_index):
    """mm spec strings reach the edismax clause filter: '100%' == AND,
    '1' == OR, and bm25_topk takes the same grammar."""
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q = "error timeout"
    and_rows = bm25_topk(spark, reader, q, k=2000, min_match="100%").collect()
    want_and = bm25_topk(spark, reader, q, k=2000, require_all=True).collect()
    assert [(r.docid, r.score) for r in and_rows] == \
        [(r.docid, r.score) for r in want_and]
    or_rows = bm25_topk(spark, reader, q, k=2000, min_match="-100%").count()
    assert or_rows == bm25_topk(spark, reader, q, k=2000).count()
