"""LocalSearcher (query/local.py): the in-process serving path must be rank-
and score-identical to the distributed bm25_topk on the same index, for every
similarity, with min_match, absent terms, and tombstones applied."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from solr_spark.config import IndexConfig
from solr_spark.data import synth_transcripts_spark
from solr_spark.indexing import build_index
from solr_spark.query import IndexReader, LocalSearcher, bm25_topk

CFG = IndexConfig(range_shift=9, num_term_buckets=16)
QUERIES = ["error timeout", "deploy failed retry", "database", "zzz_nope",
           "the and of", ""]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("local_idx"))
    corpus = synth_transcripts_spark(spark, 1500, seed=11)
    build_index(spark, corpus, idx, CFG, input_token="local-1500",
                stored_cols=("role", "ts"))
    return idx


def _spark_rows(spark, reader, q, **kw):
    return [(r.docid, round(r.score, 10))
            for r in bm25_topk(spark, reader, q, k=10, **kw).collect()]


def test_local_matches_distributed(spark, built):
    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    cases = [(q, sim) for q in QUERIES
             for sim in ("bm25", "classic", "lmdirichlet")]
    # every other registered similarity, on two queries
    cases += [(q, sim) for q in QUERIES[:2]
              for sim in ("boolean", "lmjelinekmercer", "dfi", "rawtf",
                          "sweetspot", "dfr_gl2", "ib_ll")]
    for q, sim in cases:
        want = _spark_rows(spark, reader, q, similarity=sim)
        got = [(r["docid"], round(r["score"], 10))
               for r in ls.search(q, k=10, similarity=sim)]
        assert got == want, (q, sim)


def test_local_min_match(spark, built):
    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    want = _spark_rows(spark, reader, "error timeout retry", min_match=2)
    got = [(r["docid"], round(r["score"], 10))
           for r in ls.search("error timeout retry", k=10, min_match=2)]
    assert got == want
    assert ls.search("error zzz_nope", k=5, require_all=True) == []


def test_local_applies_tombstones(spark, built, tmp_path):
    import shutil

    from solr_spark.indexing.deletes import delete_docids

    idx = str(tmp_path / "del_idx")
    shutil.copytree(built, idx)
    reader = IndexReader.open(idx, CFG)
    top = LocalSearcher(reader).search("error timeout", k=3)
    assert top
    delete_docids(spark, idx, spark.createDataFrame(
        [(r["docid"],) for r in top], "docid long"))
    got = LocalSearcher(IndexReader.open(idx, CFG)).search("error timeout", k=3)
    assert not ({r["docid"] for r in got} & {r["docid"] for r in top})
    want = _spark_rows(spark, IndexReader.open(idx, CFG), "error timeout")
    assert [(r["docid"], round(r["score"], 10))
            for r in LocalSearcher(IndexReader.open(idx, CFG))
            .search("error timeout", k=10)] == want


def test_local_latency_budget(built):
    """Warm point queries must be milliseconds, not Spark-job seconds."""
    ls = LocalSearcher(IndexReader.open(built, CFG))
    ls.search("error timeout", k=10)  # warm
    t0 = time.time()
    for _ in range(20):
        ls.search("error timeout retry", k=10)
    per_q = (time.time() - t0) / 20
    assert per_q < 0.2, f"warm local query took {per_q:.3f}s"


def test_local_suggesters_match_spark_path(spark, built):
    """Serving-path suggest/suggest_infix/suggest_fuzzy are rank-identical to
    the operators/components.py Spark implementations on the same index."""
    from solr_spark.operators.components import (
        suggest_fuzzy,
        suggest_infix,
        suggest_terms,
    )

    ls = LocalSearcher(IndexReader.open(built, CFG))

    want = [(r.term, r.df) for r in suggest_terms(spark, built, "re", k=8).collect()]
    got = [(r["term"], r["df"]) for r in ls.suggest("re", k=8)]
    assert got == want and got

    want = [(r.term, r.df, r.highlighted)
            for r in suggest_infix(spark, built, "im", k=8).collect()]
    got = [(r["term"], r["df"], r["highlighted"])
           for r in ls.suggest_infix("im", k=8)]
    assert got == want and got
    assert any("<b>im</b>" in h for _, _, h in got)

    want = [(r.term, r.df, r.dist)
            for r in suggest_fuzzy(spark, built, "tymeout", k=5,
                                   max_edits=1).collect()]
    got = [(r["term"], r["df"], r["dist"])
           for r in ls.suggest_fuzzy("tymeout", k=5, max_edits=1)]
    assert got == want and got[0][0] == "timeout"

    # warm serving latency: vocabulary-sized work, milliseconds
    t0 = time.time()
    for _ in range(20):
        ls.suggest("re", k=8)
        ls.suggest_infix("im", k=8)
    assert (time.time() - t0) / 40 < 0.05


def test_filter_cache_and_query_result_cache(spark, built):
    """SolrIndexSearcher cache trio: repeated fq strings hit the filterCache,
    repeated/paged queries hit the queryResultCache (with
    queryResultWindowSize rounding), and results are identical hot vs cold."""
    ls = LocalSearcher(IndexReader.open(built, CFG))

    cold = ls.search("error timeout", k=5, filters=["role:assistant"])
    info = ls.cache_info()
    assert info["filter"] == {"hits": 0, "misses": 1, "evictions": 0,
                              "size": 1}
    assert info["query_result"]["misses"] == 1

    hot = ls.search("error timeout", k=5, filters=["role:assistant"])
    assert hot == cold
    info = ls.cache_info()
    assert info["query_result"]["hits"] == 1
    # the query-result hit short-circuits before filter compilation
    assert info["filter"]["hits"] == 0 and info["filter"]["misses"] == 1

    # a DIFFERENT query with the same fq string reuses the compiled DocSet
    ls.search("database", k=5, filters=["role:assistant"])
    assert ls.cache_info()["filter"]["hits"] == 1

    # page 2 of a window-sized result set is a queryResultCache hit: k=5
    # fetched ceil(5/20)*20 = 20 ranks, so offset 5..10 is already cached
    page2 = ls.search("error timeout", k=5, filters=["role:assistant"],
                      offset=5)
    assert ls.cache_info()["query_result"]["hits"] == 2
    assert [r["rank"] for r in page2] == [6, 7, 8, 9, 10]
    deep = ls.search("error timeout", k=10, filters=["role:assistant"])
    assert deep[5:] == page2


def test_query_result_cache_paging_matches_uncached(spark, built):
    """offset slicing equals the head of a deeper uncached search, and an
    exhausted result set (fewer hits than the window) still serves deeper
    pages from cache instead of refetching."""
    ls = LocalSearcher(IndexReader.open(built, CFG))
    full = ls.search("error timeout retry", k=30)
    for off, k in [(0, 10), (10, 10), (25, 5), (3, 7)]:
        page = ls.search("error timeout retry", k=k, offset=off)
        assert page == full[off:off + k], (off, k)
    # exhausted result set: fetching past every hit marks the entry complete,
    # so ANY deeper request afterwards is a cache hit, not a refetch
    ls2 = LocalSearcher(IndexReader.open(built, CFG))
    rare = ls2.search("database", k=5000)  # > corpus size, exhausts hits
    misses0 = ls2.cache_info()["query_result"]["misses"]
    again = ls2.search("database", k=6000)
    assert ls2.cache_info()["query_result"]["misses"] == misses0
    assert again == rare
    # a too-shallow cached window refetches (counted as a miss, then cached)
    shallow = LocalSearcher(IndexReader.open(built, CFG))
    shallow.search("error timeout", k=5)
    shallow.search("error timeout", k=200)
    assert shallow.cache_info()["query_result"]["misses"] == 2
    assert shallow.cache_info()["query_result"]["hits"] == 0


def test_query_result_cache_eviction_and_uncacheable(spark, built):
    import numpy as np

    ls = LocalSearcher(IndexReader.open(built, CFG),
                       query_result_cache_size=2)
    ls.search("error", k=3)
    ls.search("timeout", k=3)
    ls.search("database", k=3)  # evicts "error"
    assert ls.cache_info()["query_result"]["evictions"] == 1
    ls.search("error", k=3)
    assert ls.cache_info()["query_result"]["hits"] == 0

    # NOW-relative filter with now=None never caches (re-anchors every call)
    ls.search("error", k=3, filters=["ts:[NOW-365DAYS TO *]"])
    assert ls.cache_info()["filter"]["size"] == 0
    # caller-supplied mask arrays are uncacheable (Solr cache=false role)
    mask = np.ones(2048, dtype=bool)
    before = ls.cache_info()["query_result"]["misses"]
    ls.search("error", k=3, filter_mask=mask)
    ls.search("error", k=3, filter_mask=mask)
    assert ls.cache_info()["query_result"]["misses"] == before


def test_document_cache_role(spark, built):
    ls = LocalSearcher(IndexReader.open(built, CFG))
    hit = ls.search("error timeout", k=1)[0]
    doc = ls.doc(hit["docid"])
    assert doc["conv_id"] == hit["conv_id"]
    assert doc["turn_idx"] == hit["turn_idx"]
    assert isinstance(doc["text"], str) and doc["text"]
    assert ls.doc(10**9) is None


# ------------------------------------------------------- serving facets (r5)


def test_serving_facets_match_batch(spark, built):
    """LocalSearcher.facets must be shape- and value-identical to the batch
    facet family (operators/facets.py) on the same corpus + filter."""
    from solr_spark.operators.facets import metric, range_facet, terms_facet

    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    fwd = reader.forward(spark)

    # terms facet with a nested stat, under an fq
    got = ls.facets(
        {"by_role": {"type": "terms", "field": "role", "limit": 3,
                     "facet": {"max_turn": "max(turn_idx)"}}},
        filters=["turn_idx:[2 TO *]"])["by_role"]
    dom = fwd.where(F.col("turn_idx") >= 2)
    want = [{"bucket": r["bucket"], "count": r["count"],
             "max_turn": r["max_max_turn"]}
            for r in terms_facet(
                dom, "role", limit=3,
                metrics=[metric("max", "turn_idx").alias("max_max_turn")])
            .collect()]
    assert got == want

    # range facet over turn_idx
    got_r = ls.facets({"turns": {"type": "range", "field": "turn_idx",
                                 "start": 0, "gap": 4}})["turns"]
    want_r = [{"bucket_start": r["bucket_start"], "count": r["count"]}
              for r in range_facet(fwd, "turn_idx", 0, 4).collect()]
    assert got_r == want_r

    # query facet + scalar shorthand
    got_q = ls.facets({"assistants": {"type": "query",
                                      "q": "role:assistant"},
                       "mean_turn": "avg(turn_idx)"})
    n_assist = fwd.where(F.col("role") == "assistant").count()
    assert got_q["assistants"] == [{"count": n_assist}]
    mean = fwd.agg(F.avg("turn_idx")).first()[0]
    assert abs(got_q["mean_turn"][0]["value"] - mean) < 1e-9


def test_serving_facets_under_query_docset(spark, built):
    """facets(query=...) counts the scored match set — the /select piggyback
    contract — identical to the batch json_select facet domain."""
    from solr_spark.query.fieldsort import scored_match_docids

    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    q = "error timeout"
    got = ls.facets({"by_role": {"type": "terms", "field": "role",
                                 "limit": -1}}, query=q)["by_role"]
    want = {r["role"]: r["n"] for r in
            reader.forward(spark)
            .join(scored_match_docids(spark, reader, q), "docid")
            .groupBy("role").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {r["bucket"]: r["count"] for r in got} == want
    assert [r["count"] for r in got] == sorted(
        [r["count"] for r in got], reverse=True)


def test_serving_facet_latency(built):
    """The point of the serving tier: a facet request answers in
    milliseconds, not a Spark job's ~0.5 s floor."""
    import time

    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    req = {"by_role": {"type": "terms", "field": "role"}}
    ls.facets(req, filters=["turn_idx:[1 TO *]"])  # warm (forward load)
    t0 = time.time()
    for _ in range(5):
        ls.facets(req, filters=["turn_idx:[1 TO *]"])
    per_call = (time.time() - t0) / 5
    assert per_call < 0.25, f"serving facet took {per_call:.3f}s"


def test_serving_select_full_body(spark, built):
    """LocalSearcher.select: one JSON body -> docs + facets, matching the
    batch json_select on the same index (the /select component-pipeline
    contract answered serving-side)."""
    from solr_spark.query.jsonapi import json_select

    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    body = {"query": "error timeout", "limit": 8,
            "filter": ["role:assistant"],
            "facet": {"by_role": {"type": "terms", "field": "role",
                                  "limit": 5}}}
    got = ls.select(body)
    want = json_select(spark, reader, body)
    want_docs = [(r.docid, round(r.score, 10))
                 for r in want["docs"].collect()]
    assert [(h["docid"], round(h["score"], 10)) for h in got["docs"]] == \
        want_docs
    want_facet = [(r.bucket, r["count"])
                  for r in want["facets"]["by_role"].collect()]
    assert [(b["bucket"], b["count"]) for b in got["facets"]["by_role"]] == \
        want_facet


def test_serving_select_sorted_fields_and_validation(spark, built):
    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    # field-sorted page with fl incl. a stored field and score
    got = ls.select({"query": "error timeout", "limit": 5,
                     "sort": "ts desc",
                     "fields": ["conv_id", "role", "score"]})
    assert len(got["docs"]) == 5
    assert all(set(h) == {"conv_id", "role", "score"} for h in got["docs"])
    # parity with the direct sorted search
    direct = ls.search("error timeout", k=5, sort="ts desc",
                       with_score=True)
    assert [h["conv_id"] for h in got["docs"]] == \
        [h["conv_id"] for h in direct]
    # unknown top-level key and unknown field raise loudly
    with pytest.raises(ValueError, match="[Uu]nknown"):
        ls.select({"query": "error", "fliter": ["role:user"]})
    with pytest.raises(ValueError, match="neither"):
        ls.select({"query": "error", "fields": ["nope_col"]})


def test_serving_highlight_matches_batch(spark, built):
    """params.hl on the serving /select: snippet-for-snippet identical to
    the batch HighlightComponent Column over the same stored text."""
    from solr_spark.analysis import analyze_text
    from solr_spark.operators.components import highlight

    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    res = ls.select({"query": "error timeout", "limit": 10,
                     "params": {"hl": True, "hl.fragsize": 25}})
    assert res["docs"] and all("snippet" in h for h in res["docs"])
    terms = analyze_text("error timeout", CFG)
    fwd = reader.forward(spark).withColumnRenamed("toks", "text")
    batch = {r.docid: r.snip for r in fwd.select(
        "docid", highlight(fwd, "text", terms,
                           window_chars=25).alias("snip")).collect()}
    for h in res["docs"]:
        assert h["snippet"] == batch[h["docid"]], h["docid"]
    # hl defaults off; unknown params key still rejected
    assert "snippet" not in ls.select(
        {"query": "error", "limit": 1})["docs"][0]
    with pytest.raises(ValueError, match="unknown params"):
        ls.select({"query": "error", "params": {"hl.frgsize": 10}})


def test_serving_subfacet_trees(spark, built):
    """Serving facets accept SUB-FACET dicts next to stat strings
    (FacetRequest.java processSubs): a terms node nests a terms sub-facet
    and a query sub-facet; a range node nests a terms sub-facet. Checked
    against an independent Spark-side recomputation of each cell."""
    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    got = ls.facets({
        "roles": {"type": "terms", "field": "role", "limit": 3,
                  "facet": {"n": "count(docid)",
                            "errs": {"type": "query", "q": "error"},
                            "by_len": {"type": "range", "field": "dl",
                                       "start": 0, "gap": 50}}}})
    fwd = reader.forward(spark).withColumnRenamed("toks", "text")
    buckets = {r["role"]: r["cnt"] for r in
               fwd.groupBy("role").agg(F.count("*").alias("cnt")).collect()}
    assert got["roles"]
    for b in got["roles"]:
        role = b["bucket"]
        assert b["count"] == buckets[role]
        assert b["n"] == b["count"]  # stat over the bucket rows
        # query sub-facet: docs of this role containing 'error'
        want_err = fwd.where(
            (F.col("role") == role)
            & F.col("text").rlike(r"(^|\W)error(\W|$)")).count()
        assert b["errs"][0]["count"] == want_err
        # range sub-facet partitions the bucket: counts sum to the bucket
        assert sum(r["count"] for r in b["by_len"]) == b["count"]
        for r in b["by_len"]:
            lo = r["bucket_start"]
            w = fwd.where((F.col("role") == role)
                          & (F.col("dl") >= lo)
                          & (F.col("dl") < lo + 50)).count()
            assert r["count"] == w
