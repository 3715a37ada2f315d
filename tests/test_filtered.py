"""Filtered ranked search (q + fq): kernel DocSet intersection, LocalSearcher
parity, JSON Request API wiring, facet_tree depth, and the round-4 ADVICE
guards (unknown JSON keys, sort strictness, chunk stride)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_spark.config import IndexConfig
from solr_spark.data import synth_transcripts_spark
from solr_spark.indexing import build_index
from solr_spark.query import IndexReader, LocalSearcher, bm25_topk

CFG = IndexConfig(range_shift=9, num_term_buckets=16)
Q = "error timeout retry"
FQ = ["role:assistant"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("filt_idx"))
    corpus = synth_transcripts_spark(spark, 1500, seed=13)
    build_index(spark, corpus, idx, CFG, input_token="filt-1500",
                stored_cols=("role", "tool", "ts"))
    return idx


def _rows(df):
    return [(r.docid, round(r.score, 10)) for r in df.collect()]


def test_stored_cols_in_forward(spark, built):
    reader = IndexReader.open(built, CFG)
    cols = reader.forward(spark).columns
    assert {"role", "tool", "ts", "docid", "toks"} <= set(cols)


def test_filtered_returns_k_where_postjoin_cannot(spark, built):
    reader = IndexReader.open(built, CFG)
    k = 10
    filt = bm25_topk(spark, reader, Q, k=k, mode="wand", filters=FQ)
    got = filt.collect()
    # every hit satisfies the filter
    roles = {r["role"] for r in
             filt.join(reader.forward(spark).select("docid", "role"),
                       "docid").collect()}
    assert roles == {"assistant"}
    # post-joining the unfiltered top-k returns FEWER hits (the bug the
    # kernel intersection exists to avoid)
    unfilt = bm25_topk(spark, reader, Q, k=k, mode="wand")
    postjoin = unfilt.join(
        reader.forward(spark).where(F.col("role") == "assistant")
        .select("docid"), "docid")
    assert postjoin.count() < len(got) == k


def test_filtered_matches_bruteforce_and_exact_mode(spark, built):
    reader = IndexReader.open(built, CFG)
    wand = _rows(bm25_topk(spark, reader, Q, k=10, mode="wand", filters=FQ))
    exact = _rows(bm25_topk(spark, reader, Q, k=10, mode="exact", filters=FQ))
    assert wand == exact
    # brute force: score everything, intersect, top-10
    allk = bm25_topk(spark, reader, Q, k=10**6, mode="exact")
    fwd = reader.forward(spark).where(F.col("role") == "assistant") \
        .select("docid")
    brute = _rows(allk.join(fwd, "docid")
                  .orderBy(F.desc("score"), F.asc("docid")).limit(10))
    assert wand == brute


def test_filtered_query_job_budget(spark, built, count_jobs, kernel_tasks,
                                   python_nodes, collected_arrow):
    """A role-fq WAND query whose postings fit one kernel task: the first fq
    on a reader runs one Spark job, which builds the fq bitmaps in the JVM
    and collects them as Arrow into the reader's filterCache; its postings
    are read with pyarrow and scored on the driver. The repeat runs no job
    and collects nothing. Neither collecting the result nor any plan runs
    Python."""
    reader = IndexReader.open(built, CFG)
    df, call_jobs = count_jobs(
        lambda: bm25_topk(spark, reader, Q, k=10, filters=FQ))
    want, run_jobs = count_jobs(lambda: _rows(df))
    assert (call_jobs, run_jobs) == (1, 0)
    assert len(collected_arrow) == 1
    assert collected_arrow[0].columns == ["range_id", "filter_bits"]
    assert python_nodes(collected_arrow[0]) == []

    del collected_arrow[:]
    df, call_jobs = count_jobs(
        lambda: bm25_topk(spark, reader, Q, k=10, filters=FQ))
    rows, run_jobs = count_jobs(lambda: _rows(df))
    assert (call_jobs, run_jobs) == (0, 0)
    assert rows == want and rows
    assert kernel_tasks(df) == [] and python_nodes(df) == []
    assert collected_arrow == []


def test_scored_term_query_shares_the_filter_cache(spark, built, count_jobs):
    """scored_topk hands fq strings to bm25_topk, so a scored term query
    and bm25_topk with the same fq share one cached DocSet: the first runs
    the fq's one bitmap job, the other then runs none."""
    from solr_spark.query.scored import scored_topk

    reader = IndexReader.open(built, CFG)
    first, jobs = count_jobs(
        lambda: _rows(scored_topk(spark, reader, Q, k=10, filters=FQ)))
    assert jobs == 1 and first
    again, jobs = count_jobs(
        lambda: _rows(bm25_topk(spark, reader, Q, k=10, filters=FQ)))
    assert (again, jobs) == (first, 0)


def test_now_filter_is_never_cached(spark, built, count_jobs):
    """A NOW-relative fq with now=None re-anchors to the wall clock on every
    call, so the reader's filterCache never keeps it: each query rebuilds
    its bitmaps in one job. Anchored by `now`, the same fq caches."""
    reader = IndexReader.open(built, CFG)
    fq = ["ts:[NOW-100YEARS TO *]"]
    runs = [count_jobs(lambda: _rows(bm25_topk(spark, reader, Q, k=10,
                                               filters=fq)))
            for _ in range(2)]
    assert [jobs for _, jobs in runs] == [1, 1]
    assert runs[0][0] == runs[1][0] and runs[0][0]
    assert len(reader._filter_cache) == 0
    now = "2024-01-01T00:00:00Z"
    anchored = [count_jobs(lambda: _rows(bm25_topk(
        spark, reader, Q, k=10, filters=fq, now=now))) for _ in range(2)]
    assert [jobs for _, jobs in anchored] == [1, 0]
    assert anchored[0][0] == anchored[1][0] == runs[0][0]
    assert len(reader._filter_cache) == 1


def test_filter_cache_evicts_by_bytes(spark, built, count_jobs, monkeypatch):
    """The filterCache is an LRU bounded by the bytes of its words: with
    room for one fq's words, a second fq evicts the first, which then
    misses again (one job) and returns the same rows."""
    from solr_spark.query import docsets

    reader = IndexReader.open(built, CFG)
    a, b = ["role:assistant"], ["role:user"]
    rows_a = _rows(bm25_topk(spark, reader, Q, k=10, filters=a))
    (key_a, words), = reader._filter_cache.items()
    monkeypatch.setattr(docsets, "FILTER_CACHE_BYTES",
                        sum(w.nbytes for w in words.values()))
    rows_b = _rows(bm25_topk(spark, reader, Q, k=10, filters=b))
    assert rows_b and rows_b != rows_a
    assert key_a not in reader._filter_cache
    assert len(reader._filter_cache) == 1
    again, jobs = count_jobs(lambda: _rows(
        bm25_topk(spark, reader, Q, k=10, filters=a)))
    assert (again, jobs) == (rows_a, 1)
    assert list(reader._filter_cache) == [key_a]


def test_filter_cache_never_flushed_by_an_fq_it_cannot_hold(
        spark, built, count_jobs, collected_arrow, monkeypatch):
    """An fq whose words could exceed the cache bound is collected for the
    query's own ranges only and never inserted, so the entries already
    cached stay; it runs its one job on every call and returns the same
    rows as a reader with room for it."""
    from solr_spark.query import docsets

    reader = IndexReader.open(built, CFG)
    a, b, c = ["role:assistant"], ["role:user"], ["role:system"]
    for fq in (a, b):
        _rows(bm25_topk(spark, reader, Q, k=10, filters=fq))
    keys = list(reader._filter_cache)
    entry = sum(w.nbytes for w in reader._filter_cache[keys[0]].values())
    monkeypatch.setattr(docsets, "FILTER_CACHE_BYTES", entry - 1)
    del collected_arrow[:]
    runs = [count_jobs(lambda: _rows(bm25_topk(spark, reader, Q, k=10,
                                               filters=c)))
            for _ in range(2)]
    assert [jobs for _, jobs in runs] == [1, 1]
    assert list(reader._filter_cache) == keys
    monkeypatch.undo()
    want = _rows(bm25_topk(spark, IndexReader.open(built, CFG), Q, k=10,
                           filters=c))
    assert runs[0][0] == runs[1][0] == want and want


def test_filter_docids_precomputed_handle(spark, built):
    from solr_spark.query.docsets import filter_docids

    reader = IndexReader.open(built, CFG)
    ds = filter_docids(spark, reader, FQ)
    via_handle = _rows(bm25_topk(spark, reader, Q, k=10, filter_docids=ds))
    via_strings = _rows(bm25_topk(spark, reader, Q, k=10, filters=FQ))
    assert via_handle == via_strings
    # only the strings' words are cached: a DataFrame has no cache key
    assert [k[0] for k in reader._filter_cache] == [tuple(FQ)]
    with pytest.raises(ValueError, match="not both"):
        bm25_topk(spark, reader, Q, k=10, filters=FQ, filter_docids=ds)


def test_filter_on_timestamp_range(spark, built):
    reader = IndexReader.open(built, CFG)
    fq = ["ts:[2023-11-20 TO *]", "role:assistant"]
    got = bm25_topk(spark, reader, Q, k=10, filters=fq)
    joined = got.join(reader.forward(spark).select("docid", "ts", "role"),
                      "docid").collect()
    assert joined and all(str(r["ts"]) >= "2023-11-20" for r in joined)


def test_empty_filter_result_is_empty(spark, built):
    reader = IndexReader.open(built, CFG)
    assert bm25_topk(spark, reader, Q, k=10,
                     filters=["role:nosuchrole"]).count() == 0


def test_empty_filter_list_is_no_filter(spark, built):
    """filters=[] (e.g. a JSON body with no `filter` key) must behave —
    and PLAN — like no filter at all: no bitmap machinery."""
    reader = IndexReader.open(built, CFG)
    plain = bm25_topk(spark, reader, Q, k=10)
    empty = bm25_topk(spark, reader, Q, k=10, filters=[])
    assert _rows(plain) == _rows(empty)
    assert "filter_bits" not in empty._jdf.queryExecution().executedPlan().toString()


def test_filter_datemath_range(spark, built):
    """`ts:[NOW-7DAYS TO *]`-style fq (util/DateMathParser.java:91): DateMath
    endpoints compile to timestamp literals via the request-scoped NOW;
    kernel, brute-force predicate, and LocalSearcher all agree."""
    import datetime as dt

    reader = IndexReader.open(built, CFG)
    now = "2023-11-26T12:00:00Z"
    fq = ["ts:[NOW/DAY-7DAYS TO NOW]"]
    lo = dt.datetime(2023, 11, 19)
    hi = dt.datetime(2023, 11, 26, 12, 0, 0)

    got = bm25_topk(spark, reader, Q, k=10, filters=fq, now=now)
    joined = got.join(reader.forward(spark).select("docid", "ts"),
                      "docid").collect()
    assert joined and all(lo <= r["ts"] <= hi for r in joined)

    # brute-force: same predicate applied as a plain Column filter
    from solr_spark.query.docsets import filter_docids
    ds = filter_docids(spark, reader, fq, now=now)
    want = reader.forward(spark).where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert (sorted(r.docid for r in ds.collect())
            == sorted(r.docid for r in want.select("docid").collect()))

    # serving-tier parity: LocalSearcher's pandas twin, same NOW
    ls = LocalSearcher(reader)
    served = [(r["docid"], round(r["score"], 10))
              for r in ls.search(Q, k=10, filters=fq, now=now)]
    assert served == _rows(got)

    # a NOW bound makes the filter selective vs the unfiltered query
    assert bm25_topk(spark, reader, Q, k=10**6, filters=fq, now=now).count() \
        < bm25_topk(spark, reader, Q, k=10**6).count()


def test_local_searcher_filter_parity(spark, built):
    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader)
    for fq in (FQ, ["role:assistant OR role:user"],
               ["ts:[2023-11-20 TO *]"], ["text:error"]):
        want = _rows(bm25_topk(spark, reader, Q, k=10, filters=fq))
        got = [(r["docid"], round(r["score"], 10))
               for r in ls.search(Q, k=10, filters=fq)]
        assert got == want, fq
    # precomputed mask reuse (the filterCache role)
    mask = ls.filter_mask(FQ)
    assert isinstance(mask, np.ndarray) and mask.dtype == bool
    assert ([(r["docid"], round(r["score"], 10))
             for r in ls.search(Q, k=10, filter_mask=mask)]
            == _rows(bm25_topk(spark, reader, Q, k=10, filters=FQ)))
    with pytest.raises(ValueError, match="not both"):
        ls.search(Q, filters=FQ, filter_mask=mask)
    with pytest.raises(ValueError, match="unknown filter field"):
        ls.search(Q, filters=["nosuchfield:x"])


def test_scored_topk_filtered_phrase_only(spark, built):
    from solr_spark.query.scored import scored_topk

    reader = IndexReader.open(built, CFG)
    res = scored_topk(spark, reader, '"error timeout"~2', k=5, filters=FQ)
    rows = res.join(reader.forward(spark).select("docid", "role"),
                    "docid").collect()
    assert all(r["role"] == "assistant" for r in rows)


def test_json_search_filter_offset_and_guards(spark, built):
    from solr_spark.query.jsonapi import json_search

    reader = IndexReader.open(built, CFG)
    full = json_search(spark, reader,
                       {"query": Q, "limit": 10, "filter": FQ}).collect()
    page2 = json_search(spark, reader,
                        {"query": Q, "limit": 4, "offset": 3,
                         "filter": FQ}).collect()
    assert [(r.docid, r.rank) for r in page2] == \
        [(r.docid, r.rank) for r in full[3:7]]
    # round-5: sort is now a supported key — "score desc" is the ranked
    # collector; mixing score with field clauses still raises loudly
    assert json_search(spark, reader,
                       {"query": Q, "limit": 2,
                        "sort": "score desc"}).count() == 2
    with pytest.raises(ValueError, match="ranked path"):
        json_search(spark, reader,
                    {"query": Q, "sort": "score desc, ts asc"})


def test_json_request_key_and_sort_guards(spark, built):
    from solr_spark.query.jsonapi import json_request

    reader = IndexReader.open(built, CFG)
    fwd = reader.forward(spark)
    with pytest.raises(ValueError, match="fliter"):
        json_request(fwd, {"fliter": ["role:user"]})
    with pytest.raises(ValueError, match="unknown sort direction"):
        json_request(fwd, {"sort": "dl descending"})
    # extra internal whitespace must still parse as desc
    top = json_request(fwd, {"sort": "dl  desc", "limit": 3,
                             "fields": ["docid", "dl"]}).collect()
    dls = [r.dl for r in top]
    assert dls == sorted(dls, reverse=True)


def test_chunk_stride_guard(spark):
    from solr_spark.functions.sampling import chunk_token_windows

    df = spark.createDataFrame([(1, "a b c d e f g h")], "id long, text string")
    with pytest.raises(ValueError, match="must not exceed window"):
        chunk_token_windows(df, "id", "text", window=2, stride=5)


def test_postings_lru_byte_bound(spark, built):
    reader = IndexReader.open(built, CFG)
    ls = LocalSearcher(reader, cache_bytes=1)  # absurdly small budget
    vocab = sorted(ls._df)  # terms guaranteed present in this corpus
    ls.search(" ".join(vocab[:2]), k=5)
    first_terms = set(ls._postings_cache)
    assert first_terms == set(vocab[:2])
    ls.search(" ".join(vocab[2:4]), k=5)
    # earlier terms evicted under the byte budget; current query resident
    assert not (first_terms & set(ls._postings_cache))
    assert ls._cache_bytes <= sum(
        d.nbytes + t.nbytes for rows in ls._postings_cache.values()
        for _, d, t in rows) + 1
    # every cached array owns its memory: cache_bytes is the resident cost
    assert all(a.base is None for rows in ls._postings_cache.values()
               for _, d, t in rows for a in (d, t))
    # results identical to an unbounded searcher despite eviction
    big = LocalSearcher(reader)
    assert ls.search(Q, k=10) == big.search(Q, k=10)


def test_multiselect_facet_exclude_tags(spark):
    """{!tag=x} local params + domain.excludeTags — multi-select faceting
    (SimpleFacets excludeTags / FacetRequest Domain)."""
    from solr_spark.query.jsonapi import json_facets, json_request

    df = spark.createDataFrame(
        [("en", "web"), ("en", "web"), ("en", "code"),
         ("de", "web"), ("fr", "code")], "lang string, source string")
    req = {"query": "*:*",
           "filter": ["{!tag=LANG}lang:en", "{!tag=SRC}source:web"],
           "facet": {
               "langs": {"type": "terms", "field": "lang", "limit": 10,
                         "domain": {"excludeTags": "LANG"}},
               "srcs": {"type": "terms", "field": "source", "limit": 10,
                        "domain": {"excludeTags": ["SRC"]}},
               "narrow": {"type": "terms", "field": "lang", "limit": 10,
                          "domain": {"excludeTags": ["LANG"],
                                     "filter": "source:web"}}}}
    f = json_facets(df, req, default_field="lang", text_fields=set())
    assert {(r["bucket"], r["count"]) for r in f["langs"].collect()} == \
           {("en", 2), ("de", 1)}
    assert {(r["bucket"], r["count"]) for r in f["srcs"].collect()} == \
           {("web", 2), ("code", 1)}
    # excludeTags composes with domain.filter
    assert {(r["bucket"], r["count"]) for r in f["narrow"].collect()} == \
           {("en", 2), ("de", 1)}
    # tags are transparent to the docs query; unknown tags exclude nothing
    assert json_request(
        df, {"query": "*:*", "filter": ["{!tag=LANG}lang:en"]},
        default_field="lang").count() == 3
    g = json_facets(df, {"query": "*:*", "filter": ["{!tag=A}lang:en"],
                         "facet": {"x": {"type": "terms", "field": "lang",
                                         "domain": {"excludeTags": ["B"]}}}},
                    default_field="lang", text_fields=set())
    assert {(r["bucket"], r["count"]) for r in g["x"].collect()} == \
           {("en", 3)}


def test_json_query_dsl_bool(spark):
    """json-query-dsl.adoc / BoolQParserPlugin.java:33 — bool node with
    must/filter/must_not/should + mm, nested bool, lucene parser object."""
    from solr_spark.query.jsonapi import json_request

    df = spark.createDataFrame(
        [(1, "error timeout", "en"), (2, "all good", "en"),
         (3, "timeout late", "de"), (4, "error early", "de"),
         (5, "warn only", "en")], "id int, text string, lang string")

    def ids(q, flt=None):
        req = {"query": q}
        if flt is not None:
            req["filter"] = flt
        return sorted(r["id"] for r in
                      json_request(df, req, default_field="text",
                                   text_fields={"text"}).collect())

    # must + must_not
    assert ids({"bool": {"must": ["text:error"],
                         "must_not": ["lang:de"]}}) == [1]
    # should without must: at least one matches (mm default 1)
    assert ids({"bool": {"should": ["text:error", "text:warn"]}}) == [1, 4, 5]
    # mm=2 over shoulds: only doc 1 (error+timeout+en) matches two clauses
    assert ids({"bool": {"should": ["text:error", "text:timeout",
                                    "lang:en"], "mm": 2}}) == [1]
    # should with must present is scoring-only (no constraint)
    assert ids({"bool": {"must": ["lang:en"],
                         "should": ["text:error"]}}) == [1, 2, 5]
    # nested bool + lucene parser object + object filter
    assert ids({"bool": {"must": [{"lucene": {"df": "text",
                                              "query": "timeout"}},
                                  {"bool": {"must_not": ["lang:de"]}}]}}) \
        == [1]
    assert ids("*:*", flt=[{"bool": {"must": ["lang:de"]}}]) == [3, 4]
    # unknown clause / parser raise
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown bool clause"):
        ids({"bool": {"mus": ["text:error"]}})
    with _pt.raises(ValueError, match="unsupported query parser"):
        ids({"nope": {}})


def test_matched_queries_component(spark):
    """MatchedQueriesComponent.java — per-hit named-match lists + summary."""
    from pyspark.sql import functions as F

    from solr_spark.operators.components import matched_queries

    df = spark.createDataFrame(
        [(1, "error", 10), (2, "ok", 20), (3, "error", 30)],
        "id int, status string, v int")
    out = matched_queries(df, {"errs": F.col("status") == "error",
                               "big": F.col("v") >= 20})
    got = {r["id"]: r["matched_queries"] for r in out.collect()}
    assert got == {1: ["errs"], 2: ["big"], 3: ["big", "errs"]}
    summ = matched_queries(df.select("id", "status", "v"),
                           {"errs": F.col("status") == "error",
                            "big": F.col("v") >= 20}, summary=True)
    assert [(r["name"], r["ids"]) for r in summ.collect()] == \
           [("big", [2, 3]), ("errs", [1, 3])]


def test_facet_domain_join(spark):
    """json-faceting-domain-changes.adoc "join": facet domain re-seeded
    through a from->to self-join of the collection."""
    from solr_spark.query.jsonapi import json_facets

    df = spark.createDataFrame(
        [(1, "u1", "error"), (2, "u1", "view"), (3, "u2", "view"),
         (4, "u3", "error"), (5, "u3", "click"), (6, "u2", "view")],
        "id int, user string, et string")
    # domain: users who had an error -> ALL their events, facet by type
    req = {"query": "et:error",
           "facet": {"their_events": {
               "type": "terms", "field": "et", "limit": 10,
               "domain": {"join": {"from": "user", "to": "user"}}}}}
    out = json_facets(df, req, default_field="et", text_fields=set())
    got = {(r["bucket"], r["count"])
           for r in out["their_events"].collect()}
    # u1 and u3 had errors; their events: error x2, view x1, click x1
    assert got == {("error", 2), ("view", 1), ("click", 1)}


def test_params_key_validation(spark, built):
    """A typo inside `params` must raise, same rule as top-level keys."""
    from solr_spark.query.jsonapi import json_facets, json_request, json_search

    reader = IndexReader.open(built, CFG)
    df = spark.createDataFrame([(1, "x")], "id int, text string")
    with pytest.raises(ValueError, match="unknown params key"):
        json_request(df, {"query": "*:*", "params": {"NOWW": "x"}})
    with pytest.raises(ValueError, match="unknown params key"):
        json_search(spark, reader, {"query": "error",
                                    "params": {"simlarity": "bm25"}})
    with pytest.raises(ValueError, match="unknown params key"):
        json_facets(df, {"query": "*:*", "params": {"fq": "id:1"},
                         "facet": {}})
    # valid keys still pass through
    assert json_search(spark, reader,
                       {"query": "error", "limit": 2,
                        "params": {"similarity": "bm25"}}).count() <= 2


def test_empty_named_query_dicts_raise(spark):
    from solr_spark.operators.components import matched_queries
    from solr_spark.operators.windows import group_query

    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="at least one named query"):
        group_query(df, {}, ["id"], 5)
    with pytest.raises(ValueError, match="at least one named query"):
        matched_queries(df, {})


def test_edismax_filtered(spark, built):
    """edismax q+fq: the filter docid set restricts the combined match set
    BEFORE the top-k cut — k hits where post-filtering the unfiltered top-k
    would return fewer; scores of surviving docs unchanged (global stats)."""
    from solr_spark.query.edismax import edismax_topk

    reader = IndexReader.open(built, CFG)
    readers, qf = {"text": reader}, {"text": 1.0}
    unfiltered = edismax_topk(spark, readers, Q, qf, k=10, tie=0.3)
    filtered = edismax_topk(spark, readers, Q, qf, k=10, tie=0.3, filters=FQ)
    rows_f = filtered.collect()
    assert len(rows_f) == 10
    # every filtered hit satisfies the fq
    fwd = spark.read.parquet(f"{built}/analyzed/batch-000")
    roles = {r.docid: r.role for r in
             fwd.select("docid", "role").collect()}
    assert all(roles[r.docid] == "assistant" for r in rows_f)
    # scores agree with the unfiltered run where docs overlap
    uf = {r.docid: r.score for r in unfiltered.collect()}
    for r in rows_f:
        if r.docid in uf:
            assert abs(uf[r.docid] - r.score) < 1e-9
    # post-join of the unfiltered top-10 returns FEWER than k
    post = [d for d in uf if roles.get(d) == "assistant"]
    assert len(post) < 10
    # precomputed handle path agrees with string-fq path
    from solr_spark.query.docsets import filter_docids as compile_fq
    ds = compile_fq(spark, reader, FQ)
    via_handle = edismax_topk(spark, readers, Q, qf, k=10, tie=0.3,
                              filter_docids=ds)
    assert _rows(filtered.select("docid", "score")) == \
           _rows(via_handle.select("docid", "score"))


# ----------------------------------------------------------- field sort (r5)


def test_field_sort_matches_bruteforce(spark, built):
    """q + sort=field: same match set as the scored path, ordered by the
    field with docid tiebreak (TopFieldCollectorManager role,
    SolrIndexSearcher.java:1911)."""
    from solr_spark.query.fieldsort import field_sorted_search

    reader = IndexReader.open(built, CFG)
    got = field_sorted_search(spark, reader, Q, "ts desc", k=10,
                              filters=FQ, with_score=True).collect()
    assert len(got) == 10
    assert [r["rank"] for r in got] == list(range(1, 11))
    # brute force: the scored path's full match set, joined to the forward
    # table, sorted by (ts desc, docid)
    allk = bm25_topk(spark, reader, Q, k=10**6, mode="exact")
    fwd = reader.forward(spark).where(F.col("role") == "assistant") \
        .select("docid", "ts")
    brute = (allk.join(fwd, "docid")
             .orderBy(F.desc("ts"), F.asc("docid")).limit(10).collect())
    assert [r["docid"] for r in got] == [r["docid"] for r in brute]
    # the page's scores are the REAL scores of those docs (global stats)
    for g, b in zip(got, brute):
        assert abs(g["score"] - b["score"]) < 1e-9
    # ts rides along as a result column
    assert all(r["ts"] is not None for r in got)


def test_field_sort_offset_paging(spark, built):
    from solr_spark.query.fieldsort import field_sorted_search

    reader = IndexReader.open(built, CFG)
    full = field_sorted_search(spark, reader, Q, "ts asc", k=10).collect()
    page2 = field_sorted_search(spark, reader, Q, "ts asc", k=5,
                                offset=5).collect()
    assert [r["docid"] for r in page2] == [r["docid"] for r in full[5:]]
    assert [r["rank"] for r in page2] == [6, 7, 8, 9, 10]


def test_field_sort_deep_page_fails_loudly(spark, built):
    """A page deeper than fieldsort.MAX_DEPTH (offset + k rows collected to
    the driver) raises, pointing at keyset paging."""
    from solr_spark.query.fieldsort import MAX_DEPTH, field_sorted_search

    reader = IndexReader.open(built, CFG)
    for offset, k in ((MAX_DEPTH - 9, 10), (0, MAX_DEPTH + 1)):
        with pytest.raises(ValueError, match="cursor_page"):
            field_sorted_search(spark, reader, Q, "ts asc", k=k,
                                offset=offset)


def test_field_sort_rejects_score_and_unknown_field(spark, built):
    from solr_spark.query.fieldsort import field_sorted_search

    reader = IndexReader.open(built, CFG)
    with pytest.raises(ValueError, match="ranked path"):
        field_sorted_search(spark, reader, Q, "score desc, ts asc")
    with pytest.raises(ValueError, match="not a sortable column"):
        field_sorted_search(spark, reader, Q, "nope desc")
    with pytest.raises(ValueError, match="unknown sort direction"):
        field_sorted_search(spark, reader, Q, "ts descending")


def test_local_searcher_sort_parity(spark, built):
    """The serving-tier sort returns the identical page (docids, order,
    sort values, scores) as the distributed field_sorted_search."""
    from solr_spark.query.fieldsort import field_sorted_search

    reader = IndexReader.open(built, CFG)
    batch = field_sorted_search(spark, reader, Q, "ts desc", k=10,
                                filters=FQ, with_score=True).collect()
    ls = LocalSearcher(reader)
    serv = ls.search(Q, k=10, sort="ts desc", filters=FQ, with_score=True)
    assert [r["docid"] for r in serv] == [r["docid"] for r in batch]
    assert [r["rank"] for r in serv] == [r["rank"] for r in batch]
    for s, b in zip(serv, batch):
        assert abs(s["score"] - b["score"]) < 1e-9
    # offset paging keeps absolute ranks on both tiers
    p2 = ls.search(Q, k=5, offset=5, sort="ts desc", filters=FQ)
    assert [r["rank"] for r in p2] == [6, 7, 8, 9, 10]
    assert [r["docid"] for r in p2] == [r["docid"] for r in serv[5:]]
    with pytest.raises(ValueError, match="default collector"):
        ls.search(Q, k=5, sort="score desc")
    # the match set honours require_all / min_match on both tiers; compared
    # as a whole page, since the first rows agree even when the sets differ
    for kw in ({"require_all": True}, {"min_match": 2}):
        batch = field_sorted_search(spark, reader, Q, "ts desc", k=5000,
                                    **kw).collect()
        serv = ls.search(Q, k=5000, sort="ts desc", **kw)
        assert [r["docid"] for r in serv] == [r["docid"] for r in batch], kw


def test_json_search_sort_routing(spark, built):
    """sort in the JSON body: 'score desc' stays on the ranked collector;
    field clauses switch to the field collector; fields projection holds."""
    from solr_spark.query.fieldsort import field_sorted_search
    from solr_spark.query.jsonapi import json_search

    reader = IndexReader.open(built, CFG)
    ranked = json_search(spark, reader, {"query": Q, "limit": 5})
    ranked_s = json_search(spark, reader,
                           {"query": Q, "limit": 5, "sort": "score desc"})
    assert [r["docid"] for r in ranked.collect()] == \
           [r["docid"] for r in ranked_s.collect()]
    by_ts = json_search(spark, reader,
                        {"query": Q, "limit": 5, "sort": "ts desc",
                         "filter": FQ,
                         "fields": ["conv_id", "ts", "score"]})
    assert by_ts.columns == ["conv_id", "ts", "score"]
    direct = field_sorted_search(spark, reader, Q, "ts desc", k=5,
                                 filters=FQ, with_score=True)
    assert [r["conv_id"] for r in by_ts.collect()] == \
           [r["conv_id"] for r in direct.collect()]


def test_json_select_facets_count_match_set(spark, built):
    """/select contract: the facet block counts the ENTIRE q+fq match set,
    not the returned page."""
    from solr_spark.query.jsonapi import json_search, json_select

    reader = IndexReader.open(built, CFG)
    res = json_select(spark, reader,
                      {"query": Q, "limit": 5,
                       "facet": {"by_role": {"type": "terms",
                                             "field": "role"}}})
    assert res["docs"].count() == 5
    fac = {r["bucket"]: r["count"] for r in res["facets"]["by_role"].collect()}
    # oracle: count the SCORED match set (OR term semantics) per role —
    # the same DocSet the docs page ranks over
    from solr_spark.query.fieldsort import scored_match_docids

    fwd = reader.forward(spark)
    want = {r["role"]: r["n"] for r in
            fwd.join(scored_match_docids(spark, reader, Q), "docid")
               .groupBy("role")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert fac == want
    assert sum(fac.values()) > 5  # strictly more than the page
    # a facet block on json_search itself is a loud error
    with pytest.raises(ValueError, match="json_select"):
        json_search(spark, reader, {"query": Q, "facet": {"x": "sum(ts)"}})
