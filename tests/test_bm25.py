"""BM25 rank-identity vs the pure-Python oracle (FIXTURES.md §2-3).

Query mix per FIXTURES.md: hot single term, rare single term, multi-term, absent
term, all-stopwords, case-variant duplicates; k=10 and k=100; exact and WAND modes
must agree with each other and with the oracle on both ranks and scores (1e-9).
"""

from __future__ import annotations

import pytest

from solr_spark.query import IndexReader, bm25_topk

QUERIES = [
    "error",                    # hot term
    "timeout retry",            # two hot-ish terms
    "error timeout connect",    # three terms
    "café",                     # unicode, rarer
    "v2.1.0",                   # punctuation token
    "it's error",               # apostrophe inside a token
    "zzz-not-in-corpus",        # absent -> empty
    "the and of",               # all stopwords -> empty
    "ERROR",                    # case variant of "error" -> identical results
    "error error",              # duplicate query term -> doubled weight
]


def _run(spark, built_index, q, k, mode, require_all=False):
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir)
    df = bm25_topk(spark, reader, q, k=k, mode=mode, require_all=require_all)
    return [(r["conv_id"], r["turn_idx"], r["docid"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("q", QUERIES)
@pytest.mark.parametrize("k", [10, 100])
@pytest.mark.parametrize("mode", ["exact", "wand"])
def test_rank_identical_to_oracle(spark, built_index, oracle, q, k, mode):
    got = _run(spark, built_index, q, k, mode)
    exp = oracle.topk(q, k=k)
    assert [(c, t, d) for c, t, d, _ in got] == [(c, t, d) for c, t, d, _ in exp], q
    for (_, _, _, gs), (_, _, _, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=1e-9), q


def test_case_variant_identical(spark, built_index):
    a = _run(spark, built_index, "error", 10, "wand")
    b = _run(spark, built_index, "ERROR", 10, "wand")
    assert a == b


def test_require_all_mode(spark, built_index, oracle):
    q = "error timeout"
    got = _run(spark, built_index, q, 10, "exact", require_all=True)
    exp = oracle.topk(q, k=10, require_all=True)
    assert [(c, t, d) for c, t, d, _ in got] == [(c, t, d) for c, t, d, _ in exp]
    # AND results must be a subset of docs matching both terms
    for _, _, d, _ in got:
        assert d in oracle.postings["error"] and d in oracle.postings["timeout"]


def test_scores_monotone_in_tf(oracle):
    """Property: within equal doc length, higher tf never scores lower."""
    term = "error"
    plist = oracle.postings[term]
    by_len: dict[int, list[tuple[int, int]]] = {}
    for d, tf in plist.items():
        by_len.setdefault(oracle.doclen[d], []).append((tf, d))
    idf = oracle.idf(term)
    k1, b = oracle.config.k1, oracle.config.b
    for dl, items in by_len.items():
        items.sort()
        from solr_spark.oracle.reference import _small_float_quantize

        dlq = _small_float_quantize(dl)
        scores = [idf * tf / (tf + k1 * (1 - b + b * dlq / oracle.avgdl)) for tf, _ in items]
        assert scores == sorted(scores)


def test_warm_reader_identical_results(spark, built_index):
    """warm() (persisted norms/doc-map) must not change any result."""
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    cold = IndexReader.open(index_dir, cfg)
    want = [r.asDict() for r in
            bm25_topk(spark, cold, "error timeout", k=8).collect()]
    warm = IndexReader.open(index_dir, cfg).warm(spark)
    try:
        got = [r.asDict() for r in
               bm25_topk(spark, warm, "error timeout", k=8).collect()]
        assert got == want
        got2 = [r.asDict() for r in
                bm25_topk(spark, warm, "error timeout", k=8).collect()]
        assert got2 == want  # repeatable on the cached structures
    finally:
        warm.close(spark)


def test_synonym_query_semantics(spark, built_index, small_corpus_pdf):
    """synonyms= uses Lucene SynonymQuery scoring: pooled tf per group,
    saturated once, idf from the max member df; wand == exact."""
    import math

    from solr_spark.analysis import analyze_text
    from solr_spark.oracle.reference import _small_float_quantize
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    syn = {"error": ["failure"]}
    got_w = bm25_topk(spark, reader, "error", k=12, mode="wand",
                      synonyms=syn).collect()
    got_e = bm25_topk(spark, reader, "error", k=12, mode="exact",
                      synonyms=syn).collect()
    assert [r.asDict() for r in got_w] == [r.asDict() for r in got_e]

    keys = sorted((r.conv_id, int(r.turn_idx), r.text)
                  for r in small_corpus_pdf.itertuples(index=False))
    tf_pool, dls, dfreq = {}, {}, {"error": 0, "failure": 0}
    for docid, (cid, tix, text) in enumerate(keys):
        toks = analyze_text(text, cfg)
        dls[docid] = len(toks)
        pooled = toks.count("error") + toks.count("failure")
        for t in ("error", "failure"):
            if t in toks:
                dfreq[t] += 1
        if pooled:
            tf_pool[docid] = pooled
    n = reader.n_docs
    avgdl = reader.avgdl
    idf = math.log(1.0 + (n - max(dfreq.values()) + 0.5)
                   / (max(dfreq.values()) + 0.5))
    scored = []
    for d, tf in tf_pool.items():
        dlq = _small_float_quantize(dls[d])
        scored.append(
            (d, idf * tf / (tf + cfg.k1 * (1 - cfg.b + cfg.b * dlq / avgdl))))
    want = sorted(scored, key=lambda x: (-x[1], x[0]))[:12]
    assert [(r.docid, round(r.score, 9)) for r in got_w] == \
        [(d, round(s, 9)) for d, s in want]


def test_synonym_overlap_with_require_all(spark, built_index, small_corpus_pdf):
    """A query term that is also another term's synonym member must NOT make
    require_all unsatisfiable: each canonical term owns its own group, so
    'error failed' + synonyms {error: [failed]} + require_all matches every
    doc containing 'failed' (group-error := error|failure, group-failed :=
    failure — the conjunction reduces to 'failure present')."""
    from solr_spark.analysis import analyze_text
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    syn = {"error": ["failed"]}
    got_w = bm25_topk(spark, reader, "error failed", k=500, mode="wand",
                      synonyms=syn, require_all=True).collect()
    got_e = bm25_topk(spark, reader, "error failed", k=500, mode="exact",
                      synonyms=syn, require_all=True).collect()
    assert [r.asDict() for r in got_w] == [r.asDict() for r in got_e]
    assert got_w, "overlapping synonym groups must stay satisfiable"

    keys = sorted((r.conv_id, int(r.turn_idx), r.text)
                  for r in small_corpus_pdf.itertuples(index=False))
    with_failure = {docid for docid, (_c, _t, text) in enumerate(keys)
                    if "failed" in analyze_text(text, cfg)}
    assert {r.docid for r in got_w} <= with_failure
    assert len(got_w) == min(500, len(with_failure))


def test_synonyms_none_path_unchanged(spark, built_index):
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    a = bm25_topk(spark, reader, "error timeout", k=10).collect()
    b = bm25_topk(spark, reader, "error timeout", k=10, synonyms={}).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_boolean_occurs_prohibited_and_required(spark, built_index):
    """`-term` (MUST_NOT) and `+term` (MUST) clause operators: exclusion is
    applied inside the scoring kernel before heap collection (ReqExclScorer
    shape), so WAND top-k equals exact top-k equals a semi/anti-join twin."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from solr_spark.query.bm25 import IndexReader, bm25_topk, term_docs
    from solr_spark.query.scored import scored_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q = "error timeout"

    # k above the corpus size so the twin sees EVERY match (the
    # exclusion removes ~94% of them; a truncated base would under-fill)
    base = bm25_topk(spark, reader, q, k=5000, mode="exact")
    excl_ids = {r.docid for r in
                term_docs(spark, reader, "retry").collect()}

    # twin: exclusion = anti-join of the unrestricted result
    want = [(r.docid, round(r.score, 9)) for r in base.collect()
            if r.docid not in excl_ids][:20]
    got_w = bm25_topk(spark, reader, q, k=20, mode="wand",
                      prohibited=["retry"])
    got_e = bm25_topk(spark, reader, q, k=20, mode="exact",
                      prohibited=["retry"])
    assert [(r.docid, round(r.score, 9)) for r in got_w.collect()] == want
    assert [(r.docid, round(r.score, 9)) for r in got_e.collect()] == want
    assert excl_ids and len(want) == 20  # exclusion actually bites

    # required: every hit contains the MUST term; scores unchanged vs base
    req_ids = {r.docid for r in term_docs(spark, reader, "error").collect()}
    want_r = [(r.docid, round(r.score, 9)) for r in base.collect()
              if r.docid in req_ids][:20]
    got_r = bm25_topk(spark, reader, q, k=20, mode="wand", required=["error"])
    assert [(r.docid, round(r.score, 9)) for r in got_r.collect()] == want_r

    # MUST + MUST_NOT together, via the scored parser
    got_s = scored_topk(spark, reader, "+error timeout -retry", k=20)
    want_s = [(r.docid, round(r.score, 9)) for r in base.collect()
              if r.docid in req_ids and r.docid not in excl_ids][:20]
    assert [(r.docid, round(r.score, 9)) for r in got_s.collect()] == want_s

    # required term absent from the query text is a usage error
    with _pytest.raises(ValueError, match="required"):
        bm25_topk(spark, reader, q, k=5, required=["merge"])
    # unsatisfiable MUST (term not in the index) -> empty
    assert bm25_topk(spark, reader, "error qqqzz", k=5,
                     required=["qqqzz"]).count() == 0
    # self-contradiction: term both scored and prohibited -> empty
    assert bm25_topk(spark, reader, "error", k=5,
                     prohibited=["error"]).count() == 0
    # prohibited term not in the index: no-op
    assert bm25_topk(spark, reader, q, k=5,
                     prohibited=["qqqzz"]).count() == 5

def test_maxscore_dismax_combiner(spark, built_index):
    """`{!maxscore}` (search/MaxScoreQParser.java:53): SHOULD clauses are
    dismaxed with a tiebreaker, MUST clauses pass through summed. Twin: the
    per-term contributions ARE single-term bm25_topk scores, so the dismax
    combination is recomputable doc-by-doc from single-term runs."""
    import pytest as _pytest

    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q = "error timeout retry"
    terms = q.split()
    tie = 0.3

    per_term = {
        t: {r.docid: r.score
            for r in bm25_topk(spark, reader, t, k=5000, mode="exact").collect()}
        for t in terms
    }

    def expect(required=None):
        docs = set()
        for t in terms:
            docs |= set(per_term[t])
        out = []
        for d in sorted(docs):
            should = [per_term[t].get(d, 0.0) for t in terms
                      if t != (required or "")]
            must = per_term.get(required, {}).get(d) if required else None
            if required is not None and must is None:
                continue  # MUST not satisfied
            mx = max(should) if should else 0.0
            sc = (must or 0.0) + mx + tie * (sum(should) - mx)
            if sc > 0.0:
                out.append((d, sc))
        out.sort(key=lambda x: (-x[1], x[0]))
        return [(d, round(s, 9)) for d, s in out[:20]]

    got_w = bm25_topk(spark, reader, q, k=20, mode="wand",
                      combine="dismax", tie=tie)
    got_e = bm25_topk(spark, reader, q, k=20, mode="exact",
                      combine="dismax", tie=tie)
    want = expect()
    assert [(r.docid, round(r.score, 9)) for r in got_w.collect()] == want
    assert [(r.docid, round(r.score, 9)) for r in got_e.collect()] == want

    # MUST pass-through: `retry` summed outside the dismax
    got_m = bm25_topk(spark, reader, q, k=20, mode="wand",
                      combine="dismax", tie=tie, required=["retry"])
    assert [(r.docid, round(r.score, 9))
            for r in got_m.collect()] == expect(required="retry")

    # tie=1.0 degrades to the ordinary BooleanQuery sum
    got_1 = bm25_topk(spark, reader, q, k=20, mode="wand",
                      combine="dismax", tie=1.0)
    base = bm25_topk(spark, reader, q, k=20, mode="wand")
    assert [(r.docid, round(r.score, 9)) for r in got_1.collect()] == \
        [(r.docid, round(r.score, 9)) for r in base.collect()]

    with _pytest.raises(ValueError, match="tie"):
        bm25_topk(spark, reader, q, k=5, combine="dismax", tie=1.5)
    with _pytest.raises(ValueError, match="synonyms"):
        bm25_topk(spark, reader, q, k=5, combine="dismax",
                  synonyms={"error": ["failure"]})
    with _pytest.raises(ValueError, match="combine"):
        bm25_topk(spark, reader, q, k=5, mode="exact", combine="nope")


def test_graph_terms_df_cap(spark, built_index):
    """`{!graphTerms}` (search/GraphTermsQParserPlugin.java:72): terms whose
    docFreq exceeds maxDocFreq match NOTHING; the rest union like a set query."""
    from solr_spark.query.bm25 import IndexReader, graph_terms_docs, term_docs

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    terms = ["error", "timeout", "retry"]
    dfs = {t: {r.docid for r in term_docs(spark, reader, t).collect()}
           for t in terms}
    counts = sorted(len(v) for v in dfs.values())
    cap = counts[1]  # keeps the two least-frequent terms, drops the max

    kept = [t for t in terms if len(dfs[t]) <= cap]
    want = sorted(set().union(*[dfs[t] for t in kept]))
    got = graph_terms_docs(spark, reader, terms, max_doc_freq=cap)
    assert sorted(r.docid for r in got.collect()) == want

    # no cap = plain set query over all terms
    got_all = graph_terms_docs(spark, reader, terms)
    assert sorted(r.docid for r in got_all.collect()) == \
        sorted(set().union(*dfs.values()))

    # cap below every df -> empty; empty terms -> empty
    assert graph_terms_docs(spark, reader, terms, max_doc_freq=0).count() == 0
    assert graph_terms_docs(spark, reader, [], max_doc_freq=10).count() == 0


def test_wand_query_job_budget(spark, built_index, count_jobs, kernel_tasks,
                               python_nodes, collected_arrow):
    """A WAND query whose postings fit one kernel task runs no Spark job:
    its posting rows come from one pyarrow read of the scan terms' bucket
    files (IndexReader.posting_rows), the range driver scores them on the
    driver and the ranked winners come back as a local relation. Nothing is
    collected through Spark, collecting the result runs no job, and the plan
    holds no Python node."""
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q = "error timeout connect"
    want = [tuple(r) for r in bm25_topk(spark, reader, q, k=10).collect()]

    del collected_arrow[:]
    df, call_jobs = count_jobs(lambda: bm25_topk(spark, reader, q, k=10))
    rows, run_jobs = count_jobs(df.collect)
    assert (call_jobs, run_jobs) == (0, 0)
    assert [tuple(r) for r in rows] == want
    assert _is_local(df) and kernel_tasks(df) == []
    assert collected_arrow == [] and python_nodes(df) == []


def _is_local(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().nodeName() == \
        "LocalRelation"


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _oracle_rows(oracle, q, k, n_docs, keep=lambda hit: True):
    return [h for h in oracle.topk(q, k=n_docs) if keep(h)][:k]


def _assert_oracle(got, exp):
    """got: (conv_id, turn_idx, docid, score, rank) rows; exp: the oracle's
    (conv_id, turn_idx, docid, score) hits."""
    assert [(c, t, d) for c, t, d, _s, _r in got] == \
        [(c, t, d) for c, t, d, _s in exp]
    assert [r for *_, r in got] == list(range(1, len(exp) + 1))
    for (*_, gs, _r), (*_, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=1e-9)


def _rows(df):
    return [(r.conv_id, r.turn_idx, r.docid, r.score, r.rank)
            for r in df.collect()]


def _spread(monkeypatch, reader, spark, q, k):
    """Lower the per-task postings budget so `q` spreads over > 1 kernel
    tasks; returns that task count."""
    from solr_spark.query import bm25

    monkeypatch.setattr(bm25, "POSTINGS_PER_TASK", 64)
    plan = bm25.plan_query(reader, reader.term_stats, q, k=k)
    n_ranges = -(-reader.n_docs >> reader.config.range_shift)
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = min(-(-plan.postings // 64), shuffle, n_ranges)
    assert n > 1
    return n


@pytest.mark.parametrize("mode", ["exact", "wand"])
@pytest.mark.parametrize("fq", [None, "turn_idx:[2 TO *]"])
def test_kernel_spreads_over_tasks_by_postings(spark, built_index, oracle,
                                               kernel_tasks, collected_arrow,
                                               monkeypatch, mode, fq):
    """A scan above POSTINGS_PER_TASK spreads over one kernel task per
    budget (capped by the shuffle partitions and the index's ranges); a scan
    within it runs its one kernel task on the driver and collects nothing
    once the reader holds the fq's words (the first fq query collects only
    its bitmaps). Both placements return a local relation, and the oracle's
    rows, plain and with fq."""
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q, k = "error timeout connect", 25
    filters = [fq] if fq else None

    first = _rows(bm25_topk(spark, reader, q, k=k, mode=mode,
                            filters=filters))
    assert [df.columns for df in collected_arrow] == \
        ([["range_id", "filter_bits"]] if fq else [])
    del collected_arrow[:]
    one = bm25_topk(spark, reader, q, k=k, mode=mode, filters=filters)
    assert _is_local(one) and kernel_tasks(one) == []
    assert collected_arrow == []
    want = _rows(one)
    assert want == first

    n = _spread(monkeypatch, reader, spark, q, k)
    del collected_arrow[:]
    many = bm25_topk(spark, reader, q, k=k, mode=mode, filters=filters)
    assert _is_local(many) and kernel_tasks(many) == []
    assert [kernel_tasks(df) for df in collected_arrow] == [[n]]
    assert _rows(many) == want
    _assert_oracle(want, _oracle_rows(
        oracle, q, k, reader.n_docs, lambda h: fq is None or h[1] >= 2))


@pytest.mark.parametrize("mode", ["exact", "wand"])
def test_tombstoned_winner_dropped_by_both_placements(spark, built_index,
                                                      oracle, monkeypatch,
                                                      tmp_path, mode):
    """A tombstoned doc that would win is dropped by the driver-side kernel,
    by the distributed one and by the oracle alike (stats keep counting it
    until merge, as Lucene's soft deletes do)."""
    import shutil

    from solr_spark.indexing.deletes import delete_docids

    index_dir, cfg, _ = built_index
    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    q, k = "error timeout connect", 10
    victim = oracle.topk(q, k=1)[0][2]
    delete_docids(spark, idx, spark.createDataFrame([(victim,)], "docid long"))
    reader = IndexReader.open(idx, cfg)

    one = _rows(bm25_topk(spark, reader, q, k=k, mode=mode))
    _spread(monkeypatch, reader, spark, q, k)
    many = _rows(bm25_topk(spark, reader, q, k=k, mode=mode))
    assert victim not in [d for _c, _t, d, _s, _r in one]
    assert one == many
    _assert_oracle(one, _oracle_rows(oracle, q, k, reader.n_docs,
                                     lambda h: h[2] != victim))


@pytest.mark.parametrize("mode", ["exact", "wand"])
def test_full_page_identical_on_both_placements(spark, built_index, oracle,
                                                monkeypatch, mode):
    """k = n_docs: the driver-side kernel and the distributed one return the
    same full ranked page, and it is the oracle's."""
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q, k = "error timeout connect", reader.n_docs

    one = _rows(bm25_topk(spark, reader, q, k=k, mode=mode))
    _spread(monkeypatch, reader, spark, q, k)
    many = _rows(bm25_topk(spark, reader, q, k=k, mode=mode))
    assert len(one) > 100 and one == many
    _assert_oracle(one, _oracle_rows(oracle, q, k, reader.n_docs))


def test_warm_runs_only_the_segment_job(spark, built_index, count_jobs):
    """warm() pins norms, the doc map and the dictionary on first use (no
    job: bm25_topk reads none of them); warm(segments=True) materializes
    the posting table every query scans, one job."""
    index_dir, cfg, _ = built_index
    for segments, jobs in ((False, 0), (True, 1)):
        reader = IndexReader.open(index_dir, cfg)
        try:
            assert count_jobs(lambda: reader.warm(spark, segments))[1] == jobs
        finally:
            reader.close(spark)


def test_cold_reader_lists_segments_once(spark, small_corpus, count_jobs,
                                         tmp_path, monkeypatch):
    """On an index with more term_bucket partitions than Spark lists on the
    driver (the default 64 buckets; above 32 a listing is a Spark job), a
    reader lists its segments once: after its first query, every
    bm25_topk that scans its postings in Spark (the driver's byte budget
    set to 0) runs one Spark job over call + collect."""
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query import bm25

    monkeypatch.setattr(bm25, "DRIVER_SCAN_BYTES", 0)

    idx = str(tmp_path / "idx64")
    build_index(spark, small_corpus.limit(200), idx,
                IndexConfig(range_shift=8, num_term_buckets=64),
                input_token="synth-200-b64")
    reader = IndexReader.open(idx)
    bm25_topk(spark, reader, "error", k=5).collect()
    for q in ("error timeout", "connect retry", "timeout"):
        df, call_jobs = count_jobs(lambda: bm25_topk(spark, reader, q, k=5))
        rows, run_jobs = count_jobs(df.collect)
        assert rows and call_jobs + run_jobs == 1


def test_cold_reader_resolves_dictionary_once(spark, small_corpus,
                                              count_jobs, tmp_path):
    """A reader without warm() resolves its dictionary handle once per
    dictionary write: on a 64-bucket index (a listing there is a Spark
    job) a second dictionary() call runs no job, term_bucket stays a
    column, and an expansion after add_documents sees the new terms."""
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.indexing.merge import add_documents
    from solr_spark.query.multiterm import expand_wildcard

    cfg = IndexConfig(range_shift=8, num_term_buckets=64)
    idx = str(tmp_path / "dict64")
    build_index(spark, small_corpus.limit(100), idx, cfg,
                input_token="synth-100-b64")
    reader = IndexReader.open(idx)
    assert "term_bucket" in reader.dictionary(spark).columns
    assert count_jobs(lambda: reader.dictionary(spark))[1] == 0
    assert expand_wildcard(spark, reader, "zebra*") == []

    extra = spark.createDataFrame(
        [("zz-new", 0, "user", "zebrafish error", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    add_documents(spark, extra, idx, cfg)
    assert expand_wildcard(spark, reader, "zebra*") == ["zebrafish"]


def test_winner_keys_fail_loudly_when_missing(built_index, oracle):
    """The ranking tail resolves its winners' (conv_id, turn_idx) from the
    forward table row-aligned, and a winner without a forward row raises
    rather than dropping out of the result."""
    import numpy as np

    from solr_spark.query.bm25 import _doc_keys

    index_dir, _, _ = built_index
    keys = _doc_keys(index_dir, np.array([7, 3], dtype=np.int64))
    assert list(keys.itertuples(index=False, name=None)) == \
        [oracle.docs[7], oracle.docs[3]]
    assert keys.turn_idx.dtype == np.int32
    with pytest.raises(RuntimeError, match="no forward row"):
        _doc_keys(index_dir, np.array([3, 10**9], dtype=np.int64))


def test_all_absent_terms_run_no_job(spark, built_index, count_jobs):
    """A query none of whose terms is in the dictionary returns the result
    schema with no rows, and neither planning nor collecting it launches a
    Spark job (no Python worker either)."""
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    df, plan_jobs = count_jobs(
        lambda: bm25_topk(spark, reader, "zzqxv qqzzv", k=10))
    rows, run_jobs = count_jobs(df.collect)
    assert rows == [] and plan_jobs == 0 and run_jobs == 0
    assert df.columns == ["conv_id", "turn_idx", "docid", "score", "rank"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
        ["string", "int", "bigint", "double", "int"]
