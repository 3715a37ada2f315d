"""Tests for search-component analogs (highlight, suggest, rerank, hash slices)
and BM25 min-should-match."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solr_spark.operators.components import (
    hash_partition_filter,
    highlight,
    rerank,
    suggest_terms,
)


def test_highlight(spark):
    df = spark.createDataFrame(
        [(1, "a fatal error occurred during merge"),
         (2, "all systems nominal"),
         (3, None)],
        "id int, msg string")
    out = {r["id"]: r["snip"] for r in df.select(
        "id", highlight(df, "msg", ["error", "merge"]).alias("snip")).collect()}
    assert "<em>error</em>" in out[1] and "fatal" in out[1]
    assert out[2] is None and out[3] is None


def test_suggest_terms(spark, built_index):
    index_dir, cfg, _ = built_index
    out = suggest_terms(spark, index_dir, "re", k=5).collect()
    assert 0 < len(out) <= 5
    assert all(r["term"].startswith("re") for r in out)
    dfs = [r["df"] for r in out]
    assert dfs == sorted(dfs, reverse=True)
    # "retry" is a hot head term in the synthetic vocabulary
    assert out[0]["term"] == "retry"


def test_suggest_infix_and_fuzzy(spark, built_index):
    """Infix suggester: contains-match with <b> highlight, df-ranked; fuzzy
    suggester: edit-distance lookup over the length-pruned dictionary."""
    from solr_spark.operators.components import suggest_fuzzy, suggest_infix

    index_dir, cfg, _ = built_index
    out = suggest_infix(spark, index_dir, "im", k=10).collect()
    assert out and all("im" in r["term"] for r in out)
    assert all(r["highlighted"] == r["term"].replace("im", "<b>im</b>")
               for r in out)
    dfs = [r["df"] for r in out]
    assert dfs == sorted(dfs, reverse=True)
    # "timeout" contains 'im' mid-word — the case prefix suggest can't serve
    assert "timeout" in {r["term"] for r in out}

    fz = suggest_fuzzy(spark, index_dir, "tymeout", k=5, max_edits=1).collect()
    assert fz and fz[0]["term"] == "timeout" and fz[0]["dist"] == 1
    assert all(r["dist"] <= 1 for r in fz)
    # exact-distance-0 ranks first when present
    fz0 = suggest_fuzzy(spark, index_dir, "timeout", k=5, max_edits=1).collect()
    assert fz0[0]["term"] == "timeout" and fz0[0]["dist"] == 0


def test_rerank(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 0.0), (2, 9.0, 5.0), (3, 8.0, 0.0), (4, 7.0, 99.0)],
        "id int, score double, boost double")
    out = rerank(df, F.col("boost"), rerank_docs=2,
                 first_sort=[F.desc("score"), F.asc("id")], weight=1.0)
    got = [r["id"] for r in out.collect()]
    # head = first-pass top-2 {1,2} reranked: 2 (9+5=14) over 1 (10);
    # tail keeps first-pass order: 3, 4 — doc 4's boost is NOT applied
    assert got == [2, 1, 3, 4]
    scores = {r["id"]: r["new_score"] for r in out.collect()}
    assert scores[2] == 14.0 and scores[4] == 7.0


def test_hash_partition_filter_covers_disjointly(spark):
    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    slices = [df.where(hash_partition_filter("k", 4, i)).count() for i in range(4)]
    assert sum(slices) == 1000
    assert all(s > 0 for s in slices)


def test_hash_range_filter_partitions_hash_space(spark):
    """{!hash_range} (HashRangeQuery.java:83): inclusive murmur3 ranges —
    adjacent ranges covering int32 reassemble the corpus exactly."""
    import pytest as _pytest

    from solr_spark.operators.components import hash_range_filter

    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    lo, hi = -(1 << 31), (1 << 31) - 1
    mid = 0
    a = df.where(hash_range_filter("k", lo, mid)).count()
    b = df.where(hash_range_filter("k", mid + 1, hi)).count()
    assert a + b == 1000 and a > 0 and b > 0
    # inclusive bounds: the full range matches everything
    assert df.where(hash_range_filter("k", lo, hi)).count() == 1000
    with _pytest.raises(ValueError, match="lower"):
        hash_range_filter("k", 5, 4)


def test_bm25_min_match(spark, built_index, oracle):
    from solr_spark.query import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q = "error timeout retry"
    loose = bm25_topk(spark, reader, q, k=500, mode="exact", min_match=1)
    strict = bm25_topk(spark, reader, q, k=500, mode="exact", min_match=2)
    allq = bm25_topk(spark, reader, q, k=500, mode="exact", require_all=True)
    n1, n2, n3 = loose.count(), strict.count(), allq.count()
    assert n1 >= n2 >= n3 > 0
    # wand agrees with exact under min_match
    w2 = bm25_topk(spark, reader, q, k=20, mode="wand", min_match=2)
    e2 = bm25_topk(spark, reader, q, k=20, mode="exact", min_match=2)
    assert [(r["docid"], round(r["score"], 9)) for r in w2.collect()] == \
           [(r["docid"], round(r["score"], 9)) for r in e2.collect()]


def test_ltr_linear_model(spark):
    from pyspark.sql import functions as F

    from solr_spark.operators.ltr import linear_model_score, ltr_rerank

    df = spark.createDataFrame(
        [(1, 10.0, 2.0), (2, 8.0, 5.0), (3, 6.0, 9.0), (4, 4.0, 1.0)],
        "id int, score double, feat double")
    out = ltr_rerank(df, {"f": "feat"}, {"f": 10.0}, intercept=1.0,
                     rerank_docs=2, first_sort=[F.desc("score"), F.asc("id")])
    rows = {r["id"]: r["new_score"] for r in out.collect()}
    # head (ids 1,2 by first-pass) rescored: score + 1 + 10*feat; tail kept
    assert rows[1] == 10.0 + 1.0 + 20.0
    assert rows[2] == 8.0 + 1.0 + 50.0
    assert rows[3] == 6.0 and rows[4] == 4.0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown features"):
        linear_model_score({"f": "feat"}, {"g": 1.0})


def test_phrase_count_overlapping_conformance(spark):
    """Exact Lucene slop-0 phrase-frequency conformance vectors, including the
    overlapping/adjacent cases a non-overlapping regex undercounts:
    'a a a' contains "a a" twice; 'b a b a b' contains "b a b" twice
    (Lucene ExactPhraseMatcher counts every start position)."""
    from pyspark.sql import functions as F

    from solr_spark.query.phrase import phrase_count_expr

    vectors = [
        ("a a a", ["a", "a"], 2),
        ("b a b a b", ["b", "a", "b"], 2),
        ("a b a b", ["a", "b"], 2),
        ("a b", ["a", "b"], 1),
        ("a", ["a", "b"], 0),
        ("", ["a", "b"], 0),
        ("x a b y a b a b", ["a", "b"], 3),
        ("a a a a", ["a", "a", "a"], 2),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(vectors)], "i int, toks string")
    for i, (_, terms, want) in enumerate(vectors):
        got = df.where(F.col("i") == i).select(
            phrase_count_expr(F.col("toks"), terms).alias("pf")).head()["pf"]
        assert got == want, f"vector {i}: got {got}, want {want}"


def test_phrase_topk_matches_python_twin(spark, built_index, small_corpus_pdf):
    """phrase_topk == a from-first-principles Python computation (phrase freq
    = count of matching start positions, Lucene slop-0 semantics; BM25 with
    tf=pf, df=phrase-df)."""
    import math

    from solr_spark.analysis import analyze_text
    from solr_spark.query.bm25 import IndexReader
    from solr_spark.query.phrase import phrase_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    phrase = "error timeout"
    got = phrase_topk(spark, reader, phrase, k=10).collect()

    terms = analyze_text(phrase, cfg)
    docs = {}
    keys = sorted(
        (r.conv_id, int(r.turn_idx), r.text)
        for r in small_corpus_pdf.itertuples(index=False))
    for docid, (cid, tix, text) in enumerate(keys):
        toks = analyze_text(text, cfg)
        pf = sum(1 for i in range(len(toks) - len(terms) + 1)
                 if toks[i:i + len(terms)] == terms)
        if pf:
            docs[docid] = (pf, len(toks))
    n, avgdl = reader.n_docs, reader.avgdl
    df_p = len(docs)
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    want = sorted(
        ((docid, idf * pf / (pf + cfg.k1 * (1 - cfg.b + cfg.b * dl / avgdl)))
         for docid, (pf, dl) in docs.items()),
        key=lambda x: (-x[1], x[0]))[:10]
    assert [(r.docid, round(r.score, 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]


def test_spellcheck_suggestions(spark, built_index):
    from solr_spark.operators.components import spellcheck

    index_dir, cfg, _ = built_index
    got = spellcheck(spark, index_dir, "erro", k=5, max_edits=2).collect()
    assert got, "expected suggestions near 'erro'"
    assert got[0]["term"] == "error"  # dist 1, high df in the synth corpus
    assert all(0 < r["dist"] <= 2 and r["term"] != "erro" for r in got)
    # exact word excluded even when present in the dictionary
    assert "erro" not in {r["term"] for r in got}


def test_near_topk_matches_python_twin(spark, built_index, small_corpus_pdf):
    """near_topk == minimal-covering-window twin computed in pure Python."""
    import math

    from solr_spark.analysis import analyze_text
    from solr_spark.query.bm25 import IndexReader
    from solr_spark.query.phrase import near_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    window = 4
    got = near_topk(spark, reader, "error timeout", window=window, k=10).collect()

    terms = set(analyze_text("error timeout", cfg))
    keys = sorted((r.conv_id, int(r.turn_idx), r.text)
                  for r in small_corpus_pdf.itertuples(index=False))
    docs = {}
    for docid, (cid, tix, text) in enumerate(keys):
        toks = analyze_text(text, cfg)
        occ = [(p, t) for p, t in enumerate(toks) if t in terms]
        if len({t for _, t in occ}) < len(terms):
            continue
        # brute-force minimal span containing every term
        best = None
        for i in range(len(occ)):
            seen = set()
            for j in range(i, len(occ)):
                seen.add(occ[j][1])
                if seen == terms:
                    span = occ[j][0] - occ[i][0]
                    best = span if best is None else min(best, span)
                    break
        if best is not None and best <= window:
            docs[docid] = (len(occ), len(toks))
    if not docs:
        assert got == []
        return
    n, avgdl = reader.n_docs, reader.avgdl
    dfn = len(docs)
    idf = math.log(1.0 + (n - dfn + 0.5) / (dfn + 0.5))
    want = sorted(
        ((d, idf * tf / (tf + cfg.k1 * (1 - cfg.b + cfg.b * dl / avgdl)))
         for d, (tf, dl) in docs.items()),
        key=lambda x: (-x[1], x[0]))[:10]
    assert [(r.docid, round(r.score, 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]


def test_bm25_boosts(spark, built_index):
    """`term^boost` clause boosts: boosted multi-term score decomposes into
    boost-weighted single-term scores; wand == exact under boosts."""
    import pytest as _pytest

    from solr_spark.query.bm25 import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    s_err = {r.docid: r.score for r in
             bm25_topk(spark, reader, "error", k=2000).collect()}
    s_tmo = {r.docid: r.score for r in
             bm25_topk(spark, reader, "timeout", k=2000).collect()}
    got_w = bm25_topk(spark, reader, "error timeout", k=2000, mode="wand",
                      boosts={"error": 2.0}).collect()
    got_e = bm25_topk(spark, reader, "error timeout", k=2000, mode="exact",
                      boosts={"error": 2.0}).collect()
    assert [r.asDict() for r in got_w] == [r.asDict() for r in got_e]
    want = {d: 2.0 * s_err.get(d, 0.0) + s_tmo.get(d, 0.0)
            for d in set(s_err) | set(s_tmo)}
    assert {r.docid for r in got_w} == set(want)
    for r in got_w:
        assert r.score == _pytest.approx(want[r.docid], abs=1e-9)


def test_team_draft_interleave(spark):
    """TeamDraft invariants (TeamDraftInterleavingTest role): no duplicate
    docs, balanced team pick counts, per-team relative order preserved,
    seeded determinism, k cap, one-list exhaustion."""
    from solr_spark.operators.ltr import team_draft_interleave

    a = spark.createDataFrame([(d, r) for r, d in enumerate([1, 2, 3, 4, 5], 1)],
                              "docid long, rank int")
    b = spark.createDataFrame([(d, r) for r, d in enumerate([4, 6, 1, 7], 1)],
                              "docid long, rank int")
    out = team_draft_interleave(a, b, seed=3).collect()
    docs = [r["docid"] for r in out]
    assert len(docs) == len(set(docs)) == 7       # union of {1..5} and {4,6,1,7}
    assert [r["rank"] for r in out] == list(range(1, 8))
    na = sum(1 for r in out if r["team"] == "A")
    nb = len(out) - na
    # balance holds until a list exhausts; overall bound is loose but ordered
    per_team = {"A": [r["docid"] for r in out if r["team"] == "A"],
                "B": [r["docid"] for r in out if r["team"] == "B"]}
    order_a = [d for d in [1, 2, 3, 4, 5] if d in per_team["A"]]
    order_b = [d for d in [4, 6, 1, 7] if d in per_team["B"]]
    assert per_team["A"] == order_a and per_team["B"] == order_b
    assert abs(na - nb) <= 3 and na > 0 and nb > 0
    # prefix balance: while both lists are live, counts never diverge by > 1
    ca = cb = 0
    for r in out[:6]:
        ca, cb = ca + (r["team"] == "A"), cb + (r["team"] == "B")
        assert abs(ca - cb) <= 1
    # seeded determinism + k cap
    again = team_draft_interleave(a, b, seed=3).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]
    top3 = team_draft_interleave(a, b, k=3, seed=3).collect()
    assert [tuple(r) for r in top3] == [tuple(r) for r in out[:3]]


def test_sloppy_phrase_conformance(spark, tmp_path):
    """Ordered sloppy-phrase vectors: weight 1/(1+matchLength), matchLength =
    span - (n-1); reversed order deliberately NOT matched (ordered-only,
    documented deviation from Lucene's reversed-alignment-at-slop>=2)."""
    import pytest as _pytest

    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader
    from solr_spark.query.phrase import phrase_topk

    docs = {
        "a": "merge join",              # ml=0 -> 1.0
        "b": "merge x join",            # ml=1 -> 0.5
        "c": "join merge",              # reversed -> no ordered match
        "d": "merge x x x join",        # ml=3 > slop=2 -> no match
        "e": "merge x join merge join", # 0.5 + 1.0 = 1.5
    }
    rows = [(cid, 0, "u", text, None, None) for cid, text in sorted(docs.items())]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    cfg = IndexConfig(range_shift=8, num_term_buckets=4, stopwords="none",
                      lucene_norms=False)
    index_dir = str(tmp_path / "slopidx")
    build_index(spark, src, index_dir, cfg, input_token="slop-vectors")
    reader = IndexReader.open(index_dir)
    got = phrase_topk(spark, reader, "merge join", k=10, slop=2).collect()
    by_conv = {r.conv_id: r for r in got}
    assert set(by_conv) == {"a", "b", "e"}

    # recompute scores from first principles: tf = sloppy freq, df = 3, raw dl
    import math

    sfreq = {"a": 1.0, "b": 0.5, "e": 1.5}
    dls = {cid: len(t.split()) for cid, t in docs.items()}
    n, df_p = reader.n_docs, 3
    avgdl = reader.avgdl
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    for cid in sfreq:
        tf = sfreq[cid]
        want = idf * tf / (tf + cfg.k1 * (1 - cfg.b + cfg.b * dls[cid] / avgdl))
        assert by_conv[cid].score == _pytest.approx(want, abs=1e-9), cid

    # slop=0 on the same index equals the exact path
    exact = phrase_topk(spark, reader, "merge join", k=10, slop=0).collect()
    assert {r.conv_id for r in exact} == {"a", "e"}


def test_lucene_sloppy_freq_vectors():
    """Hand-traced Lucene SloppyPhraseMatcher vectors (pq algorithm over
    adjusted positions): reversed alignments admitted at slop>=2, repeated
    minimization, multi-occurrence greediness. Each expectation derived by
    stepping the reference loop (SloppyPhraseMatcher.nextMatch) on paper."""
    import pytest as _pytest

    from solr_spark.query.phrase import lucene_sloppy_freq

    # query "a b" -> offsets 0,1. pos_lists are RAW positions per term.
    v = lucene_sloppy_freq
    assert v([[0], [1]], 0) == 1.0            # "a b" exact
    assert v([[1], [0]], 2) == _pytest.approx(1 / 3)   # "b a": reversed, ml=2
    assert v([[1], [0]], 1) == 0.0            # reversed needs slop >= 2
    assert v([[0], [2]], 2) == 0.5            # "a x b": ml=1
    assert v([[0, 4], [2]], 2) == 0.5         # "a x b x a": only (0,2) in slop
    assert v([[0, 4], [2]], 3) == _pytest.approx(0.75)  # + reversed (4,2) ml=3
    assert v([[1], [0, 2]], 2) == 1.0         # "b a b": exact inner "a b"
    # query "a b c" -> offsets 0,1,2
    assert v([[1], [2], [0]], 2) == 0.0       # "c a b": ml=3
    assert v([[1], [2], [0]], 3) == _pytest.approx(0.25)
    assert v([[1], [0], [2]], 2) == _pytest.approx(1 / 3)  # "b a c": ml=2


def test_sloppy_phrase_lucene_parity_end_to_end(spark, tmp_path):
    """lucene_parity=True admits the reversed doc the ordered kernel skips;
    ordered-only docs keep identical sloppy freqs in both modes."""
    import math

    import pytest as _pytest

    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader
    from solr_spark.query.phrase import phrase_topk

    docs = {
        "a": "merge join",              # ml=0 -> 1.0
        "b": "merge x join",            # ml=1 -> 0.5
        "c": "join merge",              # REVERSED: ml=2 -> 1/3 (Lucene only)
        "d": "merge x x x join",        # ml=3 > slop=2 -> no match
        "e": "merge x join merge join", # 0.5 + 1.0 = 1.5
    }
    rows = [(cid, 0, "u", t, None, None) for cid, t in sorted(docs.items())]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    cfg = IndexConfig(range_shift=8, num_term_buckets=4, stopwords="none",
                      lucene_norms=False)
    index_dir = str(tmp_path / "lpidx")
    build_index(spark, src, index_dir, cfg, input_token="slop-lucene")
    reader = IndexReader.open(index_dir)
    got = {r.conv_id: r for r in
           phrase_topk(spark, reader, "merge join", k=10, slop=2,
                       lucene_parity=True).collect()}
    assert set(got) == {"a", "b", "c", "e"}

    sfreq = {"a": 1.0, "b": 0.5, "c": 1 / 3, "e": 1.5}
    dls = {cid: len(t.split()) for cid, t in docs.items()}
    n, df_p, avgdl = reader.n_docs, 4, reader.avgdl
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    for cid, tf in sfreq.items():
        want = idf * tf / (tf + cfg.k1 * (1 - cfg.b + cfg.b * dls[cid] / avgdl))
        assert got[cid].score == _pytest.approx(want, abs=1e-9), cid

    # repeated-term phrases RETURN (routed to the ordered kernel, documented
    # deviation in phrase_matches) instead of raising: ordered-kernel
    # results pinned — "merge join merge"~2 ordered chains exist in doc e
    # ("merge x join merge join": merge0->join2->merge3 ml=1 -> 0.5;
    # merge3->join4->none)
    rep = {r.conv_id: r for r in
           phrase_topk(spark, reader, "merge join merge", k=10, slop=2,
                       lucene_parity=True).collect()}
    assert set(rep) == {"e"}
    ordered = {r.conv_id: r for r in
               phrase_topk(spark, reader, "merge join merge", k=10,
                           slop=2).collect()}
    assert rep["e"].score == _pytest.approx(ordered["e"].score, abs=1e-12)


def test_sloppy_phrase_repeated_terms(spark, tmp_path):
    """Phrase with a repeated term ('a a'): chains must advance past the start
    occurrence (strictly-after searchsorted)."""
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader
    from solr_spark.query.phrase import phrase_topk

    rows = [("r1", 0, "u", "a a a", None, None),
            ("r2", 0, "u", "a x a", None, None),
            ("r3", 0, "u", "a", None, None)]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    cfg = IndexConfig(range_shift=8, num_term_buckets=4, stopwords="none",
                      lucene_norms=False)
    index_dir = str(tmp_path / "repidx")
    build_index(spark, src, index_dir, cfg, input_token="slop-repeat")
    reader = IndexReader.open(index_dir)
    got = {r.conv_id: r for r in
           phrase_topk(spark, reader, "a a", k=10, slop=1).collect()}
    # r1: starts at p0 (next a at p1, ml=0 -> 1.0) and p1 (ml=0 -> 1.0): tf=2
    # r2: start p0 -> next a at p2, ml=1 -> 0.5; start p2 -> none: tf=0.5
    # r3: no chain
    assert set(got) == {"r1", "r2"}


def test_dictionary_expanded_fuzzy_prefix_wildcard(spark, built_index):
    """Scored multi-term queries: expansion against the ANALYZED dictionary,
    blended-group (SynonymQuery-style) scoring; identical to an explicit
    synonym query over the same member set."""
    from solr_spark.query.bm25 import IndexReader, bm25_topk
    from solr_spark.query.multiterm import (
        expand_fuzzy,
        expand_prefix,
        expand_wildcard,
        fuzzy_topk,
        prefix_topk,
        wildcard_topk,
    )

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)

    fz = expand_fuzzy(spark, reader, "erro", max_edits=1)
    assert "error" in fz
    got = fuzzy_topk(spark, reader, "erro", k=10, max_edits=1).collect()
    want = bm25_topk(spark, reader, fz[0], k=10, mode="wand",
                     synonyms={fz[0]: fz}).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert got, "fuzzy expansion of 'erro' must match docs"

    pr = expand_prefix(spark, reader, "re")
    assert pr and all(t.startswith("re") for t in pr)
    assert prefix_topk(spark, reader, "re", k=5).count() == 5

    wc = expand_wildcard(spark, reader, "t?rm0015")
    assert wc == ["term0015"]
    got_w = wildcard_topk(spark, reader, "t?rm0015", k=5).collect()
    want_w = bm25_topk(spark, reader, "term0015", k=5, mode="wand").collect()
    assert [r.docid for r in got_w] == [r.docid for r in want_w]

    # no expansion -> empty result, no error
    assert fuzzy_topk(spark, reader, "qqqqqqqqqq", k=5, max_edits=1).count() == 0

    # Lucene default transpositions=true: an adjacent swap is ONE edit
    # (FuzzyQuery OSA metric) — 'errro'~1 reaches 'error'; plain Levenshtein
    # (transpositions=False mode) needs 2 edits and misses it
    assert "error" in expand_fuzzy(spark, reader, "errro", max_edits=1)
    assert "error" not in expand_fuzzy(spark, reader, "errro", max_edits=1,
                                       transpositions=False)


def test_osa_distance_vectors():
    """OSA (optimal string alignment) edit distance — Lucene FuzzyQuery's
    transpositions=true metric. Hand vectors incl. the OSA-vs-full-Damerau
    divergence case."""
    from solr_spark.query.multiterm import osa_distance

    assert osa_distance("", "") == 0
    assert osa_distance("abc", "abc") == 0
    assert osa_distance("abc", "") == 3
    assert osa_distance("erorr", "error") == 1      # adjacent swap = 1 edit
    assert osa_distance("erorr", "error", cap=1) == 1
    assert osa_distance("kitten", "sitting") == 3   # classic Levenshtein case
    assert osa_distance("vectr", "vector") == 1     # insertion
    # OSA forbids editing a substring after transposing it: "ca" -> "abc" is
    # 2 under full Damerau-Levenshtein but 3 under OSA (and under Lucene)
    assert osa_distance("ca", "abc") == 3
    # cap early-exit returns a value strictly above the cap
    assert osa_distance("aaaaaa", "zzzzzz", cap=2) > 2


def test_ltr_tree_ensemble(spark):
    """MultipleAdditiveTreesModel: nested CASE WHEN trees, additive weights;
    feature <= threshold goes left."""
    import pytest as _pytest

    from solr_spark.operators.ltr import ltr_rerank, tree_score, trees_model_score

    df = spark.createDataFrame(
        [(1, 10.0, 2.0), (2, 8.0, 5.0), (3, 6.0, 9.0)],
        "id int, score double, feat double")
    trees = [
        {"weight": 0.5, "root": {
            "feature": "f", "threshold": 4.0,
            "left": {"value": 10.0},
            "right": {"feature": "f", "threshold": 8.0,
                      "left": {"value": 20.0}, "right": {"value": 40.0}}}},
        {"weight": 2.0, "root": {"value": 1.0}},
    ]
    feats = {"f": "feat"}
    got = {r.id: r.s for r in df.select(
        "id", trees_model_score(feats, trees).alias("s")).collect()}
    # feat=2 -> 0.5*10+2 = 7; feat=5 -> 0.5*20+2 = 12; feat=9 -> 0.5*40+2 = 22
    assert got == {1: 7.0, 2: 12.0, 3: 22.0}

    out = ltr_rerank(df, feats, None, rerank_docs=2,
                     first_sort=[F.desc("score"), F.asc("id")], trees=trees,
                     intercept=1.0)
    rows = {r.id: r.new_score for r in out.collect()}
    assert rows[1] == 10.0 + 7.0 + 1.0 and rows[2] == 8.0 + 12.0 + 1.0
    assert rows[3] == 6.0  # beyond rerank_docs: first-pass score kept

    with _pytest.raises(ValueError, match="unknown feature"):
        tree_score(feats, {"feature": "g", "threshold": 1.0,
                           "left": {"value": 0}, "right": {"value": 1}})
    with _pytest.raises(ValueError, match="exactly one"):
        ltr_rerank(df, feats, {"f": 1.0}, rerank_docs=2,
                   first_sort=[F.desc("score")], trees=trees)


def test_scored_query_string_surface(spark, built_index):
    """One-string `q` surface: terms, ^boosts, "phrase"~slop, fuzzy~N,
    wildcards — parsed and dispatched to the scoring kernels."""
    import pytest as _pytest

    from solr_spark.query.bm25 import IndexReader, bm25_topk
    from solr_spark.query.phrase import phrase_topk
    from solr_spark.query.scored import parse_scored_query, scored_topk

    sq = parse_scored_query('error timeout^2 "merge shard"~1^1.5 vectr~1 re*')
    assert sq.terms == [("error", 1.0), ("timeout", 2.0)]
    assert sq.phrases == [("merge shard", 1, 1.5)]
    assert sq.fuzzies == [("vectr", 1, 1.0)]
    assert sq.wildcards == [("re*", 1.0)]
    with _pytest.raises(ValueError, match="cannot parse"):
        parse_scored_query('ok "unterminated')

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)

    # plain terms + boost == bm25_topk with boosts
    got = scored_topk(spark, reader, "error timeout^2", k=10).collect()
    want = bm25_topk(spark, reader, "error timeout", k=10,
                     boosts={"timeout": 2.0}, mode="wand").collect()
    assert [(r.docid, round(r.score, 9)) for r in got] == \
        [(r.docid, round(r.score, 9)) for r in want]

    # single phrase-only query == phrase_topk
    got_p = scored_topk(spark, reader, '"error timeout"', k=10).collect()
    want_p = phrase_topk(spark, reader, "error timeout", k=10).collect()
    assert [(r.docid, round(r.score, 9)) for r in got_p] == \
        [(r.docid, round(r.score, 9)) for r in want_p]

    # phrase boost adds to matching docs' scores
    base = {r.docid: r.score for r in
            scored_topk(spark, reader, "error timeout", k=300).collect()}
    boosted = {r.docid: r.score for r in
               scored_topk(spark, reader, 'error timeout "error timeout"',
                           k=300).collect()}
    ph = {r.docid for r in phrase_topk(spark, reader, "error timeout",
                                       k=1000).collect()}
    bumped = {d for d in boosted if d in base
              and boosted[d] > base[d] + 1e-12}
    assert bumped and bumped <= ph

    # fuzzy clause resolves through the dictionary
    assert scored_topk(spark, reader, "erro~1", k=5).count() == 5
    # nothing parseable -> empty
    assert scored_topk(spark, reader, "zzznope~0", k=5).count() == 0


def test_best_passage(spark):
    from pyspark.sql import functions as F

    from solr_spark.operators.components import best_passage

    rows = [(1, "a b error c d error timeout e"),
            (2, "x y z"),
            (3, "timeout q")]
    df = spark.createDataFrame(rows, "id int, toks string")
    passage, score = best_passage("toks", {"error": 2.0, "timeout": 3.0},
                                  window=4)
    got = {r["id"]: (r["p"], r["s"]) for r in
           df.select("id", passage.alias("p"), score.alias("s")).collect()}
    # window [error, timeout, e] region scores 5.0 (both terms); earliest such
    assert got[1][1] == 5.0
    assert "<em>error</em>" in got[1][0] and "<em>timeout</em>" in got[1][0]
    assert got[2] == (None, None)          # no match -> NULL
    assert got[3] == ("<em>timeout</em> q", 3.0)  # short doc, whole-doc window


def test_explain_scores_sums_to_score(spark, built_index):
    """[explain] decomposition: per-doc sum(contribution) == retrieval score
    on the DEFAULT config (lucene_norms=True — exercises the quantized-dl
    step function), clause stats positive and df-consistent."""
    from collections import defaultdict

    from solr_spark.operators.components import explain_scores
    from solr_spark.query import IndexReader, bm25_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    q = "error timeout retry"
    rows = explain_scores(spark, reader, q, k=10).collect()
    assert rows, "explain returned no clauses"
    scores = {(r["conv_id"], r["turn_idx"]): r["score"]
              for r in bm25_topk(spark, reader, q, k=10, mode="wand").collect()}
    assert len(scores) == 10
    per_doc = defaultdict(float)
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        assert key in scores
        assert r["tf"] >= 1 and r["df"] >= 1
        assert r["idf"] > 0 and 0 < r["tf_norm"] < 1
        assert abs(r["contribution"] - r["idf"] * r["tf_norm"]) < 1e-12
        per_doc[key] += r["contribution"]
    for key, s in per_doc.items():
        assert abs(s - scores[key]) < 1e-9, (key, s, scores[key])
    # boost folds into idf: doubling a term's boost doubles its contribution
    boosted = explain_scores(spark, reader, q, k=10,
                             boosts={"error": 2.0}).collect()
    base = {(r["conv_id"], r["turn_idx"]): r["contribution"]
            for r in rows if r["term"] == "error"}
    for r in boosted:
        if r["term"] == "error" and (r["conv_id"], r["turn_idx"]) in base:
            assert abs(r["contribution"]
                       - 2.0 * base[(r["conv_id"], r["turn_idx"])]) < 1e-9


def test_spellcheck_collate(spark, built_index):
    from solr_spark.operators.components import spellcheck_collate
    from solr_spark.query import IndexReader
    from solr_spark.query.bm25 import terms_postings

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    # "erorr" is a 1-edit misspelling of "error"; "timeout" is in-dictionary
    out = spellcheck_collate(spark, reader, "erorr timeout",
                             k_corrections=3, max_collations=3).collect()
    assert out, "no collation produced"
    assert all(c["collation"].endswith(" timeout") for c in out)
    assert all(c["hits"] > 0 for c in out)
    best = out[0]
    assert best["collation"].split()[0] != "erorr"
    # verify the reported hit count against a direct conjunctive count
    t1, t2 = best["collation"].split()
    post = terms_postings(spark, reader, [t1, t2]).select("term", "docid").distinct()
    n = (post.groupBy("docid").count().where("count = 2").count())
    assert best["hits"] == n
    # hits are sorted descending
    assert [c["hits"] for c in out] == sorted((c["hits"] for c in out),
                                              reverse=True)
    # an all-known query collates to itself
    self_c = spellcheck_collate(spark, reader, "error timeout").collect()
    assert len(self_c) == 1 and self_c[0]["collation"] == "error timeout"
    # a hopeless term (no dictionary neighbor) yields no collation
    assert spellcheck_collate(spark, reader, "zzzzqqqq error").count() == 0


def test_suggest_freetext(spark):
    """FreeText suggester (Lucene FreeTextSuggester): stupid-backoff next-word
    completion. Hand-computed vectors on a tiny corpus."""
    import pytest as _pytest

    from solr_spark.operators.components import suggest_freetext

    rows = [(1, "fast scan fast sort fast scan"),
            (2, "slow scan fast scan"),
            (3, "sort merge")]
    df = spark.createDataFrame(rows, "id int, text string")
    # counts: fast=4, scan=4, sort=2, slow=1, merge=1  -> N=12
    # bigrams: (fast,scan)=3, (fast,sort)=1, (scan,fast)=2, (slow,scan)=1,
    #          (sort,fast)=1, (sort,merge)=1

    # context 'fast', prefix 's': bigram order (fast,scan)=3/4, (fast,sort)=1/4;
    # backoff order 0.4*scan 4/12, 0.4*sort 2/12, 0.4*slow 1/12; max per word
    got = {r.word: r.score for r in
           suggest_freetext(df, "text", "fast s", k=10).collect()}
    assert got["scan"] == _pytest.approx(0.75)
    assert got["sort"] == _pytest.approx(0.25)
    assert got["slow"] == _pytest.approx(round(0.4 * 1 / 12, 6))
    assert list(got) == ["scan", "sort", "slow"]  # score-desc order

    # trailing space: 'fast ' -> context=fast, any next word
    got_open = {r.word: r.score for r in
                suggest_freetext(df, "text", "fast ", k=10).collect()}
    assert got_open["scan"] == _pytest.approx(0.75)
    assert "merge" in got_open            # backoff admits unseen-after-fast
    assert got_open["merge"] == _pytest.approx(round(0.4 * 1 / 12, 6))

    # bare prefix, no context: pure backed-off unigram ranking
    got_uni = {r.word: r.score for r in
               suggest_freetext(df, "text", "s", k=10).collect()}
    assert got_uni["scan"] == _pytest.approx(round(0.4 * 4 / 12, 6))
    assert list(got_uni) == ["scan", "sort", "slow"]

    # unseen context backs off instead of erroring / dividing by zero
    got_miss = {r.word for r in
                suggest_freetext(df, "text", "zzz s", k=10).collect()}
    assert got_miss == {"scan", "sort", "slow"}

    with _pytest.raises(ValueError):
        suggest_freetext(df, "text", "   ")


def test_json_request_api(spark):
    """JSON Request API adapter: query/filter/fields/sort/offset/limit plus
    the facet tree (terms with nested stat, range with end cut, query,
    string-shorthand scalar), and unsupported-spec errors."""
    from solr_spark.query.jsonapi import json_facets, json_request

    df = spark.createDataFrame(
        [(1, "alpha join beta", "en", 10), (2, "join gamma", "fr", 30),
         (3, "no match here", "en", 50), (4, "join join", "fr", 20),
         (5, "outer join inner", "en", 40)],
        "doc_id int, text string, lang string, n int")

    got = json_request(df, {"query": "text:join", "filter": "n:[15 TO *]",
                            "fields": ["doc_id", "n"],
                            "sort": "n desc", "offset": 1, "limit": 2})
    assert [(r["doc_id"], r["n"]) for r in got.collect()] == [(2, 30), (4, 20)]

    # a JSON *string* body parses too; *:* matches everything
    assert json_request(df, '{"query": "*:*", "limit": 100}').count() == 5

    fs = json_facets(df, {
        "query": "text:join",
        "facet": {
            "langs": {"type": "terms", "field": "lang", "limit": 5,
                      "sort": "sum_n desc",
                      "facet": {"sum_n": "sum(n)"}},
            "sizes": {"type": "range", "field": "n", "start": 0, "gap": 25,
                      "end": 50},
            "big": {"type": "query", "q": "n:[25 TO *]"},
            "total_n": "sum(n)",
        }})
    langs = [(r["bucket"], r["count"], r["sum_n"]) for r in
             fs["langs"].collect()]
    assert langs == [("en", 2, 50), ("fr", 2, 50)]  # tie -> bucket asc
    sizes = {r["bucket_start"]: r["count"] for r in fs["sizes"].collect()}
    assert sizes == {0.0: 2, 25.0: 2}  # n=10,20 | n=30,40
    assert fs["big"].collect()[0]["count"] == 2
    assert fs["total_n"].collect()[0]["total_n"] == 100

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported facet stat"):
        json_facets(df, {"facet": {"bad": "median(n)"}})
    with _pytest.raises(ValueError, match="unsupported facet type"):
        json_facets(df, {"facet": {"bad": {"type": "hyperloglog"}}})
    with _pytest.raises(ValueError, match="latField"):
        json_facets(df, {"facet": {"bad": {"type": "heatmap"}}})


def test_json_subfacet_recursion(spark):
    """Terms-in-terms nested sub-facet: top-X outer x top-Y inner cells;
    >1 sub-facet and non-terms sub-facets are rejected."""
    from solr_spark.query.jsonapi import json_facets

    df = spark.createDataFrame(
        [("en", "web"), ("en", "web"), ("en", "book"), ("en", "chat"),
         ("fr", "web"), ("fr", "book"), ("de", "chat")],
        "lang string, source string")
    fs = json_facets(df, {"facet": {"langs": {
        "type": "terms", "field": "lang", "limit": 2,
        "facet": {"srcs": {"type": "terms", "field": "source",
                           "limit": 1}}}}},
        default_field="lang")
    got = [(r["bucket"], r["srcs"], r["count"]) for r in
           fs["langs"].collect()]
    # top-2 langs by total (en=4, fr=2), top-1 source per lang by cell count
    assert got == [("en", "web", 2), ("fr", "book", 1)]

    import pytest as _pytest
    # round 5: sibling sub-facet MAPS decompose into per-branch chains
    sib = json_facets(df, {"facet": {"x": {"type": "terms", "field": "lang",
        "facet": {"a": {"type": "terms", "field": "source"},
                  "b": {"type": "terms", "field": "source"}}}}},
        default_field="lang")
    assert set(sib) == {"x/a", "x/b"}
    with _pytest.raises(ValueError, match="must be terms or range"):
        json_facets(df, {"facet": {"x": {"type": "terms", "field": "lang",
            "facet": {"a": {"type": "heatmap", "field": "source"}}}}},
            default_field="lang")


def test_json_facet_domain_filter(spark):
    """Per-facet domain.filter narrows one facet without touching the docs
    query; range facets reject non-string nested stats."""
    from solr_spark.query.jsonapi import json_facets

    df = spark.createDataFrame(
        [("en", 10), ("en", 30), ("fr", 30), ("fr", 50)],
        "lang string, n int")
    fs = json_facets(df, {"facet": {
        "all_langs": {"type": "terms", "field": "lang"},
        "big_langs": {"type": "terms", "field": "lang",
                      "domain": {"filter": "n:[30 TO *]"}},
    }}, default_field="lang")
    assert {r["bucket"]: r["count"] for r in fs["all_langs"].collect()} == \
        {"en": 2, "fr": 2}
    assert {r["bucket"]: r["count"] for r in fs["big_langs"].collect()} == \
        {"en": 1, "fr": 2}

    # range facets CARRY terms sub-facets since round 4 (q116: routed
    # through the facet_tree compilation)
    rf = json_facets(df, {"facet": {"r": {"type": "range", "field": "n",
        "start": 0, "gap": 40, "end": 80,
        "facet": {"x": {"type": "terms", "field": "lang"}}}}},
        default_field="lang")["r"]
    got_rf = {(r.bucket, r.x): r["count"] for r in rf.collect()}
    assert got_rf == {(0.0, "en"): 2, (0.0, "fr"): 1, (40.0, "fr"): 1}

    # round 5: a range node with sibling sub-facets branches per path
    sib = json_facets(df, {"facet": {"r": {"type": "range", "field": "n",
        "start": 0, "gap": 10,
        "facet": {"a": {"type": "terms", "field": "lang"},
                  "b": {"type": "terms", "field": "lang"}}}}},
        default_field="lang")
    assert set(sib) == {"r/a", "r/b"}


def test_json_search_ranked(spark, built_index):
    """json_search: JSON body -> scored-query surface; rank-identical to
    calling the kernel directly; similarity param honored; filtering on a
    non-stored field fails loudly."""
    from solr_spark.query import IndexReader, bm25_topk
    from solr_spark.query.jsonapi import json_search
    from solr_spark.query.scored import scored_topk

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)

    got = json_search(spark, reader,
                      '{"query": "error timeout^2 -vector", "limit": 10}')
    want = scored_topk(spark, reader, "error timeout^2 -vector", k=10)
    assert [(r["docid"], round(r["score"], 9)) for r in got.collect()] == \
           [(r["docid"], round(r["score"], 9)) for r in want.collect()]

    sim = json_search(spark, reader, {"query": "error timeout", "limit": 5,
                                      "params": {"similarity": "classic"}})
    ref = bm25_topk(spark, reader, "error timeout", k=5,
                    similarity="classic")
    assert [r["docid"] for r in sim.collect()] == \
           [r["docid"] for r in ref.collect()]

    # this fixture's index stores no `role` column: the q+fq path must fail
    # with the stored_cols fix in the message, not a raw Catalyst error
    # (the positive filter path is covered in tests/test_filtered.py)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="stored_cols"):
        json_search(spark, reader, {"query": "error",
                                    "filter": ["role:user"]})


def test_terms_enum_bounds_regex_sorts(spark, built_index):
    """TermsComponent surface: lower/upper bounds with inclusivity, prefix,
    whole-term regex, mincount/maxcount, and both terms.sort orders."""
    from solr_spark.operators.components import terms_enum

    idx = built_index[0]
    all_terms = {r["term"]: r["df"]
                 for r in terms_enum(spark, idx, limit=10**6,
                                     sort="index").collect()}
    assert len(all_terms) > 20

    got = terms_enum(spark, idx, lower="r", upper="t", upper_incl=False,
                     limit=10**6, sort="index").collect()
    want = sorted(t for t in all_terms if "r" <= t < "t")
    assert [r["term"] for r in got] == want and want

    # exclusive lower bound drops the bound term itself
    first = want[0]
    got = terms_enum(spark, idx, lower=first, lower_incl=False, upper="t",
                     limit=10**6, sort="index").collect()
    assert [r["term"] for r in got] == want[1:]

    # regex is anchored whole-term (Pattern.matches), not a substring search
    got = {r["term"] for r in
           terms_enum(spark, idx, regex="err", limit=10**6).collect()}
    assert got == ({"err"} & set(all_terms))
    got = {r["term"] for r in
           terms_enum(spark, idx, regex="err.*", limit=10**6).collect()}
    assert got == {t for t in all_terms if t.startswith("err")} and got

    # mincount/maxcount band + count order (df desc, term asc tiebreak)
    lo, hi = 3, 50
    got = terms_enum(spark, idx, mincount=lo, maxcount=hi, limit=10**6,
                     sort="count").collect()
    want = sorted(((t, df) for t, df in all_terms.items()
                   if lo <= df <= hi), key=lambda x: (-x[1], x[0]))
    assert [(r["term"], r["df"]) for r in got] == want and want

    import pytest as _pt
    with _pt.raises(ValueError):
        terms_enum(spark, idx, sort="alpha")


def test_luke_df_histogram(spark, built_index):
    """log2(df) bucket histogram totals reconcile with the dictionary."""
    import math

    from solr_spark.operators.components import luke_df_histogram, terms_enum

    rows = luke_df_histogram(spark, built_index[0]).collect()
    terms = terms_enum(spark, built_index[0], limit=10**6,
                       sort="index").collect()
    want: dict[int, list[int]] = {}
    for r in terms:
        b = int(math.floor(math.log2(r["df"])))
        acc = want.setdefault(b, [0, 0])
        acc[0] += 1
        acc[1] += r["df"]
    got = {r["bucket"]: [r["n_terms"], r["sum_df"]] for r in rows}
    assert got == want
    assert [r["bucket"] for r in rows] == sorted(got)
    assert sum(r["sum_cf"] for r in rows) >= sum(r["sum_df"] for r in rows)


def test_json_search_fields_projection(spark, built_index):
    """fl on the ranked JSON path: result columns project directly; stored
    fields join by docid; unknown fields raise with the stored list."""
    import pytest as _pt

    from solr_spark.query import IndexReader, bm25_topk
    from solr_spark.query.jsonapi import json_search

    idx, cfg, _ = built_index
    reader = IndexReader.open(idx, cfg)
    body = {"query": "error timeout", "limit": 5,
            "fields": ["conv_id", "score"]}
    got = json_search(spark, reader, body).collect()
    assert got and got[0].asDict().keys() == {"conv_id", "score"}
    want = bm25_topk(spark, reader, "error timeout", k=5).collect()
    assert [(r["conv_id"], round(r["score"], 10)) for r in got] == \
        [(r["conv_id"], round(r["score"], 10)) for r in want]

    with _pt.raises(ValueError, match="neither result columns"):
        json_search(spark, reader, {"query": "error", "limit": 3,
                                    "fields": ["no_such_field"]})
    # round 5: sort accepted — "score desc" IS the ranked collector; mixing
    # score with field clauses still raises loudly
    ranked = json_search(spark, reader, {"query": "error timeout",
                                         "limit": 5, "sort": "score desc"})
    assert [(r["conv_id"], round(r["score"], 10))
            for r in ranked.collect()] == \
        [(r["conv_id"], round(r["score"], 10)) for r in want]
    with _pt.raises(ValueError, match="ranked path"):
        json_search(spark, reader,
                    {"query": "error", "sort": "score desc, conv_id asc"})


def test_term_vectors_component(spark, built_index):
    """TermVectorComponent.java:150-195 — tf/positions/df/tf-idf options;
    tf-idf = tf/df (:392)."""
    from solr_spark.operators.components import term_vectors_component
    from solr_spark.query import IndexReader

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    ids = [r["docid"] for r in reader.doc_map(spark).limit(3).collect()]
    tv = term_vectors_component(spark, reader, ids)
    assert set(tv.columns) == {"docid", "term", "tf", "positions", "df",
                               "tf_idf"}
    rows = tv.collect()
    assert rows and all(r["tf"] == len(r["positions"]) for r in rows)
    assert all(r["df"] >= 1 for r in rows)
    for r in rows:
        assert abs(r["tf_idf"] - r["tf"] / r["df"]) < 1e-12
        assert r["positions"] == sorted(r["positions"])
    # option toggles drop columns, as tv.positions/tv.df/tv.tf_idf do
    lean = term_vectors_component(spark, reader, ids, positions=False,
                                  doc_freq=False, tf_idf=False)
    assert set(lean.columns) == {"docid", "term", "tf"}
    only_df = term_vectors_component(spark, reader, ids, positions=False,
                                     tf_idf=False)
    assert set(only_df.columns) == {"docid", "term", "tf", "df"}


def test_suggest_documents_weighted(spark):
    """DocumentDictionaryFactory role: field-value suggestions ranked by an
    explicit weight column; duplicates collapse to the max-weight entry with
    the payload following the winning row; no weight column -> weight 1."""
    from solr_spark.operators.components import suggest_documents

    docs = spark.createDataFrame(
        [("apple pie", 5.0, "p1"), ("apple pie", 9.0, "p2"),
         ("apple tart", 2.0, "p3"), ("banana", 100.0, "p4")],
        "title string, pop double, pid string")
    out = suggest_documents(docs, "title", "app", weight_col="pop",
                            payload_col="pid", k=10).collect()
    assert [(r["term"], r["weight"], r["payload"]) for r in out] == [
        ("apple pie", 9.0, "p2"), ("apple tart", 2.0, "p3")]
    flat = suggest_documents(docs, "title", "app", k=10).collect()
    assert all(r["weight"] == 1.0 for r in flat)


def test_suggest_documents_contexts(spark):
    """Suggester context filtering (contextField + suggest.cfq,
    ContextQuery): only docs in the requested contexts feed suggestions;
    scalar contexts use IN, array contexts match on overlap; half-passed
    params raise."""
    import pytest as _pytest

    from solr_spark.operators.components import suggest_documents

    docs = spark.createDataFrame(
        [("apple pie", 5.0, "us", ["food", "dessert"]),
         ("apple tart", 9.0, "fr", ["dessert"]),
         ("apple cider", 2.0, "us", ["drink"])],
        "title string, pop double, region string, tags array<string>")

    us = suggest_documents(docs, "title", "app", weight_col="pop",
                           contexts_col="region", contexts=["us"]).collect()
    assert [r["term"] for r in us] == ["apple pie", "apple cider"]

    # array contexts: any-overlap semantics
    sweet = suggest_documents(docs, "title", "app", weight_col="pop",
                              contexts_col="tags",
                              contexts=["dessert"]).collect()
    assert [r["term"] for r in sweet] == ["apple tart", "apple pie"]
    multi = suggest_documents(docs, "title", "app", weight_col="pop",
                              contexts_col="tags",
                              contexts=["drink", "dessert"]).collect()
    assert len(multi) == 3

    with _pytest.raises(ValueError, match="together"):
        suggest_documents(docs, "title", "app", contexts_col="region")
    with _pytest.raises(ValueError, match="together"):
        suggest_documents(docs, "title", "app", contexts=["us"])


def test_word_break_suggestions(spark, built_index):
    """WordBreakSpellChecker break direction: split a zero-hit word into
    dictionary words, fewest changes first."""
    from solr_spark.operators.components import suggest_word_breaks

    index_dir, cfg, _ = built_index
    out = suggest_word_breaks(spark, index_dir, "errortimeout",
                              min_break_length=3, max_changes=1).collect()
    assert out and out[0].suggestion == "error timeout"
    assert out[0].n_changes == 1 and out[0].score > 0
    # max_changes=2 finds the 3-way split, ordered after any 2-way splits
    out3 = suggest_word_breaks(spark, index_dir, "retryservererror",
                               min_break_length=3, max_changes=2, k=10).collect()
    assert any(r.suggestion == "retry server error" and r.n_changes == 2
               for r in out3)
    two_way = [r for r in out3 if r.n_changes == 1]
    idx3 = [r.suggestion for r in out3].index("retry server error")
    assert all([r.suggestion for r in out3].index(r.suggestion) < idx3
               for r in two_way)
    # sum_freq vs max_freq agree on membership, may reorder
    s = suggest_word_breaks(spark, index_dir, "errortimeout",
                            min_break_length=3, sort_by="sum_freq").collect()
    assert {r.suggestion for r in s} == {r.suggestion for r in out}
    # unsplittable word -> empty
    assert suggest_word_breaks(spark, index_dir, "zzzzqqqq").count() == 0


def test_word_combinations(spark, built_index):
    from solr_spark.operators.components import suggest_word_combinations

    index_dir, cfg, _ = built_index
    out = suggest_word_combinations(
        spark, index_dir, ["time", "out", "mer", "ge"], k=5).collect()
    got = {(r.start_idx, r.length): r.suggestion for r in out}
    assert got.get((0, 2)) == "timeout"
    assert got.get((2, 2)) == "merge"
    assert all(r.df > 0 for r in out)
    # adjacent-only: ("time","ge") never combines
    assert (0, 3) not in got  # length capped by max_changes=1
    # 3-term combine with max_changes=2 (no such vocab word here -> absent)
    out2 = suggest_word_combinations(
        spark, index_dir, ["time", "out", "mer", "ge"], max_changes=2).collect()
    assert {(r.start_idx, r.length) for r in out2} == {(0, 2), (2, 2)}


def test_blended_infix_suggester(spark):
    """BlendedInfixSuggester: token-prefix match, position-discounted weight
    (reciprocal and linear blenders)."""
    from solr_spark.operators.components import suggest_blended_infix

    df = spark.createDataFrame(
        [("merge the segments", 10.0),
         ("the merge policy", 10.0),
         ("a slow but thorough mergesort", 10.0),
         ("no match here", 99.0)],
        "phrase string, w double")
    out = suggest_blended_infix(df, "phrase", "mer", "w").collect()
    got = {r.suggestion: (r.position, r.score) for r in out}
    assert "no match here" not in got
    assert got["merge the segments"] == (0, 10.0)
    assert got["the merge policy"] == (1, 5.0)          # 10 * 1/(1+1)
    assert got["a slow but thorough mergesort"] == (4, 2.0)  # 10 * 1/5
    # order: highest blended score first
    assert [r.suggestion for r in out][0] == "merge the segments"
    lin = suggest_blended_infix(df, "phrase", "mer", "w", blender="linear")
    lg = {r.suggestion: r.score for r in lin.collect()}
    assert lg["the merge policy"] == 9.0                # 10 * (1 - 0.1)
    assert abs(lg["a slow but thorough mergesort"] - 6.0) < 1e-9


def test_term_vector_component(spark, built_index):
    """/tv (TermVectorComponent.java): per-doc tf, corpus df, and the
    reference's literal tf/df 'tf-idf' (:391); docid selection bounded."""
    from solr_spark.operators.components import term_vector_component
    from solr_spark.query.bm25 import IndexReader, term_docs

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    tv = term_vector_component(spark, reader, [0, 1]).collect()
    assert tv and all(r.docid in (0, 1) for r in tv)
    by_term = {(r.docid, r.term): r for r in tv}
    for (docid, term), r in by_term.items():
        assert r.tf >= 1
        n_df = term_docs(spark, reader, term).count()
        assert r.df == n_df
        assert abs(r.tf_idf - r.tf / r.df) < 1e-12
        break  # one spot-check per run keeps the test fast

    flat = term_vector_component(spark, reader, [0], with_df=False,
                                 with_tfidf=False)
    assert flat.columns == ["docid", "term", "tf"]


def test_luke_histogram(spark, built_index):
    """/admin/luke histogram (LukeRequestHandler.java:1169): power-of-two df
    buckets with the handler's slot arithmetic; bucket totals = vocabulary."""
    from solr_spark.operators.components import luke_histogram

    index_dir, cfg, _ = built_index
    rows = luke_histogram(spark, index_dir).collect()
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(buckets)
    assert all(b >= 1 and (b & (b - 1)) == 0 for b in buckets)  # powers of 2
    import os

    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    assert sum(r.n_terms for r in rows) == d.count()
    # slot arithmetic spot checks: df=1 -> bucket 1, df in (2,4] -> bucket 4
    df_counts = {r.df: r for r in d.groupBy("df").count().collect()}
    if 1 in df_counts:
        one = [r.n_terms for r in rows if r.bucket == 1]
        assert one and one[0] >= 1


def test_json_queries_named_refs(spark, built_index):
    """Top-level `queries` (RequestUtil.java:239): named strings resolved
    through {"param": name} refs in query/filter; non-map queries, unknown
    refs, and non-ref query objects raise."""
    import pytest as _pytest

    from solr_spark.query.bm25 import IndexReader
    from solr_spark.query.jsonapi import json_search

    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    direct = json_search(spark, reader,
                         {"query": "error timeout", "limit": 5}).collect()
    via_ref = json_search(spark, reader, {
        "queries": {"main": "error timeout"},
        "query": {"param": "main"}, "limit": 5}).collect()
    assert [(r.docid, r.score) for r in via_ref] == \
        [(r.docid, r.score) for r in direct]

    with _pytest.raises(ValueError, match="expected map"):
        json_search(spark, reader, {"query": "x", "queries": ["a"]})
    with _pytest.raises(ValueError, match="unknown query ref"):
        json_search(spark, reader,
                    {"query": {"param": "nope"}, "queries": {"a": "x"}})
    with _pytest.raises(ValueError, match="no other keys"):
        json_search(spark, reader, {"query": {"param": "a", "extra": 1},
                                    "queries": {"a": "x"}})
    with _pytest.raises(ValueError, match="must be a string"):
        json_search(spark, reader,
                    {"query": {"param": "a"}, "queries": {"a": {"q": 1}}})


def test_phrases_identification_hand_vector(spark):
    """PhrasesIdentificationComponent restatement: candidate lattice
    (extractPhrases/addLinkages linking rules) + the Bayesian field score
    (computeFieldScore), checked against hand-computed values on a corpus
    where every stat is countable by eye."""
    import pytest as _pt

    from solr_spark.operators.components import (phrase_structure,
                                                 phrases_identify)

    # linking rules: sub = length==max_indexed spans (or self when shorter),
    # super = indexed spans STRICTLY containing the span
    st = {(p["start"], p["end"]): p
          for p in phrase_structure(["a", "b", "c"], 2, 3)}
    assert st[(0, 3)]["sub"] == [(0, 2), (1, 3)]
    assert st[(0, 1)]["sub"] == [(0, 1)]
    assert st[(1, 2)]["super"] == [(0, 2), (1, 3)]
    assert st[(0, 2)]["super"] == []
    assert not st[(0, 3)]["indexed"]

    docs = spark.createDataFrame(
        [("d1", "the quick brown fox jumps"),
         ("d2", "quick brown fox runs fast"),
         ("d3", "brown paint and quick thinking"),
         ("d4", "fox and quick brown fox")],
        "id string, text string")
    got = {r.phrase: r.score
           for r in phrases_identify(docs, "text", "quick brown fox",
                                     max_indexed=2, max_query=3).collect()}
    # unigrams score exactly 0; ttf(brown fox)=3 over min/max unigram ttf 4,
    # conj ratios hand-counted from the 4 docs (see formula in phrase_scores)
    assert got["quick"] == 0.0 and got["fox"] == 0.0
    assert got["brown fox"] == _pt.approx(0.375, abs=1e-12)
    assert got["quick brown"] == _pt.approx(0.375, abs=1e-12)
    assert got["quick brown fox"] == _pt.approx(0.421875, abs=1e-12)

    # a phrase whose words never co-occur in one doc scores -1 (not a phrase)
    got2 = {r.phrase: r.score
            for r in phrases_identify(docs, "text", "paint jumps",
                                      max_indexed=2, max_query=3).collect()}
    assert got2["paint jumps"] == -1.0
