"""Delete path: soft tombstones at query time, hard purge at merge time.

Mirrors the reference's LSM delete lifecycle (stream/DeleteStream.java,
update/DirectUpdateHandler2.java; Lucene liveDocs): deletes are collect-time
masks that leave df/n_docs/avgdl untouched until a merge purges them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from solr_spark.config import IndexConfig
from solr_spark.indexing import (
    build_index,
    delete_by_terms,
    delete_docids,
    merge_segments,
)
from solr_spark.query.bm25 import IndexReader, bm25_topk, term_docs

CFG = IndexConfig(range_shift=8, num_term_buckets=8, stopwords="none",
                  lucene_norms=False)


@pytest.fixture()
def del_index(spark, tmp_path):
    rows = [
        ("c0", 0, "u", "error timeout retry", None, None),
        ("c1", 0, "u", "error merge", None, None),
        ("c2", 0, "u", "merge vector", None, None),
        ("c3", 0, "u", "error vector timeout", None, None),
        ("c4", 0, "u", "timeout timeout", None, None),
    ]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    index_dir = str(tmp_path / "delidx")
    build_index(spark, src, index_dir, CFG, input_token="del-fixture")
    return index_dir


def test_soft_delete_masks_queries_but_not_stats(spark, del_index):
    reader = IndexReader.open(del_index)
    before = {r.docid: r.score for r in
              bm25_topk(spark, reader, "error", k=10).collect()}
    assert len(before) == 3  # c0, c1, c3

    # deleteByQuery: docs containing 'vector' -> c2, c3
    n = delete_by_terms(spark, reader, ["vector"])
    assert n == 2

    after_w = bm25_topk(spark, reader, "error", k=10, mode="wand").collect()
    after_e = bm25_topk(spark, reader, "error", k=10, mode="exact").collect()
    assert [r.asDict() for r in after_w] == [r.asDict() for r in after_e]
    got = {r.docid: r.score for r in after_w}
    # deleted doc gone; SURVIVING scores unchanged (df still counts deleted)
    assert set(got) == {d for d in before if d not in
                        {r["docid"] for r in
                         term_docs(spark, reader, "vector",
                                   apply_deletes=False).collect()}}
    for d, s in got.items():
        assert s == pytest.approx(before[d], abs=1e-12)

    # term_docs masks; phrase path masks
    assert {r["docid"] for r in term_docs(spark, reader, "merge").collect()} \
        == {r["docid"] for r in term_docs(spark, reader, "merge",
                                          apply_deletes=False).collect()} \
        - {r["docid"] for r in term_docs(spark, reader, "vector",
                                         apply_deletes=False).collect()}

    from solr_spark.query.phrase import phrase_topk

    ph = phrase_topk(spark, reader, "merge vector", k=10).collect()
    assert ph == []  # only c2 contained the phrase, and it is tombstoned


def test_merge_purges_tombstones_and_drops_df(spark, del_index):
    reader = IndexReader.open(del_index)
    d0 = spark.read.parquet(os.path.join(del_index, "dictionary"))
    df_merge_before = d0.where(F.col("term") == "merge").head()["df"]
    assert df_merge_before == 2

    delete_by_terms(spark, reader, ["vector"])  # tombstone c2, c3
    merge_segments(spark, del_index, CFG)

    # tombstones applied + cleared
    assert not os.path.isdir(os.path.join(del_index, "deletes"))
    reader2 = IndexReader.open(del_index)
    d1 = spark.read.parquet(os.path.join(del_index, "dictionary"))
    assert d1.where(F.col("term") == "merge").head()["df"] == 1
    assert d1.where(F.col("term") == "vector").head() is None  # fully purged

    live = {r["docid"] for r in term_docs(spark, reader2, "error").collect()}
    assert len(live) == 2  # c0, c1
    # queries after purge == queries under soft delete (ranks and membership)
    got = bm25_topk(spark, reader2, "timeout", k=10).collect()
    assert {r.conv_id for r in got} == {"c0", "c4"}


def test_merge_refreshes_stats_and_watermark(spark, del_index, tmp_path):
    """A merge updates docCount/sumTotalTermFreq like Lucene: post-merge
    stats.json must equal a fresh build over the surviving docs (n_docs,
    sum_dl, avgdl — so BM25/LM scores match a live-only index), while
    n_total stays the docid-allocation watermark so add_documents never
    collides with ghost docids."""
    import json

    from solr_spark.indexing import add_documents

    reader = IndexReader.open(del_index)
    delete_by_terms(spark, reader, ["vector"])  # tombstone c2, c3
    merge_segments(spark, del_index, CFG)

    with open(os.path.join(del_index, "stats.json")) as f:
        stats = json.load(f)
    assert (stats["n_total"], stats["n_ghosts"], stats["n_docs"]) == (5, 2, 3)

    # fresh build over only the live docs agrees on every corpus stat
    live = [("c0", 0, "u", "error timeout retry", None, None),
            ("c1", 0, "u", "error merge", None, None),
            ("c4", 0, "u", "timeout timeout", None, None)]
    src = spark.createDataFrame(
        live, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, src, fresh_dir, CFG, input_token="live-only")
    with open(os.path.join(fresh_dir, "stats.json")) as f:
        fresh = json.load(f)
    assert stats["n_docs"] == fresh["n_docs"]
    assert stats["sum_dl"] == fresh["sum_dl"]
    assert stats["avgdl"] == pytest.approx(fresh["avgdl"], rel=1e-12)

    # BM25 scores post-merge == fresh live-only build (per conv_id)
    got = {r.conv_id: r.score for r in
           bm25_topk(spark, IndexReader.open(del_index), "timeout",
                     k=10).collect()}
    want = {r.conv_id: r.score for r in
            bm25_topk(spark, IndexReader.open(fresh_dir), "timeout",
                      k=10).collect()}
    assert set(got) == set(want) == {"c0", "c4"}
    for c in got:
        assert got[c] == pytest.approx(want[c], rel=1e-12)

    # add_documents keys off the watermark, not the live count
    new = spark.createDataFrame(
        [("c5", 0, "u", "error again", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    add_documents(spark, new, del_index, CFG)
    with open(os.path.join(del_index, "stats.json")) as f:
        stats2 = json.load(f)
    assert (stats2["n_total"], stats2["n_ghosts"], stats2["n_docs"]) == (6, 2, 4)
    r2 = IndexReader.open(del_index)
    new_docid = {r.conv_id: r.docid for r in
                 bm25_topk(spark, r2, "again", k=10).collect()}["c5"]
    assert new_docid == 5  # ghost ids 2,3 never reused


def test_delete_docids_direct(spark, del_index):
    reader = IndexReader.open(del_index)
    delete_docids(spark, del_index,
                  spark.createDataFrame([(0,)], "docid long"))
    assert 0 not in {r["docid"] for r in
                     term_docs(spark, reader, "error").collect()}


# ------------------------------------------------ positional queries + tombstones

def _ordered_freq(pos, terms, slop):
    """Ordered sloppy phrase frequency: greedy forward chains from each
    occurrence of the first term, weight 1/(1 + matchLength)."""
    f = 0.0
    for p1 in pos.get(terms[0], ()):
        cur = p1
        for t in terms[1:]:
            cur = next((p for p in pos.get(t, ()) if p > cur), None)
            if cur is None:
                break
        else:
            ml = cur - p1 - (len(terms) - 1)
            if ml <= slop:
                f += 1.0 / (1.0 + ml)
    return f


def _near_freq(pos, terms, window):
    """Pooled occurrence count of a doc whose minimal window covering every
    term is <= window, else 0."""
    occ = sorted(p for t in terms for p in pos.get(t, ()))
    spans = [max(min(q for q in pos[t] if q >= p) for t in terms) - p
             for p in occ
             if all(pos.get(t) and pos[t][-1] >= p for t in terms)]
    return len(occ) if spans and min(spans) <= window else 0


def _positional_cases():
    from solr_spark.query.phrase import lucene_sloppy_freq
    from solr_spark.query.spans import SpanNear, SpanTerm, span_eval

    span = SpanNear([SpanTerm("error"), SpanTerm("timeout")], 2, False)
    exact = ["error", "timeout"]
    return {
        "phrase": (lambda s, r, k: _phrase(s, r, "error timeout", k),
                   lambda pos: sum(1 for p in pos.get("error", ())
                                   if p + 1 in pos.get("timeout", ()))),
        "sloppy_phrase": (
            lambda s, r, k: _phrase(s, r, "error timeout", k, slop=2),
            lambda pos: _ordered_freq(pos, exact, 2)),
        "lucene_parity_phrase": (
            lambda s, r, k: _phrase(s, r, "retry error", k, slop=2,
                                    lucene_parity=True),
            lambda pos: lucene_sloppy_freq(
                [pos.get("retry", []), pos.get("error", [])], 2)
            if pos.get("retry") and pos.get("error") else 0.0),
        "near": (lambda s, r, k: _near(s, r, "error timeout", 3, k),
                 lambda pos: _near_freq(pos, exact, 3)),
        "span": (lambda s, r, k: _span(s, r, span, k),
                 lambda pos: len(span_eval(span, pos))),
        "complex_phrase": (
            lambda s, r, k: _complex(s, r, "serv* error", k),
            lambda pos: len(span_eval(SpanNear(
                [SpanTerm("server"), SpanTerm("error")], 1, True), pos))),
    }


def _phrase(spark, reader, text, k, **kw):
    from solr_spark.query.phrase import phrase_topk
    return phrase_topk(spark, reader, text, k=k, **kw)


def _near(spark, reader, text, window, k):
    from solr_spark.query.phrase import near_topk
    return near_topk(spark, reader, text, window, k=k)


def _span(spark, reader, node, k):
    from solr_spark.query.spans import span_topk
    return span_topk(spark, reader, node, k=k)


def _complex(spark, reader, text, k):
    from solr_spark.query.multiterm import complex_phrase_topk
    return complex_phrase_topk(spark, reader, text, k=k, slop=1)


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """A synthetic index with every other doc holding "error timeout"
    tombstoned, plus each live doc's analyzed positions by docid."""
    from solr_spark.analysis import analyze_text
    from solr_spark.data import synth_transcripts_pandas

    pdf = synth_transcripts_pandas(150, seed=9)
    index_dir = str(tmp_path_factory.mktemp("tombidx"))
    build_index(spark, spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, "
             "tool string, ts timestamp"), index_dir, CFG,
        input_token="tomb-150")
    keys = sorted((c, int(t), x) for c, t, x in
                  zip(pdf.conv_id, pdf.turn_idx, pdf.text))
    toks = [analyze_text(x, CFG) for _, _, x in keys]
    both = [d for d, ts in enumerate(toks)
            if any(ts[i:i + 2] == ["error", "timeout"]
                   for i in range(len(ts) - 1))]
    dead = set(both[::2])
    delete_docids(spark, index_dir, spark.createDataFrame(
        [(d,) for d in sorted(dead)], "docid long"))
    live = {}
    for d, ts in enumerate(toks):
        if d not in dead:
            pos: dict[str, list[int]] = {}
            for p, t in enumerate(ts):
                pos.setdefault(t, []).append(p)
            live[d] = (pos, len(ts))
    return index_dir, dead, live


@pytest.mark.parametrize("case", list(_positional_cases()))
def test_positional_queries_skip_tombstones(spark, tombstoned, case):
    """Phrase (exact, ordered-sloppy, lucene_parity), near, span and complex
    phrase after delete_docids: no tombstoned doc surfaces, and every live
    match scores with the query-time df of the LIVE matches (n_docs and
    avgdl still count the deleted docs, as for terms) — equal to a Python
    twin over the live docs."""
    import math

    run, freq = _positional_cases()[case]
    index_dir, dead, live = tombstoned
    reader = IndexReader.open(index_dir)
    got = [(r.docid, r.score) for r in run(spark, reader, 1000).collect()]
    assert got and not {d for d, _ in got} & dead

    tfs = {d: (f, dl) for d, (pos, dl) in live.items() if (f := freq(pos))}
    n, df = reader.n_docs, len(tfs)
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    want = sorted(((d, idf * tf / (tf + CFG.k1 * (
        1 - CFG.b + CFG.b * dl / reader.avgdl))) for d, (tf, dl) in
        tfs.items()), key=lambda x: (-x[1], x[0]))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s), (_, w) in zip(got, want):
        assert s == pytest.approx(w, abs=1e-9)
