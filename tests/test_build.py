"""Index-build verification: docids, term stats vs oracle, norms, manifests."""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import functions as F

from solr_spark.codec.varint import decode_postings


def test_docids_are_dense_rank(spark, small_corpus, small_corpus_pdf):
    from solr_spark.indexing import assign_doc_ids

    got = assign_doc_ids(small_corpus).select("conv_id", "turn_idx", "docid").collect()
    expected = {
        (c, t): i
        for i, (c, t) in enumerate(
            sorted(zip(small_corpus_pdf["conv_id"], small_corpus_pdf["turn_idx"]))
        )
    }
    assert len(got) == len(expected)
    for r in got:
        assert r["docid"] == expected[(r["conv_id"], r["turn_idx"])], r


def test_docids_partition_invariant(spark, small_corpus):
    from solr_spark.indexing import assign_doc_ids

    a = assign_doc_ids(small_corpus.coalesce(1), num_partitions=1)
    b = assign_doc_ids(small_corpus.repartition(7), num_partitions=5)
    rows_a = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in a.collect()}
    rows_b = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in b.collect()}
    assert rows_a == rows_b


def test_corpus_stats_match_oracle(built_index, oracle):
    _, _, stats = built_index
    assert stats["n_docs"] == oracle.n_docs
    assert stats["sum_dl"] == sum(oracle.doclen.values())
    assert abs(stats["avgdl"] - oracle.avgdl) < 1e-9


def test_dictionary_matches_oracle(spark, built_index, oracle):
    index_dir, _, _ = built_index
    rows = spark.read.parquet(os.path.join(index_dir, "dictionary")).collect()
    got = {r["term"]: (r["df"], r["cf"]) for r in rows}
    assert got == oracle.term_stats()


def test_postings_decode_matches_oracle(spark, built_index, oracle):
    index_dir, cfg, _ = built_index
    seg = spark.read.parquet(os.path.join(index_dir, "segments", "seg-000"))
    # verify a mix of hot and rare terms end-to-end
    stats = oracle.term_stats()
    by_df = sorted(stats.items(), key=lambda kv: -kv[1][0])
    probe = [by_df[0][0], by_df[1][0], by_df[len(by_df) // 2][0], by_df[-1][0]]
    for term in probe:
        rows = seg.where(F.col("term") == term).orderBy("range_id").collect()
        docids, tfs = [], []
        for r in rows:
            d, t, _ = decode_postings([bytes(r["doc_gaps"])], [bytes(r["tfs"])],
                                      [r["range_id"]], [r["n_docs"]],
                                      cfg.range_shift)
            docids.extend(d.tolist())
            tfs.extend(t.tolist())
        expected = sorted(oracle.postings[term].items())
        assert docids == [d for d, _ in expected], term
        assert tfs == [tf for _, tf in expected], term


def test_norms_match_oracle(spark, built_index, oracle):
    from solr_spark.codec.smallfloat import int_to_byte4

    index_dir, cfg, _ = built_index
    rows = spark.read.parquet(os.path.join(index_dir, "norms")).collect()
    got = {}
    for r in rows:
        arr = np.frombuffer(bytes(r["norm_bytes"]), dtype=np.uint8)
        for i, bval in enumerate(arr):
            got[r["base_docid"] + i] = int(bval)
    expected = {d: int(int_to_byte4(np.array([dl]))[0]) for d, dl in oracle.doclen.items()}
    assert got == expected


def test_roundtrip_every_term_retrievable(spark, built_index, oracle):
    """Every (term, doc) the analyzer emits is present in the posting lists."""
    index_dir, _, _ = built_index
    seg = spark.read.parquet(os.path.join(index_dir, "segments", "seg-000"))
    n_postings = seg.agg(F.sum("n_docs")).collect()[0][0]
    assert n_postings == sum(len(p) for p in oracle.postings.values())


def test_manifests_written(built_index):
    index_dir, _, _ = built_index
    for stage in ["analyzed", "norms", "seg-000", "dictionary"]:
        path = os.path.join(index_dir, "_manifests", f"{stage}.json")
        assert os.path.exists(path), stage
        with open(path) as f:
            m = json.load(f)
        assert m["status"] == "complete"
    with open(os.path.join(index_dir, "_manifests", "seg-000.json")) as f:
        seg_m = json.load(f)
    assert len(seg_m["partitions"]) > 0  # per-partition build metrics present
    assert all("file_bytes" in p and "postings" in p for p in seg_m["partitions"])


def test_skew_bounded(built_index):
    """Hot-term buckets stay within a bounded ratio of the median (FIXTURES.md §6)."""
    index_dir, _, _ = built_index
    with open(os.path.join(index_dir, "_manifests", "seg-000.json")) as f:
        parts = json.load(f)["partitions"]
    sizes = sorted(p["postings"] for p in parts)
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 20 * max(median, 1)


def test_build_with_all_stopword_partition(spark, tmp_path):
    """A partition whose documents all tokenize to nothing (stopword-only /
    punctuation-only turns) must not fail the posting build, and the full-config
    round-trip through stats.json must reopen with the build's analyzer config."""
    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    rows = [("c0", 0, "u", "the and of", None, None),
            ("c0", 1, "u", "!!! ...", None, None),
            ("c1", 0, "u", "error timeout retry", None, None),
            ("c1", 1, "u", "to of in", None, None)]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").repartition(4, "conv_id")
    cfg = IndexConfig(range_shift=8, num_term_buckets=4, stopwords="en",
                      max_token_length=40)
    index_dir = str(tmp_path / "idx")
    stats = build_index(spark, src, index_dir, cfg, input_token="stopword-edge")
    assert stats["n_docs"] == 4

    reader = IndexReader.open(index_dir)  # no explicit config: restored from stats
    assert reader.config == cfg
    got = bm25_topk(spark, reader, "error", k=5).collect()
    assert len(got) == 1 and got[0].conv_id == "c1" and got[0].turn_idx == 0


def test_degenerate_hot_term_build_and_query(spark, tmp_path):
    """A term present in EVERY doc (worst-case posting skew): the range-
    chunked build must keep per-partition posting rows bounded (no one task
    owns the whole hot list — build.py range-chunking, the UnInvertedField
    big-term lesson), and scored queries over the hot term stay
    rank-identical between exact and WAND modes."""
    import json as _json

    from solr_spark.config import IndexConfig
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    cfg = IndexConfig(range_shift=7, num_term_buckets=8)  # many small ranges
    rows = [(f"c{i}", 0, "u",
             "hot hot hot " + f"unique{i} filler{i % 7}", None, None)
            for i in range(2000)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").repartition(8)
    idx = str(tmp_path / "hotidx")
    build_index(spark, df, idx, cfg, input_token="hot-2k")
    reader = IndexReader.open(idx, cfg)

    # the hot term's postings are chunked per range: no single segment row
    # carries more than one range's worth of docs (2**range_shift)
    seg = reader.segments_df(spark).where(F.col("term") == "hot")
    assert seg.count() >= 2000 / (2 ** cfg.range_shift)
    assert seg.agg(F.max("n_docs")).first()[0] <= 2 ** cfg.range_shift

    wand = [(r["docid"], round(r["score"], 9)) for r in
            bm25_topk(spark, reader, "hot unique5", k=10, mode="wand").collect()]
    exact = [(r["docid"], round(r["score"], 9)) for r in
             bm25_topk(spark, reader, "hot unique5", k=10, mode="exact").collect()]
    assert wand == exact and len(wand) == 10
    # every doc matches the hot term
    from solr_spark.query.bm25 import term_docs
    assert term_docs(spark, reader, "hot").count() == 2000


def test_segments_info_admin_view(spark, built_index):
    """/admin/segments role: per-segment liveness, footprint, cardinalities."""
    from solr_spark.indexing.merge import segments_info

    index_dir, cfg, stats = built_index
    info = segments_info(spark, index_dir).collect()
    assert info, "at least one segment"
    assert all(r.live for r in info)  # fresh build: every segment live
    assert all(r.n_files > 0 and r.n_bytes > 0 for r in info)
    assert sum(r.postings for r in info) > 0
    assert all(r.min_range <= r.max_range for r in info)
    # doc_entries sums per-term doc counts; must be >= distinct terms
    assert all(r.doc_entries >= r.terms for r in info)
