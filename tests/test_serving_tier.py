"""Serving-tier edge shapes: exact score ties cut by k, an index of more than
one live segment, and a shard that owns no docid range. LocalSearcher and
ShardedSearcher must agree with bm25_topk on all of them. On the tombstoned
two-segment index, bm25_topk's fq cache (the reader's filterCache) and its
Spark-scan fallback are checked against the oracle too."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.config import IndexConfig
from solr_spark.data import synth_transcripts_spark
from solr_spark.indexing import build_index
from solr_spark.indexing.build import live_segments
from solr_spark.indexing.merge import add_documents
from solr_spark.query import (
    IndexReader,
    LocalSearcher,
    ShardedSearcher,
    bm25_topk,
    shard_index,
)

TIE_CFG = IndexConfig(range_shift=2, num_term_buckets=4, stopwords="none")
# one short doc scores highest; six identical turns tie for the next places
TIE_TEXTS = (["alpha"] + ["alpha beta gamma"] * 6
             + ["delta epsilon zeta"] * 9)


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    rows = [(f"c{i:02d}", 0, "user", t, None, None)
            for i, t in enumerate(TIE_TEXTS)]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    idx = str(tmp_path_factory.mktemp("tie_idx"))
    build_index(spark, src, idx, TIE_CFG, input_token="tie-16")
    return idx


def _hits(rows):
    return [(r["docid"], round(r["score"], 10)) for r in rows]


def test_ties_straddling_k_keep_lowest_docids(spark, tie_index,
                                              tmp_path_factory):
    reader = IndexReader.open(tie_index, TIE_CFG)
    fwd = {r.conv_id: r.docid
           for r in reader.forward(spark).select("conv_id", "docid").collect()}
    best = fwd["c00"]
    dups = sorted(fwd[f"c{i:02d}"] for i in range(1, 7))
    # the tie group spans more than one docid range
    assert len({d >> TIE_CFG.range_shift for d in dups}) >= 2
    local = LocalSearcher(reader)
    sharded = ShardedSearcher(shard_index(
        spark, reader, str(tmp_path_factory.mktemp("tie_shards")), 4))
    for k in (2, 4, 6):
        want = [best] + dups[:k - 1]
        got = {
            "local": _hits(local.search("alpha", k=k)),
            "sharded": _hits(sharded.search("alpha", k=k)),
            **{mode: _hits(r.asDict() for r in bm25_topk(
                spark, reader, "alpha", k=k, mode=mode).collect())
               for mode in ("exact", "wand")},
        }
        for name, hits in got.items():
            assert [d for d, _ in hits] == want, (name, k)
            assert hits == got["exact"], (name, k)
        # the cut really falls inside the tie group
        assert len({s for _, s in got["exact"][1:]}) == 1


def test_empty_shard_answers(spark, tie_index, tmp_path_factory):
    """Five shards over four docid ranges: one shard owns no range, so its
    segment directory holds no parquet file."""
    reader = IndexReader.open(tie_index, TIE_CFG)
    dirs = shard_index(spark, reader,
                       str(tmp_path_factory.mktemp("tie_shards5")), 5)
    empty = [d for d in dirs if not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(d, "segments")) for f in fs)]
    assert len(empty) == 1
    assert LocalSearcher(IndexReader.open(empty[0])).search("alpha") == []
    local = LocalSearcher(reader)
    sharded = ShardedSearcher(dirs)
    for q in ("alpha", "beta zeta", "omega"):
        want = _hits(r.asDict() for r in bm25_topk(
            spark, reader, q, k=10, mode="exact").collect())
        assert _hits(sharded.search(q, k=10)) == want, q
        assert sharded.search(q, k=10) == local.search(q, k=10), q


MULTI_CFG = IndexConfig(range_shift=7, num_term_buckets=8)
MULTI_QUERIES = ["error timeout", "failed retry server", "shard merge",
                 "error"]


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("twoseg_idx"))
    build_index(spark, synth_transcripts_spark(spark, 400, seed=5), idx,
                MULTI_CFG, input_token="twoseg-400")
    batch = synth_transcripts_spark(spark, 120, seed=6).withColumn(
        "conv_id", F.concat_ws("-", F.lit("nrt"), "conv_id"))
    add_documents(spark, batch, idx, MULTI_CFG)
    return idx


def test_local_over_two_segments_matches_exact(spark, two_segments):
    idx = two_segments
    segs = live_segments(idx)
    assert len(segs) >= 2
    seg_terms = [set(pq.read_table(os.path.join(idx, "segments", s),
                                   columns=["term"])["term"].to_pylist())
                 for s in segs]
    reader = IndexReader.open(idx, MULTI_CFG)
    ls = LocalSearcher(reader)
    for q in MULTI_QUERIES:
        # every query term has postings in every segment
        qterms = set(analyze_text(q, MULTI_CFG))
        assert all(qterms <= terms for terms in seg_terms), q
        want = [(r.docid, round(r.score, 10), r.rank) for r in bm25_topk(
            spark, reader, q, k=20, mode="exact").collect()]
        got = [(r["docid"], round(r["score"], 10), r["rank"])
               for r in ls.search(q, k=20)]
        assert got == want and got, q


ROLE_FQ = "role:user"


TOMB_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")


def _batch(n: int, seed: int, prefix: str):
    from solr_spark.data import synth_transcripts_pandas

    pdf = synth_transcripts_pandas(n, seed=seed)
    pdf["conv_id"] = prefix + pdf["conv_id"]
    return pdf


def _tomb_oracle(*pdfs):
    """The oracle over `pdfs` added in order, each batch's turns in the
    arrival (docid) order the engine gives them, and docid -> role."""
    from solr_spark.oracle import OracleIndex

    oracle = OracleIndex(MULTI_CFG)
    role = {}
    for pdf in pdfs:
        for c, t, r, x in sorted(zip(pdf["conv_id"], pdf["turn_idx"],
                                     pdf["role"], pdf["text"])):
            role[oracle.add(c, t, x)] = r
    return oracle, role


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """Two live segments with the role stored, tombstones in both, and an
    oracle over the arrival-ordered docids (tombstones still count in its
    stats, as in the engine's until merge)."""
    from solr_spark.indexing.deletes import delete_docids

    base, batch = _batch(400, 5, ""), _batch(120, 6, "nrt-")
    idx = str(tmp_path_factory.mktemp("tomb_idx"))
    build_index(spark, spark.createDataFrame(base, TOMB_SCHEMA), idx,
                MULTI_CFG, input_token="tomb-400", stored_cols=("role",))
    add_documents(spark, spark.createDataFrame(batch, TOMB_SCHEMA), idx,
                  MULTI_CFG)
    oracle, role = _tomb_oracle(base, batch)
    # the best role-filtered hits of each segment die
    hits = [h[2] for h in oracle.topk(MULTI_QUERIES[0], k=oracle.n_docs)
            if role[h[2]] == "user"]
    dead = [d for d in hits if d < len(base)][:2] + \
        [d for d in hits if d >= len(base)][:2]
    delete_docids(spark, idx, spark.createDataFrame(
        [(d,) for d in dead], "docid long"))
    return idx, oracle, role, set(dead)


def test_every_placement_agrees_on_a_tombstoned_index(
        spark, tombstoned, tmp_path_factory, monkeypatch):
    """The serving searcher, four shards, and bm25_topk exact and wand on
    one kernel task and spread over several all score through the one
    range driver, so under a role fq they return the oracle's rows in its
    rank order, tombstones dropped."""
    from solr_spark.query import bm25

    idx, oracle, role, dead = tombstoned
    reader = IndexReader.open(idx, MULTI_CFG)
    assert len(live_segments(idx)) == 2
    local = LocalSearcher(reader)
    sharded = ShardedSearcher(shard_index(
        spark, reader, str(tmp_path_factory.mktemp("tomb_shards")), 4))
    k = 20

    def spark_rows(q, mode):
        return [r.asDict() for r in bm25_topk(
            spark, reader, q, k=k, mode=mode, filters=[ROLE_FQ]).collect()]

    for q in MULTI_QUERIES[:2]:
        got = {"local": local.search(q, k=k, filters=[ROLE_FQ]),
               "sharded": sharded.search(q, k=k, filters=[ROLE_FQ]),
               **{mode: spark_rows(q, mode) for mode in ("exact", "wand")}}
        with monkeypatch.context() as m:
            m.setattr(bm25, "POSTINGS_PER_TASK", 16)
            plan = bm25.plan_query(reader, reader.term_stats, q, k=k)
            assert bm25._kernel_tasks(plan.postings, reader, int(
                spark.conf.get("spark.sql.shuffle.partitions"))) > 1
            got.update({f"{mode}_tasks": spark_rows(q, mode)
                        for mode in ("exact", "wand")})
        want = [(d, s) for _c, _t, d, s in oracle.topk(q, k=oracle.n_docs)
                if role[d] == "user" and d not in dead][:k]
        assert len(want) == k
        for name, rows in got.items():
            assert [r["docid"] for r in rows] == [d for d, _ in want], \
                (q, name)
            assert [r["rank"] for r in rows] == list(range(1, k + 1))
            for r, (_d, s) in zip(rows, want):
                assert r["score"] == pytest.approx(s, abs=1e-9), (q, name)


def _role_want(oracle, role, dead, q, k):
    """The oracle's role-fq top k, tombstoned docs dropped."""
    return [(d, s) for _c, _t, d, s in oracle.topk(q, k=oracle.n_docs)
            if role[d] == "user" and d not in dead][:k]


def _assert_want(rows, want):
    assert len(want) == len(rows) and rows
    assert [r.docid for r in rows] == [d for d, _ in want]
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for r, (_d, s) in zip(rows, want):
        assert r.score == pytest.approx(s, abs=1e-9)


# bm25_topk placements and the module constants that force them: the
# driver's pyarrow fetch, the Spark scan above DRIVER_SCAN_BYTES, and the
# n-task kernel. Value: (constants, Spark jobs of a plain query, the first
# column of each frame it collects as Arrow, whether an fq is cached)
PLACEMENTS = {"driver": ({}, 0, [], True),
              "spark_scan": ({"DRIVER_SCAN_BYTES": 0}, 1, ["term"], True),
              "tasks": ({"POSTINGS_PER_TASK": 16}, 1, ["docid"], False)}


@pytest.mark.parametrize("placement", list(PLACEMENTS))
def test_plain_query_on_every_placement_matches_oracle(
        spark, tombstoned, collected_arrow, monkeypatch, placement):
    """Without fq, every placement returns the oracle's rows with the
    tombstoned winners dropped, and collects only what the placement
    reads through Spark."""
    from solr_spark.query import bm25

    idx, oracle, _role, dead = tombstoned
    consts, _, collects, _ = PLACEMENTS[placement]
    for name, value in consts.items():
        monkeypatch.setattr(bm25, name, value)
    reader = IndexReader.open(idx, MULTI_CFG)
    q, k = MULTI_QUERIES[0], 20
    ranked = [(d, s) for _c, _t, d, s in oracle.topk(q, k=oracle.n_docs)]
    assert dead & {d for d, _ in ranked[:k]}  # a tombstoned doc would rank
    rows = bm25_topk(spark, reader, q, k=k).collect()
    assert [df.columns[0] for df in collected_arrow] == collects
    _assert_want(rows, [(d, s) for d, s in ranked if d not in dead][:k])


@pytest.mark.parametrize("placement", list(PLACEMENTS))
def test_filter_cache_hit_and_miss_match_oracle(
        spark, tombstoned, count_jobs, collected_arrow, monkeypatch,
        placement):
    """On one task (the driver or the Spark scan) the first role-fq query
    on a reader collects the fq's bitmap words in one extra job, and the
    repeat takes them from the reader's filterCache. On n tasks the words
    stay in the JVM, joined to the posting rows, and nothing is cached. On
    every placement both return the oracle's rows with the tombstoned
    winners dropped."""
    from solr_spark.query import bm25

    idx, oracle, role, dead = tombstoned
    consts, jobs, collects, cached = PLACEMENTS[placement]
    for name, value in consts.items():
        monkeypatch.setattr(bm25, name, value)
    reader = IndexReader.open(idx, MULTI_CFG)
    q, k = MULTI_QUERIES[0], 20

    def topk():
        return bm25_topk(spark, reader, q, k=k, filters=[ROLE_FQ]).collect()

    miss, miss_jobs = count_jobs(topk)
    assert [df.columns[0] for df in collected_arrow] == \
        collects + ["range_id"] * cached
    del collected_arrow[:]
    hit, hit_jobs = count_jobs(topk)
    assert [df.columns[0] for df in collected_arrow] == collects
    assert (miss_jobs, hit_jobs) == (jobs + cached, jobs)
    assert miss == hit
    assert len(reader._filter_cache) == cached
    _assert_want(hit, _role_want(oracle, role, dead, q, k))


def test_filter_cache_follows_deletes_and_new_batches(spark, tombstoned,
                                                      count_jobs, tmp_path):
    """A cached fq never hides an index change. delete_docids drops a doc
    from a cached fq's results with no job (tombstones apply after the
    words). add_documents adds an analyzed batch, so the same fq misses
    under its new key, and a reopened reader returns the new index's
    rows."""
    import shutil

    from solr_spark.indexing.deletes import delete_docids

    idx0, _oracle, _role, dead = tombstoned
    idx = str(tmp_path / "idx")
    shutil.copytree(idx0, idx)
    reader = IndexReader.open(idx, MULTI_CFG)
    q, k = MULTI_QUERIES[0], 20

    def topk(r):
        return bm25_topk(spark, r, q, k=k, filters=[ROLE_FQ]).collect()

    victim = topk(reader)[0].docid
    delete_docids(spark, idx, spark.createDataFrame([(victim,)],
                                                    "docid long"))
    dead = dead | {victim}
    rows, jobs = count_jobs(lambda: topk(reader))
    assert jobs == 0 and victim not in [r.docid for r in rows]
    base, batch = _batch(400, 5, ""), _batch(120, 6, "nrt-")
    _assert_want(rows, _role_want(*_tomb_oracle(base, batch), dead, q, k))

    extra = _batch(80, 7, "late-")
    add_documents(spark, spark.createDataFrame(extra, TOMB_SCHEMA), idx,
                  MULTI_CFG)
    assert count_jobs(lambda: topk(reader))[1] == 1
    assert len(reader._filter_cache) == 2
    oracle, role = _tomb_oracle(base, batch, extra)
    want = _role_want(oracle, role, dead, q, k)
    assert any(d >= 520 for d, _ in want)  # a new doc ranks
    _assert_want(topk(IndexReader.open(idx, MULTI_CFG)), want)


def test_reader_reads_a_segment_rewritten_in_place(spark, tombstoned,
                                                    tmp_path):
    """merge_segments rewrites segments/merged-000 in place when it purges
    new tombstones. A long-lived reader's driver posting fetch opens the
    rewritten files (its handles are keyed by the segment dir's inode and
    mtime, not its path), so a doc deleted and purged between two merges never
    comes back once its tombstone is cleared. A fetch from a segment dir
    that is gone fails loudly rather than reading nothing."""
    import shutil

    from solr_spark.indexing.deletes import deleted_array, delete_docids
    from solr_spark.indexing.merge import merge_segments

    idx0, _oracle, _role, dead = tombstoned
    idx = str(tmp_path / "idx")
    shutil.copytree(idx0, idx)
    reader = IndexReader.open(idx, MULTI_CFG)
    q, k = MULTI_QUERIES[0], 20

    def docids():
        return [r.docid for r in bm25_topk(spark, reader, q, k=k).collect()]

    assert not dead & set(docids())
    merge_segments(spark, idx, MULTI_CFG)
    victim = docids()[0]
    delete_docids(spark, idx, spark.createDataFrame([(victim,)],
                                                    "docid long"))
    merge_segments(spark, idx, MULTI_CFG)
    assert live_segments(idx) == ["merged-000"]
    assert not len(deleted_array(spark, idx))
    got = docids()
    assert len(got) == k
    assert victim not in got and not dead & set(got)
    with pytest.raises(FileNotFoundError):  # a segment no longer on disk
        reader.posting_rows(["error"], ["term"], ["no-such-segment"])
