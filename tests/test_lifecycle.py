"""Index lifecycle (indexing/lifecycle.py): tiered merge policy planning,
group merges that leave query results untouched, and snapshot/restore
commit-point flips."""

from __future__ import annotations

import shutil

import pytest

from solr_spark.config import IndexConfig
from solr_spark.data import synth_transcripts_spark
from solr_spark.indexing import (
    add_documents,
    build_index,
    delete_docids,
    merge_segment_group,
    plan_tiered_merges,
    restore,
    snapshot,
    tiered_merge,
)
from solr_spark.indexing.build import live_segments
from solr_spark.query import IndexReader, bm25_topk

CFG = IndexConfig(range_shift=9, num_term_buckets=8)


# ------------------------------------------------------------- policy (pure)

def test_plan_tiered_merges_policy():
    # a quiet index: nothing to do
    assert plan_tiered_merges({"a": 100, "b": 120}, 3, 3) == []

    # 5 same-tier segments with budget 3/tier: merge the 3 smallest
    sizes = {f"s{i}": 100 + i for i in range(5)}
    plans = plan_tiered_merges(sizes, segments_per_tier=3,
                               max_merge_at_once=3)
    assert plans[0] == ["s0", "s1", "s2"]

    # different tiers don't mix: small segments never merge into the giant
    sizes = {"big": 10**9, **{f"s{i}": 10 + i for i in range(5)}}
    plans = plan_tiered_merges(sizes, 3, 3)
    assert all("big" not in g for g in plans)

    # cascade: merging smalls can overflow the next tier and trigger again
    sizes = {f"a{i}": 10 for i in range(8)}
    plans = plan_tiered_merges(sizes, segments_per_tier=3,
                               max_merge_at_once=3)
    assert len(plans) >= 2

    # max_merged_bytes leaves oversize groups alone
    sizes = {f"s{i}": 1000 for i in range(5)}
    assert plan_tiered_merges(sizes, 3, 3, max_merged_bytes=100) == []

    with pytest.raises(ValueError):
        plan_tiered_merges({}, segments_per_tier=1)


# --------------------------------------------------------------- end-to-end

@pytest.fixture(scope="module")
def multiseg_built(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    idx = str(tmp_path_factory.mktemp("life") / "life_idx")
    base = synth_transcripts_spark(spark, 600, seed=3)
    build_index(spark, base, idx, CFG, input_token="life-600")
    for b in range(3):
        batch = synth_transcripts_spark(spark, 80, seed=100 + b) \
            .withColumn("conv_id",
                        F.concat_ws("-", F.lit(f"b{b}"), "conv_id"))
        add_documents(spark, batch, idx, CFG)
    return idx


@pytest.fixture()
def multiseg(multiseg_built, tmp_path):
    """A private copy of the 4-segment index: each test mutates its own."""
    idx = str(tmp_path / "life_idx")
    shutil.copytree(multiseg_built, idx)
    return idx


def _results(spark, idx, q="error timeout retry"):
    reader = IndexReader.open(idx, CFG)
    return [(r.docid, round(r.score, 10))
            for r in bm25_topk(spark, reader, q, k=15).collect()]


def test_group_merge_preserves_results(spark, multiseg):
    idx = multiseg
    before = _results(spark, idx)
    live0 = live_segments(idx)
    assert len(live0) == 4
    group = live0[1:4]  # the three NRT batches
    merged = merge_segment_group(spark, idx, group, CFG)
    live1 = live_segments(idx)
    assert merged in live1 and len(live1) == 2
    assert not set(group) & set(live1)
    assert _results(spark, idx) == before

    with pytest.raises(ValueError):
        merge_segment_group(spark, idx, ["nope-000", merged], CFG)
    with pytest.raises(ValueError):
        merge_segment_group(spark, idx, [merged], CFG)


def test_tiered_merge_runs_to_quiescence(spark, multiseg):
    idx = multiseg
    before = _results(spark, idx)
    created = tiered_merge(spark, idx, CFG, segments_per_tier=2,
                           max_merge_at_once=2)
    assert created  # the three same-tier batch segments exceeded budget 2
    # quiescent now: a second pass does nothing
    assert tiered_merge(spark, idx, CFG, segments_per_tier=2,
                        max_merge_at_once=2) == []
    assert _results(spark, idx) == before


def test_snapshot_restore_flips_commit_point(spark, multiseg, tmp_path):
    from pyspark.sql import functions as F

    idx = multiseg
    want = _results(spark, idx)
    snapshot(idx, "pin1")

    # mutate: add a batch AND delete some docs
    extra = synth_transcripts_spark(spark, 60, seed=999).withColumn(
        "conv_id", F.concat_ws("-", F.lit("x"), "conv_id"))
    add_documents(spark, extra, idx, CFG)
    reader = IndexReader.open(idx, CFG)
    victim = bm25_topk(spark, reader, "error timeout retry", k=3) \
        .select("docid")
    delete_docids(spark, idx, victim)
    assert _results(spark, idx) != want

    restore(spark, idx, "pin1")
    assert _results(spark, idx) == want

    with pytest.raises(FileNotFoundError):
        restore(spark, idx, "ghost")
    with pytest.raises(ValueError):
        snapshot(idx, "../evil")
