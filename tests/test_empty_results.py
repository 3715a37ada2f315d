"""An empty result from any query front-end is an empty local relation:
collecting it runs no Spark job (no Python RDD job either) and it keeps the
front-end's schema. The relations front-ends build on the driver are local
relations too, and so is every scored front-end's ranked result."""

from __future__ import annotations

import pytest

from solr_spark.query import IndexReader

ABSENT = "zzqxv qqzzv"
TOPK = ["conv_id", "turn_idx", "docid", "score", "rank"]


def _scored_fuzzy(spark, reader):
    from solr_spark.query.scored import scored_topk
    return scored_topk(spark, reader, "+zzqxv~1 error")


def _scored_wildcard(spark, reader):
    from solr_spark.query.scored import scored_topk
    return scored_topk(spark, reader, "+zzqx* error")


def _scored_no_clause(spark, reader):
    from solr_spark.query.scored import scored_topk
    return scored_topk(spark, reader, "zzqx*")


def _edismax(spark, reader):
    from solr_spark.query.edismax import edismax_topk
    return edismax_topk(spark, {"text": reader}, "the and", {"text": 1.0})


def _edismax_absent(spark, reader):
    from solr_spark.query.edismax import edismax_topk
    return edismax_topk(spark, {"text": reader}, ABSENT, {"text": 1.0})


def _phrase_stop(spark, reader):
    from solr_spark.query.phrase import phrase_topk
    return phrase_topk(spark, reader, "the and")


def _phrase(spark, reader):
    from solr_spark.query.phrase import phrase_topk
    return phrase_topk(spark, reader, ABSENT)


def _near_stop(spark, reader):
    from solr_spark.query.phrase import near_topk
    return near_topk(spark, reader, "the and", 3)


def _near(spark, reader):
    from solr_spark.query.phrase import near_topk
    return near_topk(spark, reader, ABSENT, 3)


def _span(spark, reader):
    from solr_spark.query.spans import SpanTerm, span_topk
    return span_topk(spark, reader, SpanTerm(ABSENT.split()[0]))


def _prefix(spark, reader):
    from solr_spark.query.multiterm import prefix_topk
    return prefix_topk(spark, reader, "zzqx")


def _complex_phrase(spark, reader):
    from solr_spark.query.multiterm import complex_phrase_topk
    return complex_phrase_topk(spark, reader, "zzqx* error")


def _complex_phrase_none(spark, reader):
    from solr_spark.query.multiterm import complex_phrase_topk
    return complex_phrase_topk(spark, reader, "")


def _terms_postings(spark, reader):
    from solr_spark.query.bm25 import terms_postings
    return terms_postings(spark, reader, [])


FRONT_ENDS = [(f, TOPK) for f in (
    _scored_fuzzy, _scored_wildcard, _scored_no_clause, _edismax, _edismax_absent,
    _phrase_stop, _phrase, _near_stop, _near, _span, _prefix,
    _complex_phrase, _complex_phrase_none)] + [
    (_terms_postings, ["term", "docid", "tf"])]


@pytest.mark.parametrize("front_end, columns", FRONT_ENDS,
                         ids=[f.__name__.lstrip("_") for f, _ in FRONT_ENDS])
def test_empty_result_runs_no_job(spark, built_index, count_jobs, front_end,
                                  columns):
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    df = front_end(spark, reader)
    rows, run_jobs = count_jobs(df.collect)
    assert rows == [] and run_jobs == 0
    assert df.columns == columns


def _field_sort_match(spark, reader):
    from solr_spark.query.fieldsort import field_sorted_search
    return field_sorted_search(spark, reader, "error timeout", "conv_id desc",
                               k=5)


def _field_sort_scored(spark, reader):
    from solr_spark.query.fieldsort import field_sorted_search
    return field_sorted_search(spark, reader, "error timeout", "conv_id desc",
                               k=5, with_score=True)


def _edismax_hit(spark, reader):
    from solr_spark.query.edismax import edismax_topk
    return edismax_topk(spark, {"text": reader}, "error timeout",
                        {"text": 1.0})


@pytest.mark.parametrize("front_end", [_field_sort_match, _field_sort_scored,
                                       _edismax_hit],
                         ids=["field_sort_clause_map", "field_sort_page",
                              "edismax_clause_map"])
def test_driver_built_relations_are_local(spark, built_index, front_end):
    """Relations a front-end builds on the driver (the clause maps, the
    materialized field-sort page) are local relations, not scans of a
    Python RDD."""
    index_dir, cfg, _ = built_index
    df = front_end(spark, IndexReader.open(index_dir, cfg))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.collect()


def _scored_terms(spark, reader):
    from solr_spark.query.scored import scored_topk
    return scored_topk(spark, reader, "+error timeout -retry")


def _scored_terms_phrase(spark, reader):
    from solr_spark.query.scored import scored_topk
    return scored_topk(spark, reader, 'error "error timeout"')


def _edismax_mm(spark, reader):
    from solr_spark.query.edismax import edismax_topk
    return edismax_topk(spark, {"text": reader}, "error timeout retry",
                        {"text": 1.0}, min_match=2)


def _phrase_hit(spark, reader):
    from solr_spark.query.phrase import phrase_topk
    return phrase_topk(spark, reader, "error timeout")


def _sloppy_phrase_hit(spark, reader):
    from solr_spark.query.phrase import phrase_topk
    return phrase_topk(spark, reader, "error timeout", slop=2)


def _complex_phrase_hit(spark, reader):
    from solr_spark.query.multiterm import complex_phrase_topk
    return complex_phrase_topk(spark, reader, "serv* error", slop=1)


def _near_hit(spark, reader):
    from solr_spark.query.phrase import near_topk
    return near_topk(spark, reader, "error timeout", 4)


def _span_hit(spark, reader):
    from solr_spark.query.spans import SpanNear, SpanTerm, span_topk
    return span_topk(spark, reader, SpanNear(
        [SpanTerm("error"), SpanTerm("timeout")], 3, False))


def _xml_constant_score(spark, reader):
    from solr_spark.query.xmlquery import xml_query_topk
    return xml_query_topk(
        spark, reader, '<ConstantScoreQuery boost="2"><TermQuery '
        'fieldName="text">timeout</TermQuery></ConstantScoreQuery>')


def _bm25(spark, reader):
    from solr_spark.query.bm25 import bm25_topk
    return bm25_topk(spark, reader, "error timeout connect")


def _bm25_tasks(spark, reader):
    """bm25_topk spread over several kernel tasks (budget lowered for the
    call, which runs the query)."""
    from solr_spark.query import bm25
    budget, bm25.POSTINGS_PER_TASK = bm25.POSTINGS_PER_TASK, 64
    try:
        return bm25.bm25_topk(spark, reader, "error timeout connect")
    finally:
        bm25.POSTINGS_PER_TASK = budget


# the Spark jobs each call runs on the test index, its reader's parquet
# handles already resolved
RANKED = [(_scored_terms, 0), (_scored_terms_phrase, 5), (_edismax_mm, 4),
          (_phrase_hit, 4), (_sloppy_phrase_hit, 4), (_complex_phrase_hit, 5),
          (_near_hit, 4), (_span_hit, 4),
          (_xml_constant_score, 1), (_bm25, 0), (_bm25_tasks, 1)]


@pytest.mark.parametrize("front_end, jobs", RANKED,
                         ids=[f.__name__.lstrip("_") for f, _ in RANKED])
def test_ranked_result_is_local(spark, built_index, count_jobs, front_end,
                                jobs):
    """A scored front-end ranks through bm25.rank_topk: its jobs run inside
    the call, its result is a local relation of the ranked schema, and
    collecting it runs no job. Whatever the call persists it releases."""
    index_dir, cfg, _ = built_index
    reader = IndexReader.open(index_dir, cfg)
    front_end(spark, reader)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    df, call_jobs = count_jobs(lambda: front_end(spark, reader))
    assert set(persisted().keys()) == before
    rows, run_jobs = count_jobs(df.collect)
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == \
        "LocalRelation"
    assert rows and df.columns == TOPK
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert (call_jobs, run_jobs) == (jobs, 0)
