"""An empty result from any query front-end is an empty local relation:
collecting it runs no Spark job (no Python RDD job either) and it keeps the
front-end's schema."""

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
