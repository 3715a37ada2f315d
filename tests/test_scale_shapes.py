"""Scale-shape regression pins (round-5).

1. Source scan: no unpartitioned ``Window.orderBy`` call site in
   ``solr_spark/functions/`` outside the explicit bounded-table allowlist —
   the pin COVERAGE.md promises. A new global window in functions/ must
   either be bounded (and allowlisted here, with a reason) or rewritten on
   ``distributed_cumsum`` / ``salted_top_n``.
2. Source scan: one range loop — ``_score_group`` and ``_merge_topk`` are
   each called exactly once under ``solr_spark/``, inside
   ``bm25.score_ranges``, the range driver both tiers feed.
3. Behavior pins for the round-4 ADVICE fixes: UniMax NULL-language budget,
   CCNet keep-dict order invariance, threshold-variant selection
   equivalence, mlt_content empty-schema typing, luke histogram exact
   power-of-two bucketing, nested bool param refs.
"""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

PACKAGE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "solr_spark")
FUNCTIONS_DIR = os.path.join(PACKAGE_DIR, "functions")

# file -> allowed count of Window.orderBy call sites whose input is a
# BOUNDED table (never corpus-sized), each with the bounding argument:
BOUNDED_SITES = {
    # UniMax waterfilling over the LANGUAGE table (|languages| rows)
    "sampling.py": 1,
}


def _window_orderby_sites(path: str) -> int:
    """Count real (non-comment) `Window.orderBy(` call sites."""
    n = 0
    with open(path) as f:
        for line in f:
            code = line.split("#", 1)[0]
            n += len(re.findall(r"Window\.orderBy\(", code))
    return n


def test_no_unpartitioned_window_in_functions():
    for fname in sorted(os.listdir(FUNCTIONS_DIR)):
        if not fname.endswith(".py"):
            continue
        n = _window_orderby_sites(os.path.join(FUNCTIONS_DIR, fname))
        allowed = BOUNDED_SITES.get(fname, 0)
        assert n <= allowed, (
            f"{fname} has {n} Window.orderBy call sites (allowlist: "
            f"{allowed}). A global unpartitioned window funnels every row "
            "through one task at corpus scale — rewrite on "
            "distributed_cumsum/salted_top_n, or add it to BOUNDED_SITES "
            "with the argument for why its input is bounded.")


def _call_sites(names: set[str], qualified: bool = False
                ) -> list[tuple[str, str, str]]:
    """(callee, file, enclosing function) of every call of `names` under
    solr_spark/ — parsed, so comments, docstrings and the definitions
    themselves never count. qualified: the enclosing function as its dotted
    chain of enclosing classes and functions."""
    sites = []
    for dirpath, _dirs, files in os.walk(PACKAGE_DIR):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)

            def visit(node, owner):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    owner = f"{owner}.{node.name}" if qualified and owner \
                        else node.name
                elif qualified and isinstance(node, ast.ClassDef):
                    owner = node.name
                if isinstance(node, ast.Call):
                    fn = node.func
                    callee = fn.id if isinstance(fn, ast.Name) else \
                        fn.attr if isinstance(fn, ast.Attribute) else None
                    if callee in names:
                        sites.append((callee, os.path.relpath(
                            path, PACKAGE_DIR), owner))
                for child in ast.iter_child_nodes(node):
                    visit(child, owner)
            visit(tree, None)
    return sorted(sites)


def test_one_range_loop():
    """Both tiers score docid ranges through bm25.score_ranges: a second
    caller of the range kernel or the top-k merge is a second range loop."""
    assert _call_sites({"_score_group", "_merge_topk"}) == [
        ("_merge_topk", os.path.join("query", "bm25.py"), "score_ranges"),
        ("_score_group", os.path.join("query", "bm25.py"), "score_ranges"),
    ]


def test_one_posting_fetch():
    """Both driver-side scorers (LocalSearcher's postings misses and a
    one-task bm25_topk) read segment files through IndexReader.posting_rows:
    it is the only code under query/ that opens a ParquetFile, apart from
    the real-time get's reads of the forward table (query/rtg.py)."""
    sites = [s for s in _call_sites({"ParquetFile"}, qualified=True)
             if s[1].startswith("query" + os.sep)]
    assert [s for s in sites if s[1] != os.path.join("query", "rtg.py")] \
        == [("ParquetFile", os.path.join("query", "bm25.py"),
             "IndexReader.posting_rows.open_files")]


def test_unimax_null_lang_budget_not_stranded(spark):
    """NULL-language rows must neither receive nor strand budget: the
    realized sample still sums exactly to the total budget."""
    from solr_spark.functions.sampling import (unimax_allocations,
                                               unimax_sample)

    rows = ([("d%03d" % i, "en") for i in range(60)]
            + [("n%03d" % i, None) for i in range(40)]
            + [("f%03d" % i, "fr") for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    allocs = unimax_allocations(df, "lang", total_budget=50, max_epochs=2)
    got = {r["lang"]: r["allocation"] for r in allocs.collect()}
    assert None not in got
    assert sum(got.values()) == 50
    out = unimax_sample(df, "doc_id", "lang", total_budget=50, max_epochs=2)
    assert out.count() == 50
    assert out.where(F.col("lang").isNull()).count() == 0


def test_unimax_threshold_matches_full_rank(spark):
    """The histogram threshold pick must select the SAME docs as a full
    per-language (u, key) rank."""
    from solr_spark.functions.sampling import (split_fraction_col,
                                               unimax_allocations,
                                               unimax_sample)
    from pyspark.sql import Window

    rows = ([("a%04d" % i, "en") for i in range(700)]
            + [("b%04d" % i, "fr") for i in range(60)]
            + [("c%04d" % i, "zh") for i in range(15)])
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = unimax_sample(df, "doc_id", "lang", total_budget=331, max_epochs=3)
    # brute force: rank every doc in its language by (u, key)
    allocs = unimax_allocations(df, "lang", 331, 3) \
        .withColumnRenamed("lang", "__l")
    ranked = (df.join(allocs, F.col("lang") == F.col("__l"))
              .withColumn("__u", split_fraction_col("doc_id"))
              .withColumn("__r", F.row_number().over(
                  Window.partitionBy("lang").orderBy(
                      F.col("__u").asc(), F.col("doc_id")))))
    expect = (ranked.withColumn(
        "__e",
        F.floor(F.col("allocation") / F.col("n_docs")).cast("int")
        + F.when(F.col("__r") <= F.col("allocation") % F.col("n_docs"), 1)
           .otherwise(0))
        .where(F.col("__e") > 0)
        .select("doc_id", "lang", "__e"))
    got = out.groupBy("doc_id", "lang").agg(F.count("*").alias("__e"))
    assert expect.count() > 0
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert out.count() == 331


def test_ccnet_keep_dict_order_invariant(spark):
    """A keep dict written tail-first must not invert the terciles."""
    from solr_spark.functions.sampling import ccnet_sample

    rows = [("d%03d" % i, float(i)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id string, perplexity double")
    a = ccnet_sample(df, "doc_id",
                     keep={"head": 1.0, "middle": 0.5, "tail": 0.1})
    b = ccnet_sample(df, "doc_id",
                     keep={"tail": 0.1, "head": 1.0, "middle": 0.5})
    ra = sorted(r["doc_id"] for r in a.collect())
    rb = sorted(r["doc_id"] for r in b.collect())
    assert ra == rb
    # head (lowest perplexity) keeps everything
    kept = set(ra)
    assert all(("d%03d" % i) in kept for i in range(30))
    with pytest.raises(ValueError, match="canonical"):
        ccnet_sample(df, "doc_id", keep={"fluent": 1.0, "junk": 0.0})


def test_mlt_content_empty_preserves_doc_col_type(spark):
    from solr_spark.operators.streams import mlt_content

    terms = spark.createDataFrame(
        [("conv-a", "alpha"), ("conv-b", "beta")], "doc_id string, term string")
    out = mlt_content(terms, ["zzz_not_in_corpus"], n_docs=2, min_doc_freq=2)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    assert out.count() == 0
    # unionable with the normal path
    normal = mlt_content(terms, ["alpha"], n_docs=2)
    normal.unionByName(out).collect()


def test_luke_histogram_exact_power_of_two(spark, tmp_path):
    """df = exact power of two must land in ITS OWN bucket (the float-log2
    path misplaced 2^k for k >= 29 one bucket high)."""
    from solr_spark.operators.components import luke_histogram

    d = spark.createDataFrame(
        [("t%d" % i, df) for i, df in
         enumerate([1, 2, 3, 4, 1 << 29, 1 << 30, (1 << 30) + 1])],
        "term string, df long")
    idx = str(tmp_path)
    d.write.parquet(os.path.join(idx, "dictionary"))
    got = {r["bucket"]: r["n_terms"] for r in
           luke_histogram(spark, idx).collect()}
    assert got == {1: 1, 2: 1, 4: 2, 1 << 29: 1, 1 << 30: 1, 1 << 31: 1}


def test_json_param_ref_nested_in_bool(spark):
    """{"param": name} refs resolve inside bool clause lists, matching the
    reference's any-depth v=$ref resolution."""
    from solr_spark.query.jsonapi import json_request

    df = spark.createDataFrame(
        [("a", "en", 5), ("b", "fr", 9), ("c", "en", 11)],
        "doc_id string, lang string, n int")
    req = {
        "queries": {"english": "lang:en", "big": "n:[10 TO *]"},
        "query": {"bool": {"must": [{"param": "english"}],
                           "must_not": [{"param": "big"}]}},
        "fields": ["doc_id"],
    }
    got = sorted(r["doc_id"] for r in
                 json_request(df, req, default_field="doc_id").collect())
    assert got == ["a"]
    with pytest.raises(ValueError, match="unknown query ref"):
        json_request(df, {"queries": {"e": "lang:en"},
                          "query": {"bool": {"must": [{"param": "nope"}]}}},
                     default_field="doc_id")
