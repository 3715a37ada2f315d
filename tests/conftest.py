from __future__ import annotations

import os
import re

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(os.environ.get("SPARK_TEST_MASTER", "local[4]"))
        .appName("solr_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_TEST_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus_pdf():
    from solr_spark.data import synth_transcripts_pandas

    return synth_transcripts_pandas(1000, seed=42)


@pytest.fixture(scope="session")
def small_corpus(spark, small_corpus_pdf):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    return spark.createDataFrame(small_corpus_pdf, schema=schema).repartition(8, "conv_id")


@pytest.fixture(scope="session")
def oracle(small_corpus_pdf):
    from solr_spark.oracle import OracleIndex

    rows = list(
        zip(small_corpus_pdf["conv_id"], small_corpus_pdf["turn_idx"], small_corpus_pdf["text"])
    )
    return OracleIndex.from_rows(rows)


@pytest.fixture(scope="session")
def built_index(spark, small_corpus, tmp_path_factory):
    from solr_spark.indexing import build_index

    index_dir = str(tmp_path_factory.mktemp("index"))
    # small range_shift so the 1k-doc corpus spans multiple ranges (exercises chunking)
    from solr_spark.config import IndexConfig

    cfg = IndexConfig(range_shift=8, num_term_buckets=16)
    stats = build_index(spark, small_corpus, index_dir, cfg, input_token="synth-1k-s42")
    return index_dir, cfg, stats


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), number of Spark jobs fn launched).

    Jobs are counted in a job group of their own, after draining the
    listener bus, with AQE off as the benchmark runs: under AQE every query
    stage is submitted as a job of its own, so the count would be of stages
    rather than of the plan's actions and broadcasts."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")

    def run(fn):
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup("count_jobs"))
        out = fn()
        bus.waitUntilEmpty()
        after = set(sc.statusTracker().getJobIdsForGroup("count_jobs"))
        return out, len(after - before)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("count_jobs", "job count")
    try:
        yield run
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _physical_plan(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        plan = plan.initialPlan()
    return plan


@pytest.fixture
def kernel_tasks():
    """kernel_tasks(df) -> the task count of each scoring-kernel node (the
    plan's MapInPandas) in df's physical plan."""
    def run(df):
        return [n.outputPartitioning().numPartitions()
                for n in _plan_nodes(_physical_plan(df))
                if n.nodeName() == "MapInPandas"]
    return run


@pytest.fixture
def python_nodes():
    """python_nodes(df) -> the nodes of df's physical plan that run in a
    Python worker (pandas/Arrow/Python UDFs, mapInPandas/mapInArrow)."""
    def run(df):
        return [n.nodeName() for n in _plan_nodes(_physical_plan(df))
                if re.search(r"Pandas|Python|InArrow", n.nodeName())]
    return run


@pytest.fixture
def collected_arrow(monkeypatch):
    """The DataFrames collected through DataFrame.toArrow while the test
    runs, in call order."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    to_arrow = DataFrame.toArrow

    def record(self):
        seen.append(self)
        return to_arrow(self)

    monkeypatch.setattr(DataFrame, "toArrow", record)
    return seen
