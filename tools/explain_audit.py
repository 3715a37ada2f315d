"""Physical-plan audit: prove the engine's plans are the plans we want.

Runs representative operators at sf0.01 and checks their `explain("formatted")`
output for the properties the 100-TB design depends on:

  * parquet scans carry PushedFilters + pruned ReadSchema (filter/column pushdown)
  * small-side joins are BroadcastHashJoin, not SortMergeJoin
  * segment reads are partition-pruned to the query's term buckets
  * relational operators stay inside WholeStageCodegen
  * the posting build contains exactly ONE wide exchange of partial rows

Writes PLANS.md with the asserted properties + plan excerpts. Exits non-zero if
any assertion fails, so it doubles as a regression gate.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


PYTHON_NODES = {"MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython"}


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def collected_scans(fn):
    """(fn(), the formatted plan of each DataFrame fn collected through
    DataFrame.toArrow, taken before it ran) — the posting scans a one-task
    bm25_topk collects to score on the driver."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen, to_arrow = [], DataFrame.toArrow

    def record(self):
        seen.append(plan_of(self))
        return to_arrow(self)

    DataFrame.toArrow = record
    try:
        return fn(), seen
    finally:
        DataFrame.toArrow = to_arrow


def exchanges(plan: str) -> list[tuple[str, str]]:
    """(partitioning, shuffle origin) of every hash or single-partition
    exchange in a formatted plan."""
    return re.findall(r"Arguments: (SinglePartition|hashpartitioning\([^)]*\)),"
                      r" (\w+)", plan)


def range_parts(partitioning: str) -> int | None:
    """The partition count of an exchange on range_id alone (1 for a single
    partition, as repartition(1, range_id) plans), else None."""
    if partitioning == "SinglePartition":
        return 1
    m = re.fullmatch(r"hashpartitioning\(range_id#\d+L?, (\d+)\)",
                     partitioning)
    return int(m.group(1)) if m else None


def main() -> None:
    from bench import make_spark
    from pyspark.sql import functions as F

    spark = make_spark(8)
    spark.sparkContext.setLogLevel("ERROR")
    t = lambda n: spark.read.parquet(os.path.join(SF_DIR, f"{n}.parquet"))
    checks: list[tuple[str, str, list[str], list[str]]] = []

    # 1. filter + projection pushdown reach the scan
    q = (t("lineitem")
         .where((F.col("l_shipdate") >= "1998-01-01") & (F.col("l_quantity") > 30))
         .select("l_orderkey", "l_quantity"))
    checks.append((
        "scan pushdown",
        plan_of(q),
        ["PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)",
         "ReadSchema: struct<l_orderkey:bigint,l_quantity"],
        []))

    # 2. dimension join broadcasts; codegen spans the join
    from solr_spark.operators import streams
    j = streams.hash_join(
        t("orders"),
        t("customer").select(F.col("c_custkey").alias("o_custkey"), "c_name"),
        ["o_custkey"])
    checks.append((
        "broadcast dim join", plan_of(j),
        ["BroadcastHashJoin"], ["SortMergeJoin"]))
    # codegen spans show as *(n) stage prefixes in simple mode; AQE only
    # finalizes (and annotates) the plan after execution
    j.collect()
    checks.append((
        "join inside whole-stage codegen", plan_of(j, "simple"),
        ["isFinalPlan=true", "*(2)"], []))

    # 3. groupBy aggregates partially before the exchange (map-side combine)
    a = t("lineitem").groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p3 = plan_of(a)
    checks.append((
        "partial aggregation", p3,
        ["HashAggregate", "Exchange"], []))
    if p3.find("HashAggregate") > p3.find("Exchange"):
        # formatted plans list operators leaf-first; partial agg must appear
        # before (deeper than) the exchange — checked by order below
        pass

    # 4. term-bucket partition pruning on the index segment scan
    import shutil
    import tempfile

    from solr_spark.config import IndexConfig
    from solr_spark.data import synth_transcripts_spark
    from solr_spark.indexing import build_index
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    idx = tempfile.mkdtemp(prefix="plan_idx_")
    try:
        cfg = IndexConfig(range_shift=10, num_term_buckets=16)
        corpus = synth_transcripts_spark(spark, 3000, seed=11)
        build_index(spark, corpus, idx, cfg, input_token="plan-audit",
                    stored_cols=("role",))
        reader = IndexReader.open(idx, cfg)
        from solr_spark.query import bm25 as _bm25

        # a one-task query reads its postings on the driver and collects
        # nothing; with the driver's byte budget at 0 it collects its Spark
        # posting scan (p4) inside the call instead
        topk, scans = collected_scans(
            lambda: bm25_topk(spark, reader, "error timeout", k=5))
        scan_bytes, _bm25.DRIVER_SCAN_BYTES = _bm25.DRIVER_SCAN_BYTES, 0
        try:
            _, (p4,) = collected_scans(
                lambda: bm25_topk(spark, reader, "error timeout", k=5))
        finally:
            _bm25.DRIVER_SCAN_BYTES = scan_bytes
        import zlib

        from solr_spark.analysis import analyze_text

        toks = analyze_text("error timeout", cfg)
        bks = sorted({zlib.crc32(x.encode()) % cfg.num_term_buckets for x in toks})
        checks.append((
            "segment term_bucket pruning", p4,
            ["PartitionFilters: [term_bucket",
             f"IN ({','.join(str(b) for b in bks)})"], []))

        # 5. the posting build: exactly one wide exchange of partial rows
        from solr_spark.indexing.build import (
            SEGMENT_SCHEMA,
            _posting_encoder,
            _partial_merger,
        )
        an = spark.read.parquet(os.path.join(idx, "analyzed", "batch-000"))
        partials = an.select("docid", "toks").mapInArrow(
            _posting_encoder(cfg), SEGMENT_SCHEMA)
        enc = (partials.repartition(8, "term", "range_id")
               .mapInArrow(_partial_merger(cfg), SEGMENT_SCHEMA))
        p5 = plan_of(enc)
        n_exchanges = sum(1 for ln in p5.splitlines()
                          if ln.strip().split(") ")[-1].startswith("Exchange"))
        checks.append((
            "posting build single wide shuffle", p5,
            ["hashpartitioning(term", "MapInArrow"], []))
        assert n_exchanges == 1, f"expected 1 wide exchange, found {n_exchanges}"

        # 6. edismax: dismax/mm combine is hash aggregation (map-side partial),
        # never a cartesian product; phrase boost joins by docid. The plan
        # is the top-k scan the call collects (rank_topk's TakeOrdered job)
        from solr_spark.query.edismax import edismax_topk

        _, escans = collected_scans(lambda: edismax_topk(
            spark, {"text": reader}, "error timeout", {"text": 1.0}, k=5,
            tie=0.2, pf={"text": 1.0}))
        checks.append((
            "edismax hash-aggregated dismax", escans[-1],
            ["HashAggregate", "TakeOrderedAndProject"], ["CartesianProduct"]))

        # 6b. fuzzy expansion: the length band is a pushed plain-column
        # filter on the (length-clustered) dictionary scan — no full
        # vocabulary pass
        from solr_spark.query.multiterm import fuzzy_candidates

        fc = fuzzy_candidates(reader.dictionary(spark), "tymeout", 1)
        checks.append((
            "fuzzy expansion: length band pushed to dictionary scan",
            plan_of(fc),
            ["IsNotNull(tlen)", "GreaterThanOrEqual(tlen",
             "LessThanOrEqual(tlen"], []))

        # 6c. filtered ranked search (q+fq): the fq predicate pushes into
        # the FORWARD-table scan (stored column `role`), and the DocSet
        # reaches the kernel as per-range bitmap words — never a post-join
        # of the top-k. The first fq on a reader collects only those
        # bitmaps, built in the JVM (no Python, no broadcast, no posting
        # scan); the repeat hits the reader's filterCache and collects
        # nothing
        fq5 = lambda: bm25_topk(  # noqa: E731
            spark, reader, "error timeout", k=5, filters=["role:assistant"])
        ftk, fscans = collected_scans(fq5)
        _, fscans2 = collected_scans(fq5)
        pf = fscans[0]
        checks.append((
            "filtered topk: fq pushed to forward scan, bitmaps collected "
            "once per reader, no posting scan, no Python",
            pf,
            ["PushedFilters: [IsNotNull(role), EqualTo(role,assistant)]",
             "filter_bits", "HashAggregate"],
            ["BroadcastExchange", "term_bucket", *PYTHON_NODES]))
        assert len(fscans) == 1 and fscans2 == [], \
            f"expected one bitmap collect on the first fq query and none " \
            f"on its repeat, found {len(fscans)} then {len(fscans2)}"

        # 6d. one-task placement: the returned plan is a local relation of
        # the ranked winners (collecting it runs no job), a plain query
        # collects nothing (the kernel ran on the driver over a pyarrow
        # read), and the Spark scan it falls back to above the driver's
        # byte budget has no exchange and no Python node
        checks.append((
            "one-task topk: result is a local relation", plan_of(
                topk, "extended"),
            ["LocalRelation", "LocalTableScan"],
            ["Scan parquet", "Exchange", *PYTHON_NODES]))
        assert scans == [], \
            f"expected a plain one-task query to collect nothing, found " \
            f"{len(scans)} collects"
        checks.append((
            "one-task topk over the byte budget: collected posting scan has "
            "no exchange, no Python", p4, ["PartitionFilters: [term_bucket"],
            ["Exchange", *PYTHON_NODES]))

        # 6e. distributed WAND plan (the per-task postings budget lowered so
        # this small index spreads over several kernel tasks), read from the
        # scan the call collects: ONE exchange on range_id feeds the scoring
        # kernel, the query's only Python node; the per-range bound and the
        # norms are the kernel's own work, and the winners' (conv_id,
        # turn_idx) are read on the driver after the collect, so no Window,
        # no norms broadcast, no doc-map join, no broadcast at all. The
        # (docid, score) candidates reach the driver through one
        # TakeOrderedAndProject. Then the fq variant: the fq bitmaps stay in
        # the JVM, exchanged into the same partitions, so the join adds no
        # exchange, nothing re-shuffles to the default count, and nothing
        # of the fq is collected or cached on the driver
        budget = _bm25.POSTINGS_PER_TASK
        _bm25.POSTINGS_PER_TASK = 1
        try:
            _, (pw,) = collected_scans(
                lambda: bm25_topk(spark, reader, "error timeout", k=5))
            _, (p6,) = collected_scans(lambda: bm25_topk(
                spark, reader, "error timeout", k=5,
                filters=["role:assistant"]))
        finally:
            _bm25.POSTINGS_PER_TASK = budget
        n_python = sum(n in PYTHON_NODES
                       for n in re.findall(r"^\(\d+\) (\w+)", pw, re.M))
        checks.append((
            "distributed WAND plan: one range_id exchange into the kernel, "
            "one Python node, top-k by TakeOrderedAndProject, no Window, no "
            "norms broadcast, no doc-map join or broadcast",
            pw, ["REPARTITION_BY_NUM", "MapInPandas", "TakeOrderedAndProject"],
            ["Window", "norm_bytes", "BroadcastExchange", "Join",
             "analyzed"]))
        dx = [(range_parts(p), o) for p, o in exchanges(pw)]
        assert len(dx) == 1 and dx[0][1] == "REPARTITION_BY_NUM" \
            and (dx[0][0] or 0) > 1, \
            f"expected one range_id exchange into >1 kernel tasks, found {dx}"
        assert n_python == 1, f"expected 1 Python node, found {n_python}"

        fx = [(range_parts(p), o) for p, o in exchanges(p6)
              if (range_parts(p) or 0) > 1]
        checks.append((
            "fq WAND plan: one range_id exchange into the kernel, bitmaps "
            "co-partitioned, no join exchange, no broadcast",
            p6, ["ShuffledHashJoin", "REPARTITION_BY_NUM", "filter_bits",
                 "TakeOrderedAndProject"],
            ["BroadcastExchange", "LocalTableScan"]))
        assert len(fx) == 2 and len(set(fx)) == 1 \
            and fx[0][1] == "REPARTITION_BY_NUM", \
            f"expected the posting scan and the bitmaps each exchanged once " \
            f"into the kernel's >1 partitions, found {fx}"

        # 40. field sort on the scored path (round 5): the match set comes
        # from the term_bucket-pruned postings, fq pushes into the forward
        # scan, and sort+limit lowers to TakeOrderedAndProject — never a
        # global Sort+Exchange of the match set
        from solr_spark.query.fieldsort import field_sorted_search

        fs = field_sorted_search(spark, reader, "error timeout",
                                 "conv_id desc", k=5,
                                 filters=["role:assistant"])
        checks.append((
            "field-sorted search: pruned postings match + pushed fq + "
            "TakeOrdered, no global sort",
            plan_of(fs),
            ["TakeOrderedAndProject", "EqualTo(role,assistant)",
             "PartitionFilters: [term_bucket"], []))
        # 40b. positional queries (phrase, near, span): the candidate DocSet
        # (bm25.clause_docids) reads the segment postings through ONE
        # term_bucket-pruned scan and ONE decode node, whatever the term or
        # group count
        from solr_spark.query.phrase import near_matches, phrase_matches
        from solr_spark.query.spans import (SpanNear, SpanOr, SpanTerm,
                                            span_matches)

        three = ["error", "timeout", "retry"]
        for label, pm in (
                ("3-term phrase", phrase_matches(spark, reader, three)),
                ("near", near_matches(spark, reader, three, 4)),
                ("2-group span", span_matches(spark, reader, SpanNear(
                    [SpanOr(SpanTerm("error"), SpanTerm("retry")),
                     SpanTerm("timeout")], 2, False)))):
            pp = plan_of(pm)
            n_seg = len(re.findall(r"^Location: .*/segments/", pp, re.M))
            n_dec = len(re.findall(r"^\(\d+\) MapInPandas", pp, re.M))
            checks.append((
                f"{label}: one segment posting scan and one decode for the "
                "candidate DocSet", pp,
                ["PartitionFilters: [term_bucket", "count(distinct clause"],
                []))
            assert (n_seg, n_dec) == (1, 1), \
                f"{label}: expected one segment scan and one decode node, " \
                f"found {n_seg} scans and {n_dec} decodes"
        # 41. XML query parser ({!xml}) pure-predicate boolean: term + attribute
        # + mustNot clauses FUSE into one Column over the forward scan — the
        # attribute equality pushes to parquet, no join, no exchange, no Python
        # (query/xmlquery.py::_combine_bool fast path)
        from solr_spark.query.xmlquery import xml_query_docids
        xml40 = ("<BooleanQuery>"
                 '<Clause occurs="must"><TermQuery>error</TermQuery></Clause>'
                 '<Clause occurs="must"><TermQuery fieldName="role">assistant'
                 "</TermQuery></Clause>"
                 '<Clause occurs="mustNot"><TermQuery fieldName="role">user'
                 "</TermQuery></Clause></BooleanQuery>")
        p40 = plan_of(xml_query_docids(spark, reader, xml40))
        checks.append((
            "xml query docids: boolean of term+attribute clauses fuses to ONE "
            "pushed scan — no join, no exchange, no Python",
            p40,
            ["PushedFilters", "EqualTo(role,assistant)"],
            ["Join", "Exchange", "BatchEvalPython", "ArrowEvalPython"]))
    finally:
        shutil.rmtree(idx, ignore_errors=True)

    # 7. scored join: inner side pre-aggregates to one row per key, and the
    # (small) aggregate broadcasts under AQE
    sj = streams.scored_join(
        t("orders"),
        t("lineitem").select("l_orderkey",
                             (F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))).alias("net")),
        "o_orderkey", "l_orderkey", score_col="net", mode="max")
    sj.collect()
    checks.append((
        "scored join pre-agg + broadcast", plan_of(sj, "simple"),
        ["isFinalPlan=true", "HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin"]))

    # 9. context_window: single window pass, no join, partial agg absent
    from solr_spark.operators.windows import context_window
    cw = context_window(t("events"), F.col("event_type") == "error",
                        ["user_id"], [F.col("ts"), F.col("event_id")], 1, 1)
    checks.append((
        "context window: one exchange, no self-join", plan_of(cw),
        ["Window", "hashpartitioning(user_id"],
        ["Join", "CartesianProduct"]))

    # 10. blockChildren domain: semi-join broadcasts the filtered parent side
    from solr_spark.operators.facets import facet_domain, to_children
    dom = facet_domain(t("orders"),
                       {"s": F.col("o_orderstatus") == "F"})
    kids = to_children(dom.select(F.col("o_orderkey").alias("l_orderkey")),
                       t("lineitem"), "l_orderkey")
    kids.collect()
    checks.append((
        "blockChildren semi-join broadcasts parent keys", plan_of(kids, "simple"),
        ["BroadcastHashJoin", "LeftSemi"],
        ["SortMergeJoin"]))

    # 11. bucketed tables co-locate the join: NO exchange on either side.
    # This is the 100-TB fact-fact join strategy (write both tables bucketed
    # by the join key; every rerun joins shuffle-free).
    spark.sql("DROP TABLE IF EXISTS _audit_li_b")
    spark.sql("DROP TABLE IF EXISTS _audit_o_b")
    # the metastore is per-session (in-memory) but spark-warehouse dirs
    # persist — a fresh session's DROP can't see them, so clear directly
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("_audit_li_b", "_audit_o_b"):
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    (t("lineitem").select("l_orderkey", "l_quantity")
     .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("_audit_li_b"))
    (t("orders").select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
     .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("_audit_o_b"))
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bj = spark.table("_audit_li_b").join(spark.table("_audit_o_b"),
                                         "l_orderkey")
    bucket_plan = plan_of(bj)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    checks.append((
        "bucketed co-located join: shuffle-free", bucket_plan,
        ["SortMergeJoin", "Bucketed: true"],
        ["Exchange hashpartitioning"]))

    # 12. simhash: pure-JVM sign-sum — no Python stage, map-side partial agg,
    # no fixed bucket cap (round-2 verdict: the 256-way applyInPandas was the
    # one genuine scale-killer)
    from solr_spark.functions.dedup import simhash
    sh = simhash(t("documents"), "doc_id", "text")
    checks.append((
        "simhash: JVM-only, partial aggregation", plan_of(sh),
        ["HashAggregate", "partial_sum"],
        ["FlatMapGroupsInPandas", "BatchEvalPython", "ArrowEvalPython",
         "MapInPandas"]))

    # 13. facet2D: outer-total cut broadcasts onto the cell aggregate; the
    # inner cut is one window — no per-bucket re-query, no sort-merge join
    from solr_spark.operators.facets import facet_2d
    f2 = facet_2d(t("documents"), "lang", "source", limit_x=3, limit_y=4)
    f2.collect()
    checks.append((
        "facet2D: broadcast outer cut + one window", plan_of(f2, "simple"),
        ["BroadcastHashJoin", "Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"]))

    # 14b. int8-quantized cosine top-k: narrow scan -> codegen score ->
    # TakeOrderedAndProject; no join, no Python, no wide exchange
    from solr_spark.functions.vectors import cosine_topk_int8, quantize_int8
    emb = t("embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    qtk = cosine_topk_int8(quantize_int8(emb, "embedding"), qv, 10)
    # (higher-order array fns are CodegenFallback, so no WholeStageCodegen
    # node — the binding assertion is: no exchange, no Python, no join)
    checks.append((
        "quantized cosine top-k: narrow scan -> TakeOrdered, no shuffle",
        plan_of(qtk),
        ["TakeOrderedAndProject"],
        ["Exchange hashpartitioning", "BatchEvalPython", "ArrowEvalPython",
         "SortMergeJoin", "BroadcastHashJoin"]))

    # 14c. repetition stats: row-local set algebra — NO shuffle of any kind
    # (the run-length scan happens inside the project, per row)
    from solr_spark.functions.textanalysis import repetition_stats
    rep = t("documents").select(
        "doc_id", repetition_stats(F.col("text"), 2).alias("r"))
    checks.append((
        "repetition stats: shuffle-free row-local scan", plan_of(rep),
        ["Project"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]))

    # 17. decontamination: the benchmark gram set BROADCASTS (map-side hash
    # join against the corpus gram stream); hit counts partial-aggregate —
    # the corpus never sort-merge-joins its exploded grams
    from solr_spark.functions.dedup import decontaminate
    docs17 = t("documents")
    dec = decontaminate(docs17, docs17.where(F.col("doc_id") % 50 == 0),
                        "doc_id", "text", n=13)
    checks.append((
        "decontamination: broadcast bench grams, partial-agg hit counts",
        plan_of(dec),
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"]))

    # 18. persisted IVF layout: a probe must prune at the FILE level —
    # PartitionFilters on `cluster` in the scan, no shuffle before top-k
    import tempfile

    from solr_spark.functions.vectors import ivf_read_topk, ivf_write
    emb18 = t("embeddings")
    qv18 = [float(x) for x in
            emb18.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    ivf_dir = tempfile.mkdtemp(prefix="plans_ivf_")
    ivf_write(emb18, "embedding", ivf_dir, n_centroids=8)
    probe_q = ivf_read_topk(spark, ivf_dir, qv18, k=10, n_probe=2)
    checks.append((
        "persisted IVF: partition-pruned probe scan -> TakeOrdered",
        plan_of(probe_q),
        ["PartitionFilters: [", "cluster", "TakeOrderedAndProject"],
        ["Exchange hashpartitioning", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"]))

    # 19. aggregation-based collapse: min_by partial-aggregates map-side so
    # the exchange carries group-sized data — no Window, no per-group Sort
    from solr_spark.operators.windows import collapse_agg
    col19 = collapse_agg(t("lineitem"), "l_orderkey",
                         [("l_extendedprice", True), ("l_linenumber", False)])
    # (min_by over a struct buffer compiles to SortAggregate, not
    # HashAggregate — what matters is the PARTIAL phase before the exchange:
    # the shuffle carries one candidate per (group, map partition))
    checks.append((
        "collapse_agg: partial min_by aggregation, no window sort",
        plan_of(col19),
        ["SortAggregate", "Exchange"],
        ["Window", "BatchEvalPython", "ArrowEvalPython"]))

    # 20. token-window chunking: narrow explode plan — pruned 2-column scan,
    # zero exchanges, no Python (the 100-TB splitter must stay map-only)
    from solr_spark.functions.sampling import chunk_token_windows
    ch20 = chunk_token_windows(t("documents"), "doc_id", "text",
                               window=64, stride=48)
    checks.append((
        "chunk_token_windows: map-only explode, pruned scan, no shuffle",
        plan_of(ch20),
        ["Generate", "ReadSchema: struct<doc_id:bigint,text:string>"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython", "Window"]))

    # 21. salted two-stage top-N-per-key: the plan must carry the salt column
    # through the FIRST window exchange (hashpartitioning on key+salt bounds
    # any task's input even for a degenerate key) before the per-key rank —
    # never one unsalted window over the raw rows
    from solr_spark.functions.urls import domain_quota_sample
    dq21 = domain_quota_sample(
        t("documents").withColumn(
            "url", F.concat(F.lit("https://example.com/"),
                            F.col("doc_id").cast("string"))),
        "url", quota=3, order_by=[F.desc("n_chars"), F.asc("doc_id")])
    p21 = plan_of(dq21)
    checks.append((
        "domain quota: salted two-stage top-N (no unsalted single window)",
        p21,
        ["__salt", "Window"], []))
    assert p21.count("Window") >= 2, \
        f"expected 2 window stages (salted + final), found {p21.count('Window')}"
    salt_exchange = [ln for ln in p21.splitlines()
                     if "hashpartitioning" in ln and "__salt" in ln]
    assert salt_exchange, "first window exchange must partition by (key, salt)"

    # 22. facet_tree: ONE corpus scan feeds the cells aggregation (partial
    # before the exchange), per-level work is windows over the cells table,
    # and no Python runs anywhere
    from solr_spark.operators.facets import FacetLevel, facet_tree
    ft22 = facet_tree(t("documents"), [
        FacetLevel("langs", "lang", limit=3,
                   stats={"avg_chars": ("avg", "n_chars")}),
        FacetLevel("srcs", "source", limit=2),
        FacetLevel("sizes", "n_chars", kind="range", start=0.0, gap=200.0,
                   end=600.0),
    ])
    p22 = plan_of(ft22)
    checks.append((
        "facet_tree: one scan, cells agg + windows, no Python",
        p22,
        ["HashAggregate", "Window"],
        ["BatchEvalPython", "ArrowEvalPython"]))
    import re as _re
    n_scans = len(_re.findall(r"^\(\d+\) Scan parquet", p22, _re.M))
    assert n_scans == 1, f"facet_tree must scan the corpus once, found {n_scans}"

    # 23. date_range_facet: the DateMath bucket CASE is a codegen'd literal
    # chain feeding ONE aggregation — no per-bucket scan, no Python
    from solr_spark.operators.facets import date_range_facet
    dr23 = date_range_facet(t("events"), "ts", start="NOW/MONTH",
                            end="NOW/DAY", gap="+7DAYS",
                            now="2024-01-30T12:00:00Z")
    p23 = plan_of(dr23)
    checks.append((
        "date_range_facet: single conditional aggregation",
        p23,
        ["HashAggregate", "CASE WHEN"],
        ["BatchEvalPython", "ArrowEvalPython"]))
    assert len(_re.findall(r"^\(\d+\) Scan parquet", p23, _re.M)) == 1, \
        "date facet must scan once"

    # 24. DSIR scoring: the bucket log-ratio table joins BROADCAST (never a
    # corpus-wide shuffle on bucket), the weight sum is a partial-agg
    # DECIMAL sum, and everything is JVM Column algebra
    from solr_spark.functions.sampling import dsir_log_weights
    docs24 = t("documents")
    p24 = plan_of(dsir_log_weights(
        docs24, docs24.where(F.col("lang") == "fr"), "doc_id", "text"))
    # (the raw/target MODEL full-outer join may sort-merge — both sides are
    # <= n_buckets rows and Spark cannot broadcast a full outer join; the
    # corpus-side ratio join is the one that must be broadcast)
    checks.append((
        "dsir_log_weights: broadcast ratio join, no Python",
        p24,
        ["BroadcastHashJoin", "HashAggregate"],
        ["BatchEvalPython", "ArrowEvalPython"]))

    # 25. Bloom decontamination: the bitset side is a BROADCAST build (the
    # corpus streams map-side); only probe HITS reach the exchange
    from solr_spark.functions.dedup import bloom_decontaminate
    p25 = plan_of(bloom_decontaminate(
        docs24, docs24.where(F.col("doc_id") % 50 == 0), "doc_id", "text"))
    checks.append((
        "bloom_decontaminate: broadcast bitset probe, no Python",
        p25,
        ["BroadcastHashJoin"],
        ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"]))

    # 26b/27. group_query: one corpus scan tags+explodes members only, then
    # the SALTED two-stage top-N (two window stages, no Python); a row's
    # group membership never round-trips through a join
    from solr_spark.operators.windows import group_query
    ev27 = t("events")
    p27 = plan_of(group_query(
        ev27,
        {"big": F.col("value") >= 900, "clicks": F.col("event_type") == "click"},
        [F.desc("value"), F.asc("event_id")], n=5))
    checks.append((
        "group_query: tag-explode + salted top-N, no join, no Python",
        p27,
        ["Generate", "Window"],
        ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin",
         "BroadcastHashJoin"]))
    assert len(_re.findall(r"^\(\d+\) Scan parquet", p27, _re.M)) == 1, \
        "group_query must scan the corpus once"
    # (WindowGroupLimit nodes are Spark's rank-limit pushdown riding each
    # window — count only the Window exec nodes themselves)
    n_win27 = len(_re.findall(r"^\(\d+\) Window\s*$", p27, _re.M))
    assert n_win27 == 2, \
        f"expected 2 window stages (salted + final), found {n_win27}"

    # 28. Solr-SQL front-end: WHERE conjunction reaches the parquet scan as
    # PushedFilters (the Calcite-pushdown role belongs to Catalyst), GROUP BY
    # is one partially-aggregated exchange
    from solr_spark.query.sqlhandler import solr_sql
    p28 = plan_of(solr_sql(
        t("documents"),
        "SELECT lang, COUNT(*) AS cnt FROM documents "
        "WHERE n_chars > 200 AND lang <> 'xx' GROUP BY lang "
        "ORDER BY cnt DESC LIMIT 5"))
    checks.append((
        "solr_sql: predicates pushed to scan, partial agg, no Python",
        p28,
        ["PushedFilters: [IsNotNull(n_chars), IsNotNull(lang), "
         "GreaterThan(n_chars,200)",
         "HashAggregate", "TakeOrderedAndProject"],
        ["BatchEvalPython", "ArrowEvalPython"]))

    # 29. ExactSubstr duplicated spans: the gram census is a partial
    # (map-side-combinable) aggregation, the interval merge is a per-doc
    # window, and nothing is all-pairs or Python
    from solr_spark.functions.dedup import duplicated_spans
    p29 = plan_of(duplicated_spans(t("documents"), "doc_id", "text", 13))
    checks.append((
        "duplicated_spans: partial gram census + per-doc windows, no "
        "cartesian, no Python",
        p29,
        ["HashAggregate", "Window"],
        ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]))

    # 30. C4 cleaning: a map-ONLY pass — zero exchanges of any kind
    from solr_spark.functions.textanalysis import c4_filters
    p30 = plan_of(c4_filters(t("documents"), "doc_id", "text"))
    checks.append((
        "c4_filters: map-only, zero exchanges",
        p30,
        ["[codegen id :", "Scan parquet"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython"]))

    # 31. ranking_metrics: every window is query-partitioned — no
    # single-partition global sort anywhere in the plan
    from solr_spark.operators.ltr import ranking_metrics
    docs31 = t("documents")
    w31 = __import__("pyspark.sql", fromlist=["Window"]).Window \
        .partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    res31 = (docs31.select(F.col("lang").alias("query_id"), "doc_id",
                           F.row_number().over(w31).alias("rank"))
             .where(F.col("rank") <= 10))
    judg31 = (docs31.where(F.col("doc_id") % 3 == 0)
              .select(F.col("lang").alias("query_id"), "doc_id",
                      (F.col("doc_id") % 4).cast("int").alias("grade")))
    p31 = plan_of(ranking_metrics(res31, judg31, k=10))
    checks.append((
        "ranking_metrics: partitioned windows only, no global sort, "
        "no Python",
        p31,
        ["Window"],
        ["Exchange SinglePartition", "BatchEvalPython", "ArrowEvalPython"]))

    # 32. DSL random(): the deterministic sample is a TakeOrdered (bounded
    # heap per partition + driver-side k-merge), never a global sort; and
    # DSL significantTerms() stays a single-aggregation plan with no Python
    from solr_spark.streaming.dispatch import run_expression
    p32a = plan_of(run_expression(
        'random(documents, q="lang:en", fl="doc_id,source", rows="15", '
        'seed="7")', {"documents": t("documents")}))
    checks.append((
        "DSL random: TakeOrdered bounded heap, no global Sort exchange, "
        "no Python",
        p32a,
        ["TakeOrderedAndProject"],
        ["Exchange rangepartitioning", "BatchEvalPython", "ArrowEvalPython"]))
    p32b = plan_of(run_expression(
        'significantTerms(documents, q="source:src1", field="text", '
        'minDocFreq="5")', {"documents": t("documents")}))
    checks.append((
        "DSL significantTerms: hash-agg pipeline, totals broadcast, "
        "no Python",
        p32b,
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]))

    # 33. list_ranges_facet: ALL ranges + metrics fold into ONE
    # conditional-aggregation scan — a single-partition reduce, never a
    # hash-partitioned exchange, no Python
    from solr_spark.operators.facets import list_ranges_facet
    p33 = plan_of(list_ranges_facet(
        t("documents"), "n_chars",
        [{"range": "[0,200)"}, {"from": 100, "to": 400},
         {"range": "[500,*)"}],
        metrics=[("sum", "n_chars")]))
    checks.append((
        "list_ranges_facet: one conditional-agg scan, no keyed shuffle, "
        "no Python",
        p33,
        ["HashAggregate", "SinglePartition"],
        ["Exchange hashpartitioning", "BatchEvalPython", "ArrowEvalPython"]))

    # 34. scale_fq: the corpus min/max attaches as a BROADCAST single-row
    # build — the scan is never shuffled to meet its own aggregate
    from solr_spark.functions.funcquery import scale_fq
    p34 = plan_of(scale_fq(t("orders"), "o_totalprice", 0.0, 1.0))
    checks.append((
        "scale_fq: min/max broadcast back over the scan, no keyed shuffle",
        p34,
        ["BroadcastNestedLoopJoin", "SinglePartition"],
        ["Exchange hashpartitioning", "SortMergeJoin"]))

    # 35. blended infix suggester: bounded TakeOrdered heap, never a global
    # sort exchange, pure Column algebra
    from solr_spark.operators.components import suggest_blended_infix
    p35 = plan_of(suggest_blended_infix(
        t("documents"), "text", "vec", "n_chars", k=15))
    checks.append((
        "suggest_blended_infix: TakeOrdered bounded heap, no global sort, "
        "no Python",
        p35,
        ["TakeOrderedAndProject"],
        ["Exchange rangepartitioning", "BatchEvalPython", "ArrowEvalPython"]))

    # 36. versioned_update classification: the corpus side is projected to
    # key+version before the join (ReadSchema prunes to 2 columns) and the
    # update batch joins without a sort-merge
    from solr_spark.indexing.versions import check_versions
    cur36 = t("documents").select(
        "doc_id", (F.col("doc_id") % 5 + 2).cast("long").alias("_version_"))
    upd36 = t("documents").select(
        "doc_id", F.lit(0).cast("long").alias("_version_"))
    p36 = plan_of(check_versions(cur36, upd36, ["doc_id"]))
    checks.append((
        "versioned_update: pruned 2-column corpus projection, hash join "
        "not sort-merge, no Python",
        p36,
        ["ReadSchema: struct<doc_id:bigint>"],
        ["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"]))

    # 37. [subquery] transformer: salted two-stage top-N (two window sorts,
    # the first over (key, salt)), group-collect partial-aggregated, and the
    # parent attach is a broadcastable equi-join — no Python anywhere
    from solr_spark.operators.streams import subquery_docs
    cust37 = t("customer").select("c_custkey")
    ord37 = t("orders").select("o_custkey", "o_orderkey", "o_totalprice")
    p37 = plan_of(subquery_docs(
        cust37, ord37, "c_custkey", "o_custkey",
        [F.desc("o_totalprice"), F.asc("o_orderkey")], rows=2))
    checks.append((
        "subquery transformer: salted two-stage top-N + group-collect, "
        "no Python",
        p37,
        ["xxhash64", "Window"],
        ["BatchEvalPython", "ArrowEvalPython"]))

    # 38. CCNet perplexity buckets: the quantile prefix-sum runs through
    # distributed_cumsum — DISTINCT-score aggregate, then per-range-bucket
    # windows. The range boundaries come from the totals job that runs
    # inside the call, so this plan exchanges on the bucket each key maps
    # to (hashpartitioning(__pid) present, SinglePartition absent: no task
    # ever sees the whole table)
    from solr_spark.functions.sampling import perplexity_buckets
    scored38 = t("documents").select(
        "doc_id", (F.col("n_chars") % 97).cast("double").alias("perplexity"))
    p38 = plan_of(perplexity_buckets(scored38))
    checks.append((
        "ccnet buckets: distinct-score aggregate feeds a distributed prefix "
        "sum windowed per range bucket — no single-partition window, no "
        "Python",
        p38,
        ["HashAggregate", "Window", "hashpartitioning(__pid"],
        ["SinglePartition", "BatchEvalPython", "ArrowEvalPython"]))

    # 39. UniMax fractional epoch: threshold variant — the md5-bucket
    # histogram aggregates map-side, the boundary broadcast joins back, and
    # the only per-language ranking window runs AFTER the boundary-bucket
    # filter (the Union of the map-side and ranked branches is in the plan);
    # the corpus itself never sorts per-language
    from solr_spark.functions.sampling import unimax_sample
    docs39 = t("documents").select("doc_id", "lang")
    p39 = plan_of(unimax_sample(docs39, "doc_id", "lang",
                                total_budget=500, max_epochs=2))
    checks.append((
        "unimax sample: histogram threshold pick (map-side below-boundary + "
        "ranked boundary bucket union), boundary broadcast, no Python",
        p39,
        ["HashAggregate", "BroadcastHashJoin", "Union"],
        ["BatchEvalPython", "ArrowEvalPython"]))

    failures = []
    lines = ["# PLANS — physical-plan audit (tools/explain_audit.py)\n",
             f"Run at sf dir `{SF_DIR}`. Each section asserts plan properties "
             "the 100-TB design depends on; excerpts below.\n"]
    for name, plan, must, must_not in checks:
        ok = all(m in plan for m in must) and not any(m in plan for m in must_not)
        if not ok:
            missing = [m for m in must if m not in plan]
            present = [m for m in must_not if m in plan]
            failures.append((name, missing, present))
        lines.append(f"\n## {name} — {'OK' if ok else 'FAIL'}\n")
        lines.append("required: " + "; ".join(f"`{m}`" for m in must) + "\n")
        if must_not:
            lines.append("forbidden: " + "; ".join(f"`{m}`" for m in must_not) + "\n")
        head = "\n".join(plan.splitlines()[:40])
        lines.append(f"\n```\n{head}\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.writelines(lines)
    print(f"PLANS.md written; {len(checks)} checks, {len(failures)} failures")
    for name, missing, present in failures:
        print(f"FAIL {name}: missing={missing} forbidden-present={present}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
