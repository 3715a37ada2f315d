"""Distributed inverted-index build: analyze -> docids -> postings -> norms.

Index directory layout (all Parquet unless noted):
    analyzed/batch-NNN/               docid, conv_id, turn_idx, dl, toks (forward index;
                                      toks = space-joined analyzed tokens, one string)
    norms/                            range_id, base_docid, n, norm_bytes  (SmallFloat blobs)
    segments/seg-NNN/term_bucket=*/   posting-range rows
    dictionary/term_bucket=*/         term, df, cf, max_tf                 (global term dict)
    segments.json                     live segment list (LSM state)
    stats.json                        n_docs, sum_dl, avgdl
    _manifests/                       per-stage checkpoint manifests

Shuffle plan (designed for 10^12 turns):
    S1  groupBy(conv_id)            docid prefix-sum (conversation granularity)
    S2  hash(term, range_id)        partial-segment MERGE shuffle. Token occurrences
                                    never cross the wire: each analyzed partition is
                                    encoded into a PARTIAL posting segment by a narrow
                                    map stage (every document lives wholly in one
                                    partition, so per-doc tf is final map-side), and
                                    only the varint-compressed partial rows
                                    (term, range_id, blobs) are exchanged — orders of
                                    magnitude fewer rows/bytes than the raw occurrence
                                    stream. This is the reference's own architecture:
                                    per-writer segments + background merge
                                    (DefaultMergePolicyFactory.java:42, SURVEY.md §1.1).
                                    A hot term's postings are spread over
                                    ceil(N / 2^range_shift) ranges, so no single merge
                                    task ever sees more than 2^range_shift postings.
                                    This range-chunking IS the skew handling
                                    (Spark-native analog of the reference's hot-term
                                    special path, search/facet/UnInvertedField.java:
                                    108-149); AQE skew settings stay on as a backstop.
    S3  repartition(term_bucket)    layout-only exchange of already-compressed rows so
                                    each term_bucket directory is written contiguously

Posting rows are encoded by a numpy kernel inside mapInPandas (Arrow batches, no
per-row Python): varint doc-gap deltas + varint tfs + per-block max-tf metadata
(block-max WAND input). Reference analog for the overall flow:
solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java:407,513 (addDoc ->
IndexWriter) with segments per SURVEY.md §1.1.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import make_tokenize_joined_udf
from solr_spark.codec.smallfloat import int_to_byte4
from solr_spark.config import DEFAULT_CONFIG, IndexConfig
from solr_spark.indexing.docids import assign_doc_ids_deferred
from solr_spark.indexing.manifest import stage_complete, write_manifest

SEGMENT_SCHEMA = (
    "term string, range_id long, n_docs int, doc_gaps binary, tfs binary, "
    "block_first array<long>, block_max_tf array<int>, max_tf int, range_cf long"
)
NORMS_SCHEMA = "range_id long, base_docid long, n long, norm_bytes binary"


# ---------------------------------------------------------------- kernels


def _posting_encoder(config: IndexConfig):
    shift, block = config.range_shift, config.block_size

    def encode_iter(batches):
        # Whole-partition Arrow kernel over the forward index (docid, toks).
        # Token materialization NEVER creates per-occurrence Python objects:
        # split_pattern / list_flatten / dictionary_encode run in Arrow C++
        # (one string heap, one hash table), then everything downstream is
        # array-at-a-time numpy on int codes. Python strings are only created
        # for the per-task UNIQUE terms when emitting rows. This matters for
        # multi-core scaling: the per-occurrence object-churn version was
        # allocator/memory-bandwidth bound and stopped scaling past ~8 cores.
        # A document's tokens are all in its one row, so the tf counts produced
        # here are FINAL — the merge stage only concatenates disjoint docid sets.
        import pyarrow as pa
        import pyarrow.compute as pc

        d_parts: list[pa.Array] = []
        t_parts: list[pa.Array] = []
        for b in batches:
            if b.num_rows:
                d_parts.append(b.column("docid"))
                t_parts.append(b.column("toks"))
        if not d_parts:
            return
        docid = pa.chunked_array(d_parts).combine_chunks().to_numpy()
        toks = pa.chunked_array(t_parts).combine_chunks()
        del d_parts, t_parts
        tok_lists = pc.split_pattern(toks, " ")  # "" splits to [""]
        del toks
        lens = pc.list_value_length(tok_lists).to_numpy()
        denc = pc.dictionary_encode(pc.list_flatten(tok_lists))
        del tok_lists
        # Arrow dictionary indices are int32 — KEEP them narrow: the stable
        # argsort + gather below is the build's hottest, memory-bandwidth-bound
        # operation, and int32 keys move half the bytes of int64 (~25% faster
        # sort+gather measured on a 60M-occurrence stream).
        codes = denc.indices.to_numpy()
        uniq = denc.dictionary
        uniq_np = uniq.to_numpy(zero_copy_only=False)  # small: unique terms only
        del denc
        docs = np.repeat(docid, lens)
        # empty docs contributed a single "" token — drop those occurrences
        empty_ids = np.flatnonzero(uniq_np == "")
        if len(empty_ids):
            keep = codes != empty_ids[0]
            codes, docs = codes[keep], docs[keep]
        if not len(codes):
            return  # partition of empty/stopword-only docs: no postings to emit
        # docids are ascending within an analyzed partition (the docid window
        # sorts by conv_id and docid = dense rank over conv_id) — when that
        # holds, a SINGLE-key stable argsort on the term code yields the same
        # (code, docid) order as the two-key lexsort at roughly half the
        # memory traffic, and docids can ride as int32 offsets from the
        # partition's first docid (absolute docids restored after the
        # run-length pass — one partition never spans 2^31 docs, guarded).
        # Fallback keeps correctness for arbitrary inputs.
        base = np.int64(0)
        if np.all(docid[1:] >= docid[:-1]) \
                and int(docs[-1]) - int(docs[0]) < 2**31:
            base = np.int64(docs[0])
            docs = (docs - base).astype(np.int32)
            order = np.argsort(codes, kind="stable")
        else:
            order = np.lexsort((docs, codes))
        c, d = codes[order], docs[order]
        del order, codes, docs

        # tf = run length of each (code, docid) pair
        pchange = np.flatnonzero((c[1:] != c[:-1]) | (d[1:] != d[:-1])) + 1
        pstart = np.concatenate(([0], pchange))
        tf = np.diff(np.concatenate((pstart, [len(c)])))
        cu, du = c[pstart], d[pstart].astype(np.int64) + base
        rid_u = du >> np.int64(shift)

        gchange = np.flatnonzero((cu[1:] != cu[:-1]) | (rid_u[1:] != rid_u[:-1])) + 1
        bounds = np.concatenate(([0], gchange, [len(cu)]))
        yield from _emit_segment_batches(
            uniq_np[cu[bounds[:-1]]], rid_u[bounds[:-1]], du, tf, bounds,
            shift, block)

    return encode_iter


_ARROW_SEGMENT_SCHEMA = None


def _segment_arrow_schema():
    global _ARROW_SEGMENT_SCHEMA
    if _ARROW_SEGMENT_SCHEMA is None:
        import pyarrow as pa

        _ARROW_SEGMENT_SCHEMA = pa.schema([
            ("term", pa.string()), ("range_id", pa.int64()),
            ("n_docs", pa.int32()), ("doc_gaps", pa.binary()),
            ("tfs", pa.binary()), ("block_first", pa.list_(pa.int64())),
            ("block_max_tf", pa.list_(pa.int32())), ("max_tf", pa.int32()),
            ("range_cf", pa.int64()),
        ])
    return _ARROW_SEGMENT_SCHEMA


def _emit_segment_batches(terms, rid_g, du, tf, bounds, shift, block,
                          chunk=65536):
    """Yield SEGMENT_SCHEMA RecordBatches for many posting groups at once.

    terms: per-group term (object array), rid_g: per-group range id,
    (du, tf): concatenated postings, bounds: group boundaries into them.
    """
    import pyarrow as pa

    from solr_spark.codec.varint import encode_posting_groups

    schema = _segment_arrow_schema()
    doc_gaps, tfs_b, bfirst, bmax, max_tf, n_docs, range_cf = \
        encode_posting_groups(du, tf, bounds, rid_g, shift, block)
    rid_l = np.asarray(rid_g, dtype=np.int64)
    for s in range(0, len(doc_gaps), chunk):
        e = min(s + chunk, len(doc_gaps))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(terms[s:e].tolist(), pa.string()),
                pa.array(rid_l[s:e]),
                pa.array(n_docs[s:e].astype(np.int32)),
                pa.array(doc_gaps[s:e], pa.binary()),
                pa.array(tfs_b[s:e], pa.binary()),
                pa.array(bfirst[s:e], pa.list_(pa.int64())),
                pa.array(bmax[s:e], pa.list_(pa.int32())),
                pa.array(max_tf[s:e].astype(np.int32)),
                pa.array(range_cf[s:e]),
            ],
            schema=schema,
        )


def _partial_merger(config: IndexConfig, deleted: "np.ndarray | None" = None):
    """Merge partial posting rows for the same (term, range_id) into final rows.

    Input partitions are hash-partitioned by (term, range_id) so every partial of
    a group is in one task. Docid sets of different partials are disjoint (a doc
    lives in exactly one analyzed partition), so merging is concat + sort — tfs
    are never combined. Groups with a single partial pass through untouched
    (the long-tail fast path: at scale most rare terms appear in one partition's
    partial only).

    deleted: optional sorted tombstone docid array (indexing/deletes.py) —
    postings of deleted docs are purged during the merge, the LSM analog of
    Lucene dropping liveDocs-masked docs at segment merge.
    """
    from solr_spark.codec.varint import decode_postings

    shift, block = config.range_shift, config.block_size

    def merge_iter(batches):
        # Fully-vectorized merge: batch-decode ALL partial rows of the task
        # (one varint pass per column + a segment-wise cumsum), sort the
        # posting stream by (term, range, docid) as pure ints, and batch-encode
        # the merged groups. Per-row Python is one bytes-object per PARTIAL
        # (thousands), never per posting (millions).
        import pyarrow as pa
        import pyarrow.compute as pc

        tables = [pa.Table.from_batches([b]) for b in batches if b.num_rows]
        if not tables:
            return
        tbl = pa.concat_tables(tables).combine_chunks()
        del tables
        denc = pc.dictionary_encode(tbl.column("term").chunk(0))
        codes = denc.indices.to_numpy()  # int32 — narrow sort keys, see encoder
        uniq_np = denc.dictionary.to_numpy(zero_copy_only=False)
        rids = tbl.column("range_id").chunk(0).to_numpy()
        n_docs = tbl.column("n_docs").chunk(0).to_numpy().astype(np.int64)
        gaps_blobs = tbl.column("doc_gaps").chunk(0).to_pylist()
        tfs_blobs = tbl.column("tfs").chunk(0).to_pylist()
        del tbl, denc

        docids, all_tfs, _ = decode_postings(gaps_blobs, tfs_blobs, rids,
                                             n_docs, shift)
        del gaps_blobs, tfs_blobs
        code_occ = np.repeat(codes, n_docs)
        rid_occ = np.repeat(rids, n_docs)
        if deleted is not None and len(deleted):
            keep = ~np.isin(docids, deleted)
            docids, all_tfs = docids[keep], all_tfs[keep]
            code_occ, rid_occ = code_occ[keep], rid_occ[keep]
            if not len(docids):
                return
        order = np.lexsort((docids, rid_occ, code_occ))
        d, t = docids[order], all_tfs[order]
        c, r = code_occ[order], rid_occ[order]
        del docids, all_tfs, code_occ, rid_occ, order

        gchange = np.flatnonzero((c[1:] != c[:-1]) | (r[1:] != r[:-1])) + 1
        bounds = np.concatenate(([0], gchange, [len(c)]))
        yield from _emit_segment_batches(
            uniq_np[c[bounds[:-1]]], r[bounds[:-1]], d, t, bounds, shift, block)

    return merge_iter


def _norm_kernel(config: IndexConfig):
    shift, lucene = config.range_shift, config.lucene_norms

    def build_norms(pdf: pd.DataFrame) -> pd.DataFrame:
        rid = int(pdf["range_id"].iloc[0])
        base = rid << shift
        off = pdf["docid"].to_numpy() - base
        if lucene:  # SmallFloat-quantized 1-byte doc lengths (Lucene parity mode)
            arr = np.zeros(int(off.max()) + 1, dtype=np.uint8)
            arr[off] = int_to_byte4(pdf["dl"].to_numpy())
        else:       # exact mode: raw uint32 lengths (matches the SQL oracle exactly)
            arr = np.zeros(int(off.max()) + 1, dtype=np.uint32)
            arr[off] = pdf["dl"].to_numpy().astype(np.uint32)
        return pd.DataFrame(
            {"range_id": [rid], "base_docid": [base], "n": [len(pdf)],
             "norm_bytes": [arr.tobytes()]}
        )

    return build_norms


# ---------------------------------------------------------------- stage helpers


def write_analyzed(
    source: DataFrame, path: str, config: IndexConfig,
    num_partitions: int, docid_base: int = 0,
    stored_cols: tuple = (),
) -> None:
    # stored_cols: attribute columns of `source` (role, ts, lang, ...) carried
    # into the forward table — the reference's stored-field/docValues role
    # (schema/FieldProperties.java stored/docValues). They ride the ONE
    # shuffle the corpus already crosses, cost nothing in the posting build
    # (column pruning keeps them out of it), and give the scored-path filter
    # compiler (query/docsets.py) pushed-predicate access at query time.
    # Forward index is ONE space-joined string per doc, produced directly by the
    # Arrow UDF: both the Arrow transfer and the parquet encoding handle a single
    # string far faster than an array<string> (no per-token offsets) — this was
    # the dominant, non-scaling cost of the stage. Tokens cannot contain spaces,
    # so the join is lossless; the posting build re-splits JVM-side.
    # Tokenize BEFORE the docid join/window: the UDF runs as a narrow stage at
    # input-file parallelism with no exchange feeding it, and the corpus
    # crosses exactly ONE shuffle (the conv_id window sort), carrying analyzed
    # toks instead of raw text. Column pruning keeps the tokenizer out of the
    # docid prefix-sum jobs (they only read conv_id), so it still runs exactly
    # once per document. The Arrow UDF beats the pure-JVM regexp_extract_all
    # twin (analysis.tokenize_column, kept tested as the SQL-only alternative)
    # by ~25% warm at every parallelism level — Python's C regex module
    # outruns java.util.regex on this pattern — and scales with cores once
    # workers are forked (bench warms the pool before timing, mirroring a real
    # cluster's long-lived executors).
    from pyspark.sql.types import ArrayType

    if isinstance(source.schema["text"].dataType, ArrayType):
        # multivalued text field: per-value analysis + positionIncrementGap
        # encoded as gap empty tokens (make_tokenize_joined_multi_udf); dl
        # counts NON-EMPTY tokens so gaps never inflate norms
        from solr_spark.analysis import make_tokenize_joined_multi_udf

        tokenize = make_tokenize_joined_multi_udf(config)
    else:
        tokenize = make_tokenize_joined_udf(config)
    extra = [c for c in stored_cols if c not in
             ("conv_id", "turn_idx", "dl", "toks", "docid")]
    toked = (
        source
        .withColumn("toks", tokenize(F.col("text")))
        .withColumn(
            "dl",
            F.size(F.filter(F.split("toks", " "),
                            lambda x: x != "")).cast("long"),
        )
        .select("conv_id", "turn_idx", "dl", "toks", *extra)
    )
    with_ids, docid_cleanup = assign_doc_ids_deferred(toked, num_partitions)
    analyzed = (
        with_ids
        .withColumn("docid", F.col("docid") + F.lit(docid_base))
        .select("docid", "conv_id", "turn_idx", "dl", "toks", *extra)
    )
    # Deliberately NO repartitionByRange here: range sampling evaluates the child
    # plan twice, which would run the (expensive) tokenize UDF over the whole
    # corpus a second time. Nothing downstream needs docid clustering — norms
    # shuffle by range_id and the posting build shuffles by (term, range_id).
    # AQE partition coalescing is disabled for this one write so the analyzed
    # layout keeps spark.sql.shuffle.partitions files: the file count sets the
    # parallelism of the (narrow, Python-heavy) partial-segment encode stage,
    # and byte-based coalescing wildly underestimates that per-row cost.
    spark = source.sparkSession
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        analyzed.write.mode("overwrite").parquet(path)
    finally:
        spark.conf.set(coalesce_key, prev)
        docid_cleanup()


def write_norms(analyzed: DataFrame, path: str, config: IndexConfig) -> None:
    norms = (
        analyzed.select("docid", "dl")
        .withColumn("range_id", F.shiftright("docid", config.range_shift))
        .groupBy("range_id")
        .applyInPandas(_norm_kernel(config), NORMS_SCHEMA)
    )
    norms.write.mode("overwrite").parquet(path)


def write_segment(
    analyzed: DataFrame, seg_path: str, config: IndexConfig, num_partitions: int
) -> None:
    # Two-phase, Lucene-style build. Phase 1 (narrow, NO shuffle): each analyzed
    # partition becomes a PARTIAL posting segment — tokenization output is turned
    # into final (term, docid, tf) postings map-side because every document lives
    # wholly in one partition. Phase 2 (the only wide exchange): the
    # varint-compressed partial rows shuffle by (term, range_id) and merge by
    # concatenation of disjoint docid sets. Exchanging encoded blobs instead of
    # raw token occurrences moves ~100x fewer rows; the occurrence stream
    # (60M rows per 400k docs) never touches a shuffle or the Arrow pipe.
    partials = analyzed.select("docid", "toks").mapInArrow(
        _posting_encoder(config), SEGMENT_SCHEMA)
    enc = (
        partials.repartition(num_partitions, "term", "range_id")
        .mapInArrow(_partial_merger(config), SEGMENT_SCHEMA)
        .withColumn("term_bucket", F.crc32(F.col("term")) % config.num_term_buckets)
    )
    (enc.repartition(F.col("term_bucket"))
        .write.partitionBy("term_bucket").mode("overwrite").parquet(seg_path))


def read_segments(spark: SparkSession, seg_paths: list[str]) -> DataFrame:
    """Union-read several hive-partitioned segment roots (multi-root partition
    discovery is not supported by a single parquet() call)."""
    dfs = [spark.read.parquet(p) for p in seg_paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def write_dictionary(spark: SparkSession, index_dir: str, seg_paths: list[str]) -> None:
    seg = read_segments(spark, seg_paths)
    dictionary = seg.groupBy("term", "term_bucket").agg(
        F.sum("n_docs").alias("df"),
        F.sum("range_cf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
    ).withColumn("tlen", F.length("term"))
    # tlen is a PLAIN column so fuzzy expansion's length band pushes down to
    # the parquet scan (F.length(term) never would); sorting by (tlen, term)
    # clusters row groups so the min/max stats actually prune them.
    (dictionary.repartition(F.col("term_bucket"))
               .sortWithinPartitions("tlen", "term")
               .write.partitionBy("term_bucket").mode("overwrite")
               .parquet(os.path.join(index_dir, "dictionary")))


def _driver_pool():
    """Shared thread pool for driver-side parquet footer/column scans. These
    scans are part of the build's SERIAL fraction (they run between Spark
    jobs); pyarrow releases the GIL during IO/decode, so threading them keeps
    the serial fraction ~constant as file counts grow with parallelism."""
    from concurrent.futures import ThreadPoolExecutor

    return ThreadPoolExecutor(max_workers=16)


def _sum_parquet_column(spark: SparkSession, root: str, column: str) -> int:
    """Sum one int column under a parquet root. Small artifacts (norms,
    dictionary) are read driver-side with pyarrow — no Spark job, no job-launch
    latency; beyond 1 GB (billions of dictionary terms at true 100-TB scale) it
    falls back to a distributed aggregate."""
    paths = [os.path.join(dp, f)
             for dp, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
    if sum(os.path.getsize(p) for p in paths) < (1 << 30):
        import pyarrow.parquet as pq

        def one(p):
            return int(pq.read_table(p, columns=[column])[column]
                       .to_numpy().sum())

        with _driver_pool() as pool:
            return sum(pool.map(one, paths))
    df = spark.read.parquet(root)
    return int(df.agg(F.sum(column)).collect()[0][0] or 0)


def _config_dict(config: IndexConfig) -> dict:
    from dataclasses import asdict

    return asdict(config)


def read_stats(index_dir: str) -> dict:
    path = os.path.join(index_dir, "stats.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def write_stats(spark: SparkSession, index_dir: str, config: IndexConfig,
                n_docs: int | None = None, n_ghosts: int | None = None) -> dict:
    # Derived from the two SMALL index artifacts, not a corpus re-scan:
    #   n_total = sum of per-range doc counts in norms (precomputable while the
    #             dictionary job runs — serial-fraction overlap). This is the
    #             docid-allocation watermark: ghost norms of merge-purged docs
    #             persist (as in Lucene until a full rewrite), so n_total never
    #             shrinks and add_documents keys new docids off it.
    #   n_ghosts = cumulative tombstones purged by merges whose norms remain.
    #             Carried forward from the previous stats.json unless the
    #             caller (merge_segments) passes the updated count.
    #   n_docs  = n_total - n_ghosts = LIVE docs. Lucene's docCount drops
    #             deleted docs once a merge purges them (the merged segment no
    #             longer contains those docs), so BM25/LM read this.
    #   sum_dl  = sum of collection frequencies in the dictionary (every analyzed
    #             token appears in exactly one posting's tf). The dictionary is
    #             rebuilt from purged postings at merge, so this is live-doc
    #             token mass — consistent with n_docs for avgdl.
    n_total = (n_docs if n_docs is not None else
               _sum_parquet_column(spark, os.path.join(index_dir, "norms"), "n"))
    if n_ghosts is None:
        n_ghosts = int(read_stats(index_dir).get("n_ghosts", 0))
    n_docs = n_total - n_ghosts
    sum_dl = _sum_parquet_column(spark, os.path.join(index_dir, "dictionary"), "cf")
    stats = {
        "n_docs": n_docs,
        "n_total": n_total,
        "n_ghosts": n_ghosts,
        "sum_dl": sum_dl,
        # Lucene BM25 avgFieldLength = sumTotalTermFreq / docCount (float division)
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        # FULL config (asdict), so IndexReader.open reconstructs the exact
        # analyzer/scoring configuration — a stopwords="none" or custom
        # max_token_length index must not silently reopen with defaults.
        "config": _config_dict(config),
    }
    path = os.path.join(index_dir, "stats.json")
    with open(path + ".tmp", "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(path + ".tmp", path)
    return stats


def write_live_segments(index_dir: str, names: list[str]) -> None:
    path = os.path.join(index_dir, "segments.json")
    with open(path + ".tmp", "w") as f:
        json.dump({"segments": names}, f, indent=2)
    os.replace(path + ".tmp", path)


def live_segments(index_dir: str) -> list[str]:
    path = os.path.join(index_dir, "segments.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["segments"]


def _bucket_metrics(spark: SparkSession, seg_path: str) -> list[dict]:
    """Per-term-bucket build metrics (manifest lineage), computed entirely from
    parquet FOOTERS + one tiny int column — driver-side, zero Spark jobs (a
    cluster deployment with thousands of buckets would push this into a
    distributed footer scan; the shape of the metrics is the same). Row counts
    come from file metadata, posting counts from the n_docs column, byte sizes
    from the filesystem — the binary posting columns are never read."""
    import pyarrow.parquet as pq

    def one_bucket(name: str) -> dict:
        bucket = int(name.split("=", 1)[1])
        d = os.path.join(seg_path, name)
        range_rows = postings = size = 0
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(d, f)
            size += os.path.getsize(p)
            range_rows += pq.ParquetFile(p).metadata.num_rows
            postings += int(pq.read_table(
                p, columns=["n_docs"])["n_docs"].to_numpy().sum())
        return {"term_bucket": bucket, "range_rows": range_rows,
                "postings": postings, "file_bytes": size}

    names = sorted(n for n in os.listdir(seg_path)
                   if n.startswith("term_bucket="))
    with _driver_pool() as pool:
        return list(pool.map(one_bucket, names))


# ---------------------------------------------------------------- full build


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: IndexConfig = DEFAULT_CONFIG,
    input_token: str = "",
    num_partitions: int | None = None,
    stored_cols: tuple = (),
) -> dict:
    """Build (or resume building) a full-text index from a transcript DataFrame.

    `input_token` is the lineage fingerprint of `source` (manifest.source_input_token
    of the source files, or a synthetic-corpus seed tag). Stages whose manifest matches
    (stage, config_hash, input_token) are skipped — checkpoint-resume semantics
    (reference analog: update/UpdateLog.java:105-108 tlog replay).

    stored_cols: extra source columns kept in the forward table (stored
    fields / docValues — see write_analyzed); folded into the manifest token
    so changing them rebuilds the analyzed stage.
    """
    cfg_hash = config.config_hash()
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if stored_cols:
        input_token = f"{input_token}+stored:{','.join(stored_cols)}"

    analyzed_path = os.path.join(index_dir, "analyzed", "batch-000")
    analyzed_fresh = not stage_complete(index_dir, "analyzed", cfg_hash, input_token)
    if analyzed_fresh:
        write_analyzed(source, analyzed_path, config, num_partitions,
                       stored_cols=stored_cols)
    analyzed = spark.read.parquet(analyzed_path)

    # Independent stages run CONCURRENTLY on the Spark scheduler (thread-safe):
    # norms (small shuffle), the posting-segment build (the big job), and the
    # analyzed per-partition metrics all read the materialized analyzed parquet.
    # Overlapping them hides each job's scheduling/IO latency behind the big
    # stage's compute — a meaningful chunk of the serial fraction at high
    # parallelism. Manifests are only written on completion, so a crash
    # mid-phase resumes each incomplete stage independently.
    seg_path = os.path.join(index_dir, "segments", "seg-000")

    def _analyzed_manifest() -> None:
        # per-partition lineage from parquet footers — no data scan, no Spark
        # job; footer reads threaded (serial-fraction control)
        import pyarrow.parquet as pq

        def one(name: str) -> dict:
            p = os.path.join(analyzed_path, name)
            return {"file": name,
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p)}

        names = sorted(n for n in os.listdir(analyzed_path)
                       if n.endswith(".parquet"))
        with _driver_pool() as pool:
            part_stats = list(pool.map(one, names))
        write_manifest(index_dir, "analyzed", cfg_hash, input_token,
                       metrics={"partitions": len(part_stats),
                                "rows": sum(s["rows"] for s in part_stats)},
                       partitions=part_stats)

    def _norms_stage() -> None:
        write_norms(analyzed, os.path.join(index_dir, "norms"), config)
        write_manifest(index_dir, "norms", cfg_hash, input_token)

    def _segment_stage() -> None:
        write_segment(analyzed, seg_path, config, num_partitions)
        write_live_segments(index_dir, ["seg-000"])
        write_manifest(index_dir, "seg-000", cfg_hash, input_token,
                       partitions=_bucket_metrics(spark, seg_path))

    from concurrent.futures import ThreadPoolExecutor

    tasks = []
    if analyzed_fresh:
        tasks.append(_analyzed_manifest)
    if not stage_complete(index_dir, "norms", cfg_hash, input_token):
        tasks.append(_norms_stage)
    if not stage_complete(index_dir, "seg-000", cfg_hash, input_token):
        tasks.append(_segment_stage)
    if tasks:
        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            for fut in [pool.submit(t) for t in tasks]:
                fut.result()  # re-raise stage failures

    if not stage_complete(index_dir, "dictionary", cfg_hash, input_token):
        # overlap the (driver-side, GIL-released) norms n-sum with the
        # dictionary Spark job — both feed write_stats
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut_n = pool.submit(_sum_parquet_column, spark,
                                os.path.join(index_dir, "norms"), "n")
            write_dictionary(spark, index_dir, [seg_path])
            n_docs = fut_n.result()
        stats = write_stats(spark, index_dir, config, n_docs=n_docs, n_ghosts=0)
        write_manifest(index_dir, "dictionary", cfg_hash, input_token, metrics=stats)
    else:
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
    return stats
