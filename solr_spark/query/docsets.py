"""Filter DocSets for the scored path: fq -> docid bitmap -> kernel mask.

The reference intersects cached filter DocSets with every scored query
(search/SolrIndexSearcher.java:164 filterCache, :1254 getProcessedFilter;
the DocSet itself is a BitDocSet — one bit per internal docid). This module
is that flow restated for the range-partitioned posting layout:

  1. `filter_docids` compiles classic-parser filter strings against the
     index's FORWARD table (the analyzed parquet, which carries docid,
     conv_id, turn_idx and any stored attribute columns) into a
     DataFrame(docid) — predicates push down to the parquet scan.
  2. `docid_range_bitmaps` turns any DataFrame(docid) into one fixed-width
     bitmap PER POSTING RANGE (range_id, filter_bits): 2**range_shift bits as
     little-endian 64-bit words. It is built in the JVM with no Python stage:
     a bit_or per (range, word), partially aggregated map-side, so the
     shuffle moves at most one 8-byte word per 64 allowed docs, never raw
     docid rows, and a 50%-selective filter over 10^12 docs exchanges
     ~n_ranges * 8 KB; a second aggregate lays each range's words out dense.
  3. The scoring kernel inner-joins posting rows to the bitmaps on range_id
     (both sides hash-partitioned into the kernel's task count, so the join
     adds no exchange) —
     a range with NO allowed docs drops out BEFORE postings are decoded
     (filter-driven skipping, composing with block-max WAND's bound-driven
     skipping) — and ANDs the unpacked bits into the keep mask after scoring.

Scoring statistics (df, n_docs, avgdl) stay GLOBAL: fq narrows the result
set, never the scoring model — exactly the reference's q+fq semantics.
A precomputed DataFrame(docid) can be persisted and reused across queries;
that handle IS the filterCache role here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def filter_docids(spark: SparkSession, reader, filters, now=None) -> DataFrame:
    """Compile classic-syntax filter strings (fq) to a DataFrame(docid).

    Filters evaluate against the index's forward table: `text` addresses the
    ANALYZED token text (word-boundary semantics, matching what the index
    matched at build time), every stored attribute column (build_index
    stored_cols) by name, plus conv_id / turn_idx. Multiple filters AND, as
    fq's do. Predicates are plain Catalyst columns — pushed to the scan.
    `now` anchors date-math range endpoints (`ts:[NOW-7DAYS TO *]`) — pass a
    fixed ISO instant for deterministic results (Solr's request NOW param).
    """
    from pyspark.errors import AnalysisException

    from solr_spark.query.parser import LuceneQueryParser

    if isinstance(filters, str):
        filters = [filters]
    fwd = reader.forward_text(spark)
    parser = LuceneQueryParser("text", {"text"}, now=now)
    for f in filters:
        try:
            fwd = fwd.where(parser.parse(f))
        except AnalysisException as e:
            # a filter on a field the index never stored must fail with the
            # fix in the message, not a raw Catalyst resolution error
            raise ValueError(
                f"fq {f!r} references a field not stored in this index "
                f"(forward columns: {sorted(fwd.columns)}); rebuild with "
                f"build_index(..., stored_cols=(<field>,)) to filter on it"
            ) from e
    return fwd.select("docid")


def docid_range_bitmaps(docids: DataFrame, range_shift: int,
                        num_partitions: int) -> DataFrame:
    """DataFrame(docid) -> DataFrame(range_id, filter_bits).

    filter_bits is an array of max(1, 2**range_shift / 64) longs: bit o % 64
    of word o // 64 is set iff docid (range_id << shift) + o is allowed.
    Both aggregates are plain Catalyst (bit_or, then a dense array per
    range), so the fq path adds no Python stage. The words are exchanged on
    range_id into `num_partitions`, so the result is co-partitioned with a
    posting scan repartitioned the same way and a join of the two adds no
    exchange.
    """
    nwords = max(1, (1 << range_shift) >> 6)
    mask = (1 << range_shift) - 1
    words = (docids.selectExpr(
        f"shiftright(docid, {range_shift}) AS range_id",
        f"CAST(shiftright(docid & {mask}, 6) AS INT) AS word",
        "shiftleft(1L, CAST(docid & 63 AS INT)) AS bit")
        .groupBy("range_id", "word").agg(F.expr("bit_or(bit) AS bits"))
        .repartition(num_partitions, "range_id"))
    return (words.groupBy("range_id")
            .agg(F.expr("map_from_entries(collect_list(struct(word, bits))) "
                        "AS present"))
            .selectExpr("range_id", f"transform(sequence(0, {nwords - 1}), "
                        "w -> coalesce(present[w], 0L)) AS filter_bits"))


def unpack_bits(words, width: int) -> np.ndarray:
    """filter_bits words -> bool array of length `width`."""
    return np.unpackbits(np.asarray(words, dtype="<i8").view(np.uint8),
                         bitorder="little")[:width].astype(bool)


__all__ = ["filter_docids", "docid_range_bitmaps", "unpack_bits"]
