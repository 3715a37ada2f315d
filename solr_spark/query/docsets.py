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
     docid rows; a second aggregate lays each range's words out dense.
  3. The scoring kernel (bm25._kernel_topk) drops a range with no allowed
     doc BEFORE its postings are decoded (filter-driven skipping, composing
     with block-max WAND's bound-driven skipping) and ANDs the unpacked bits
     into the keep mask after scoring. The words reach it where it runs:
       one task (the driver): `filter_words`, the reader's filterCache —
         an fq's words collected once as Arrow (compact words, never docid
         rows) into {range_id: words} and kept per IndexReader, LRU by
         bytes. An fq the cache cannot hold collects only the ranges the
         query scores.
       n tasks: the bitmaps stay in the JVM, exchanged on range_id into the
         kernel's partitions, so their join to the posting scan adds no
         exchange; a 50%-selective filter over 10^12 docs exchanges
         ~n_ranges * 8 KB and nothing reaches the driver.

Scoring statistics (df, n_docs, avgdl) stay GLOBAL: fq narrows the result
set, never the scoring model — exactly the reference's q+fq semantics.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bytes of fq words one IndexReader keeps (filter_words). A full entry
# costs one bit per doc (n_docs / 8 bytes), so the default holds ~500
# filters over a million docs; over ~5 * 10^8 docs no fq is cached.
FILTER_CACHE_BYTES = 64 << 20


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
                        num_partitions: int | None = None) -> DataFrame:
    """DataFrame(docid) -> DataFrame(range_id, filter_bits).

    filter_bits is an array of max(1, 2**range_shift / 64) longs: bit o % 64
    of word o // 64 is set iff docid (range_id << shift) + o is allowed.
    Both aggregates are plain Catalyst (bit_or, then a dense array per
    range), so the fq path adds no Python stage. With `num_partitions` the
    words are exchanged on range_id into that many partitions, so the
    result is co-partitioned with a posting scan repartitioned the same way
    and a join of the two adds no exchange.
    """
    nwords = max(1, (1 << range_shift) >> 6)
    mask = (1 << range_shift) - 1
    words = (docids.selectExpr(
        f"shiftright(docid, {range_shift}) AS range_id",
        f"CAST(shiftright(docid & {mask}, 6) AS INT) AS word",
        "shiftleft(1L, CAST(docid & 63 AS INT)) AS bit")
        .groupBy("range_id", "word").agg(F.expr("bit_or(bit) AS bits")))
    if num_partitions is not None:
        words = words.repartition(num_partitions, "range_id")
    return (words.groupBy("range_id")
            .agg(F.expr("map_from_entries(collect_list(struct(word, bits))) "
                        "AS present"))
            .selectExpr("range_id", f"transform(sequence(0, {nwords - 1}), "
                        "w -> coalesce(present[w], 0L)) AS filter_bits"))


def filter_words(spark: SparkSession, reader, ranges, filters=None,
                 docids: DataFrame | None = None,
                 now=None) -> dict[int, np.ndarray]:
    """The fq DocSet over the docid `ranges` a query scores, as {range_id:
    filter words} (docid_range_bitmaps' rows; a range with no allowed doc
    has no entry) — `reader`'s filterCache.

    `filters` (classic strings, compiled by filter_docids) cache under the
    sorted strings, `now` and the reader's analyzed batch list, so a new
    batch (add_documents) misses; a cached entry holds the words of every
    range, so it serves any later query. Not cached, and collected for
    `ranges` only: a NOW-relative filter with now=None (it re-anchors to the
    wall clock on every call, as in LocalSearcher.filter_mask), a
    precomputed `docids` DataFrame, and any fq whose words could exceed
    FILTER_CACHE_BYTES (an index over ~5 * 10^8 docs), so the driver never
    holds more than the cache bound or the query's own ranges. A miss builds
    the bitmaps in the JVM and collects them as Arrow in one job (none when
    `ranges` is empty); a hit runs none. Entries evict least-recently-used,
    and one that would not fit the bound is never inserted."""
    shift = reader.config.range_shift
    nwords = max(1, (1 << shift) >> 6)
    key = None
    if filters is not None:
        filters = [filters] if isinstance(filters, str) else list(filters)
        full = -(-reader.n_docs >> shift) * nwords * 8  # every range's words
        if (full <= FILTER_CACHE_BYTES
                and (now is not None or not any("NOW" in f for f in filters))):
            key = (tuple(sorted(filters)), now, tuple(reader._batches()))
    cache = reader._filter_cache
    if key in cache:
        cache.move_to_end(key)
        return cache[key]
    if docids is None:
        docids = filter_docids(spark, reader, filters, now=now)
    ranges = sorted(set(np.asarray(ranges, dtype=np.int64).tolist()))
    if not ranges:
        return {}
    if key is None:
        docids = docids.where(f"shiftright(docid, {shift}) IN "
                              f"({', '.join(map(str, ranges))})")
    tbl = docid_range_bitmaps(docids, shift).toArrow()
    words = tbl["filter_bits"].combine_chunks().flatten().to_numpy() \
        .reshape(-1, nwords)
    out = dict(zip(tbl["range_id"].to_pylist(), words))
    size = words.nbytes
    if key is not None and size <= FILTER_CACHE_BYTES:
        used = size + sum(w.nbytes for v in cache.values() for w in v.values())
        while used > FILTER_CACHE_BYTES:
            _, old = cache.popitem(last=False)
            used -= sum(w.nbytes for w in old.values())
        cache[key] = out
    return out


def unpack_bits(words, width: int) -> np.ndarray:
    """filter_bits words -> bool array of length `width`."""
    return np.unpackbits(np.asarray(words, dtype="<i8").view(np.uint8),
                         bitorder="little")[:width].astype(bool)


__all__ = ["filter_docids", "docid_range_bitmaps", "filter_words",
           "unpack_bits"]
