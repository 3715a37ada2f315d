"""Exact phrase queries over the analyzed forward index.

Reference semantics: Lucene PhraseQuery (slop=0) via the classic parser's quoted
syntax (solr/core/src/java/org/apache/solr/parser/QueryParser.jj — `"a b"`),
scored like a term whose tf is the PHRASE frequency (number of exact occurrences
of the analyzed token sequence) and whose df is the count of documents containing
the phrase.

Index shape trade-off (deliberate): the reference stores per-term positions in
the postings and intersects position lists. Our posting rows omit positions —
instead the analyzed forward index (`toks`: space-joined analyzed tokens) makes a
phrase a token-position slice comparison, evaluated JVM-side by
split/sequence/filter/slice expressions (codegen, no Python), counting EVERY
start position — overlapping and adjacent occurrences included, exactly like
Lucene's ExactPhraseMatcher ('a a a' contains "a a" twice). The phrase scan is
column-pruned to (docid, dl, toks) and is embarrassingly parallel; at 100 TB,
candidate pre-filtering via the inverted index (AND of the phrase's terms over
postings, then the positional verify on the survivors) bounds the scan —
`prefilter=True` wires that path.

Scoring: BM25 with tf = phrase_freq, df = phrase document frequency, exact
(un-quantized) dl — the phrase df is a query-time quantity the reference also
computes on the fly (it has no per-phrase statistics either).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.query.bm25 import RANKED_SCHEMA, IndexReader, _idf, rank_topk
from solr_spark.query.empty import empty_df


def phrase_count_expr(toks_col, terms: list[str]):
    """Exact Lucene slop-0 phrase frequency over the analyzed token string.

    Counts every start position p where toks[p : p+len(terms)] equals the
    phrase, INCLUDING overlapping/adjacent occurrences — 'a a a' counts the
    phrase "a a" twice, 'b a b a b' counts "b a b" twice — matching Lucene's
    ExactPhraseMatcher (PhraseQuery slop=0; grammar parser/QueryParser.jj).
    Pure JVM expressions (split/sequence/filter/slice): whole-stage codegen,
    no Python, no regex non-overlap pitfalls.
    """
    arr = F.split(toks_col, " ")
    n = len(terms)
    target = F.array(*[F.lit(t) for t in terms])
    starts = F.sequence(F.lit(1), F.size(arr) - F.lit(n - 1))
    cnt = F.size(F.filter(starts, lambda i: F.slice(arr, i, n) == target))
    # sequence(1, x) with x < 1 generates a DESCENDING sequence — guard short docs
    return F.when(F.size(arr) >= n, cnt).otherwise(F.lit(0))


def _sloppy_phrase_kernel(terms: list[str], slop: int):
    """Vectorized sloppy-phrase-frequency kernel (mapInArrow over
    (docid, dl, toks)).

    Semantics: ORDERED matches only. For each occurrence p1 of terms[0], the
    greedy chain takes the first occurrence of each subsequent term strictly
    after the previous one; matchLength = p_n - p_1 - (n-1); a chain with
    matchLength <= slop contributes 1/(1 + matchLength) to the doc's sloppy
    frequency — Lucene's SloppyPhraseMatcher weight formula
    (parser/QueryParser.jj `"a b"~2`). Documented deviation: Lucene also
    admits REVERSED alignments once slop >= 2 ('b a' for "a b"); this kernel
    is ordered-only (the surround/W-operator reading), asserted by the pytest
    conformance vectors.

    Everything is numpy: occurrences located via Arrow index_in, chains
    advanced with one searchsorted per phrase position, per-doc sums via
    reduceat. Per-row stride isolation makes cross-doc chains fail slop.
    """
    import numpy as np

    n_terms = len(terms)
    uniq_terms = list(dict.fromkeys(terms))  # repeated terms share one code
    tcode = [uniq_terms.index(t) for t in terms]

    def sloppy_iter(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out = pa.schema([("docid", pa.int64()), ("tf", pa.float64()),
                         ("dl", pa.int64())])
        term_arr = pa.array(uniq_terms)
        inf = np.iinfo(np.int64).max // 4
        for b in batches:
            if not b.num_rows:
                continue
            docid = b.column("docid").to_numpy()
            dls = b.column("dl").to_numpy()
            tok_lists = pc.split_pattern(b.column("toks"), " ")
            lens = pc.list_value_length(tok_lists).to_numpy()
            codes = pc.fill_null(
                pc.index_in(pc.list_flatten(tok_lists), value_set=term_arr), -1
            ).to_numpy().astype(np.int64, copy=False)
            row_of = np.repeat(np.arange(len(docid), dtype=np.int64), lens)
            pos = np.arange(len(codes), dtype=np.int64) \
                - np.repeat(np.cumsum(lens) - lens, lens)
            stride = np.int64(int(lens.max()) + slop + n_terms + 2)
            gp = pos + row_of * stride
            starts_mask = codes == tcode[0]
            if not starts_mask.any():
                continue
            p1 = gp[starts_mask]
            srow = row_of[starts_mask]
            cur = p1
            for t in range(1, n_terms):
                pt = gp[codes == tcode[t]]
                if not len(pt):
                    cur = np.full(len(p1), inf, dtype=np.int64)
                    break
                idx = np.searchsorted(pt, cur, side="right")
                cur = np.where(idx < len(pt),
                               pt[np.minimum(idx, len(pt) - 1)], inf)
            ml = cur - p1 - (n_terms - 1)
            ok = ml <= slop
            if not ok.any():
                continue
            w = np.zeros(len(p1), dtype=np.float64)
            w[ok] = 1.0 / (1.0 + ml[ok])
            gstart = np.concatenate(
                ([0], np.flatnonzero(srow[1:] != srow[:-1]) + 1))
            sfreq = np.add.reduceat(w, gstart)
            rows = srow[gstart]
            hit = sfreq > 0
            if hit.any():
                hr = rows[hit]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(docid[hr]), pa.array(sfreq[hit]),
                     pa.array(dls[hr].astype(np.int64))], schema=out)

    return sloppy_iter


def lucene_sloppy_freq(pos_lists: list[list[int]], slop: int) -> float:
    """Lucene SloppyPhraseMatcher freq for DISTINCT-term phrases: the exact
    pq algorithm over ADJUSTED positions (truePos - queryOffset), which admits
    REVERSED alignments once slop allows ('b a' matches "a b"~2 with
    matchLength 2). pos_lists[i] = sorted raw positions of terms[i].

    Direct restatement of the published matcher loop (reference:
    lucene/core/.../search/SloppyPhraseMatcher.java nextMatch; surfaced by
    parser/QueryParser.jj `"a b"~n`): pop the minimum pp, minimize
    matchLength = end - pp.position while advancing it up to the next-lowest
    pp, emit a match when it crosses (or exhausts), weight 1/(1+matchLength).
    Tie order is (position, queryOffset), matching PhrasePositions.compareTo.
    """
    import heapq

    its = []
    for off, ps in enumerate(pos_lists):
        adj = [p - off for p in ps]
        if not adj:
            return 0.0
        its.append((adj, off))
    # pq entries: [position, offset, index-into-list]
    pq = [[adj[0], off, 0] for adj, off in its]
    heapq.heapify(pq)
    end = max(e[0] for e in pq)
    freq = 0.0
    positioned = True
    while positioned:
        pp = heapq.heappop(pq)
        match_length = end - pp[0]
        nxt = pq[0][0]
        adj = its[pp[1]][0]  # its[i] holds offset i's positions by construction
        while True:
            pp[2] += 1
            if pp[2] >= len(adj):           # this term's stream is exhausted
                positioned = False
                if match_length <= slop:
                    freq += 1.0 / (1.0 + match_length)
                break
            pp[0] = adj[pp[2]]
            if pp[0] > end:
                end = pp[0]
            if pp[0] > nxt:                 # crossed the next-lowest pp
                if match_length <= slop:
                    heapq.heappush(pq, pp)
                    freq += 1.0 / (1.0 + match_length)
                    break
                heapq.heappush(pq, pp)
                pp = heapq.heappop(pq)
                nxt = pq[0][0]
                match_length = end - pp[0]
                adj = its[pp[1]][0]
            else:                           # still minimizing this match
                match_length = min(match_length, end - pp[0])
    return freq


def _lucene_sloppy_kernel(terms: list[str], slop: int):
    """mapInArrow kernel for lucene_parity sloppy phrases: Arrow-vectorized
    occurrence extraction (split_pattern/index_in over the whole batch), then
    the per-doc sequential matcher (`lucene_sloppy_freq`) — the matcher IS
    sequential in the reference too; it runs only on index-prefiltered
    candidates (docs containing ALL phrase terms), so the Python loop is over
    the phrase's candidate set, not the corpus."""
    import numpy as np

    if len(set(terms)) != len(terms):
        # Repeated-term phrases ("a b a"~2): Lucene's repeating-
        # PhrasePositions machinery (SloppyPhraseMatcher rptGroups /
        # advanceRpts collision resolution) is NOT reproduced here — a wrong
        # "parity" kernel would be worse than a documented deviation. Such
        # queries route to the ordered kernel (each repeated occurrence
        # chains strictly forward), which is exact for slop 0-1 and diverges
        # from Lucene only where reversed alignments involving the repeated
        # term would match at slop >= 2. Pinned by
        # tests/test_bm25.py-adjacent test_phrase repeated-term vectors.
        return _sloppy_phrase_kernel(terms, slop)

    def sloppy_iter(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out = pa.schema([("docid", pa.int64()), ("tf", pa.float64()),
                         ("dl", pa.int64())])
        term_arr = pa.array(terms)
        for b in batches:
            if not b.num_rows:
                continue
            docid = b.column("docid").to_numpy()
            dls = b.column("dl").to_numpy()
            tok_lists = pc.split_pattern(b.column("toks"), " ")
            lens = pc.list_value_length(tok_lists).to_numpy()
            codes = pc.fill_null(
                pc.index_in(pc.list_flatten(tok_lists), value_set=term_arr), -1
            ).to_numpy().astype(np.int64, copy=False)
            row_of = np.repeat(np.arange(len(docid), dtype=np.int64), lens)
            pos = np.arange(len(codes), dtype=np.int64) \
                - np.repeat(np.cumsum(lens) - lens, lens)
            occ = codes >= 0
            oc, orow, opos = codes[occ], row_of[occ], pos[occ]
            ids, tfs, odls = [], [], []
            for r in np.unique(orow):
                m = orow == r
                lists = [opos[m & (oc == t)].tolist()
                         for t in range(len(terms))]
                if any(not ps for ps in lists):
                    continue
                f = lucene_sloppy_freq(lists, slop)
                if f > 0:
                    ids.append(docid[r])
                    tfs.append(f)
                    odls.append(int(dls[r]))
            if ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.asarray(ids, dtype=np.int64)),
                     pa.array(np.asarray(tfs, dtype=np.float64)),
                     pa.array(np.asarray(odls, dtype=np.int64))], schema=out)

    return sloppy_iter


def phrase_topk(
    spark: SparkSession,
    reader: IndexReader,
    phrase_text: str,
    k: int | None = 10,
    prefilter: bool = True,
    slop: int = 0,
    lucene_parity: bool = False,
) -> DataFrame:
    """Top-k documents containing the analyzed phrase (slop=0: exact; slop>0:
    ordered sloppy matches weighted 1/(1+matchLength), see
    _sloppy_phrase_kernel; slop>0 with lucene_parity=True: the exact Lucene
    SloppyPhraseMatcher semantics including reversed alignments at slop>=2,
    see lucene_sloppy_freq; repeated-term phrases route to the ordered
    kernel with a documented deviation, see _lucene_sloppy_kernel).

    Returns DataFrame(conv_id, turn_idx, docid, score, rank) like bm25_topk,
    ranked by bm25.rank_topk into a local relation. k=None returns the FULL
    unranked match set as (docid, score) — for boost clauses that join
    scores onto another query's candidates (no global sort/limit funnel).
    """
    cfg = reader.config
    terms = analyze_text(phrase_text, cfg)
    if not terms:
        return empty_df(spark, RANKED_SCHEMA)

    analyzed = reader.forward(spark).select("docid", "dl", "toks")

    from solr_spark.indexing.deletes import deletes_df

    dels = deletes_df(spark, reader.index_dir)
    if dels is not None:
        analyzed = analyzed.join(dels, "docid", "left_anti")

    if prefilter and len(terms) > 1:
        # inverted-index candidate pruning: docs containing ALL phrase terms
        from solr_spark.query.bm25 import term_docs

        cand = term_docs(spark, reader, terms[0])
        for t in sorted(set(terms[1:])):
            cand = cand.join(term_docs(spark, reader, t), "docid", "left_semi")
        analyzed = analyzed.join(cand, "docid", "left_semi")

    if slop > 0:
        kern = (_lucene_sloppy_kernel(terms, slop) if lucene_parity
                else _sloppy_phrase_kernel(terms, slop))
        matched = analyzed.mapInArrow(kern, "docid long, tf double, dl long") \
            .withColumnRenamed("tf", "pf")
    else:
        matched = (analyzed
                   .withColumn("pf", phrase_count_expr(F.col("toks"), terms))
                   .where(F.col("pf") > 0))

    stats = matched.agg(F.count(F.lit(1)).alias("df_phrase")).collect()[0]
    df_phrase = int(stats["df_phrase"])
    if df_phrase == 0:
        return empty_df(spark, RANKED_SCHEMA)
    w = _idf(reader.n_docs, df_phrase)
    k1, b, avgdl = cfg.k1, cfg.b, reader.avgdl

    scored = matched.withColumn(
        "score",
        F.lit(w) * F.col("pf")
        / (F.col("pf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
    )
    if k is None:
        # unranked full match set (docid, score) — the boost-clause feed; no
        # global sort/limit funnel
        return scored.select("docid", "score")
    return rank_topk(spark, reader, scored, k)


def near_topk(
    spark: SparkSession,
    reader: IndexReader,
    query_text: str,
    window: int,
    k: int = 10,
) -> DataFrame:
    """Unordered proximity query: top-k documents where ALL query terms occur
    within a span of <= `window` analyzed-token positions.

    The surround/complexphrase family analog (reference:
    solr/core/src/java/org/apache/solr/search/SurroundQParserPlugin.java,
    ComplexPhraseQParserPlugin.java — span queries like `3N(a, b)`). Our
    postings store no positions; candidates are pre-filtered through the
    inverted index (docs containing ALL terms — the cheap, selective step) and
    positions come from the analyzed forward index, checked by a fully
    vectorized Arrow/numpy kernel (no per-row Python): the minimal covering
    window equals min over query-term occurrences i of
    (max_t suffix-min-position-of-t at i) - pos_i, computed with one
    suffix-minimum scan per query term over the whole batch's occurrence
    stream. Scoring: BM25 over the pooled tf of the query terms (the span-near
    scoring shape), exact dl; ranked by bm25.rank_topk (ties by docid) into
    a local relation.
    """
    import numpy as np

    from solr_spark.query.bm25 import _idf, term_docs

    cfg = reader.config
    terms = sorted(set(analyze_text(query_text, cfg)))
    if not terms:
        return empty_df(spark, RANKED_SCHEMA)

    analyzed = reader.forward(spark).select("docid", "dl", "toks")
    cand = term_docs(spark, reader, terms[0])
    for t in terms[1:]:
        cand = cand.join(term_docs(spark, reader, t), "docid", "left_semi")
    analyzed = analyzed.join(cand, "docid", "left_semi")

    n_terms = len(terms)

    def near_iter(batches):
        # Batch-at-a-time kernel: tokenize via Arrow C++ (split_pattern /
        # index_in), then pure numpy. Per-doc windows are isolated by offsetting
        # positions with a per-row stride > max_dl + window, so the suffix-min
        # scan needs no per-doc resets and cross-doc "windows" can never pass
        # the <= window test.
        import pyarrow as pa
        import pyarrow.compute as pc

        out = pa.schema([("docid", pa.int64()), ("tf", pa.int64()),
                         ("dl", pa.int64())])
        term_arr = pa.array(terms)
        inf = np.iinfo(np.int64).max // 4
        for b in batches:
            if not b.num_rows:
                continue
            docid = b.column("docid").to_numpy()
            dls = b.column("dl").to_numpy()
            tok_lists = pc.split_pattern(b.column("toks"), " ")
            lens = pc.list_value_length(tok_lists).to_numpy()
            codes = pc.fill_null(
                pc.index_in(pc.list_flatten(tok_lists), value_set=term_arr), -1
            ).to_numpy().astype(np.int64, copy=False)
            row_of = np.repeat(np.arange(len(docid), dtype=np.int64), lens)
            pos = np.arange(len(codes), dtype=np.int64) \
                - np.repeat(np.cumsum(lens) - lens, lens)
            occ = codes >= 0
            oc, orow = codes[occ], row_of[occ]
            if not len(oc):
                continue
            stride = np.int64(int(lens.max()) + window + 2)
            gp = pos[occ] + orow * stride
            # covering end at occurrence i = max over terms of the suffix-min
            # of that term's positions from i onward
            cover = np.zeros(len(oc), dtype=np.int64)
            for t in range(n_terms):
                pt = np.where(oc == t, gp, inf)
                np.maximum(cover, np.minimum.accumulate(pt[::-1])[::-1],
                           out=cover)
            span = cover - gp
            gstart = np.concatenate(
                ([0], np.flatnonzero(orow[1:] != orow[:-1]) + 1))
            best = np.minimum.reduceat(span, gstart)
            counts = np.diff(np.concatenate((gstart, [len(oc)])))
            rows = orow[gstart]
            hit = best <= window
            if hit.any():
                hr = rows[hit]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(docid[hr]),
                     pa.array(counts[hit].astype(np.int64)),
                     pa.array(dls[hr].astype(np.int64))], schema=out)

    matched = analyzed.mapInArrow(near_iter, "docid long, tf long, dl long")
    # distributed: df_near via a count (candidates are index-prefiltered, so
    # the second pass over them is cheap), scoring/top-k stay on the cluster
    df_near = matched.count()
    if df_near == 0:
        return empty_df(spark, RANKED_SCHEMA)
    w = _idf(reader.n_docs, df_near)
    k1, b, avgdl = cfg.k1, cfg.b, reader.avgdl
    scored = matched.withColumn(
        "score", F.lit(w) * F.col("tf")
        / (F.col("tf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))))
    return rank_topk(spark, reader, scored, k)
