"""Positional queries over the analyzed forward index: exact and sloppy
phrases, near, and the one pipeline every positional query runs through
(the span family, query/spans.py, included).

Reference semantics: Lucene PhraseQuery via the classic parser's quoted
syntax (solr/core/src/java/org/apache/solr/parser/QueryParser.jj — `"a b"`,
`"a b"~n`), scored like a term whose tf is the PHRASE frequency and whose df
is the count of documents containing the phrase; the surround/complexphrase
parsers lower to span queries that Lucene runs through the same
positions-over-candidates matcher (SpanWeight).

Index shape trade-off (deliberate): the reference stores per-term positions
in the postings and intersects position lists. Our posting rows omit
positions — instead the analyzed forward index (`toks`: space-joined analyzed
tokens) gives every candidate doc's positions. A positional query is one
pipeline in three parts:

  1. Candidate DocSet — `bm25.clause_docids`: one term_bucket-pruned posting
     scan over all of the query's terms keeps the live docs that hold a term
     of every clause group (each phrase word; a span query's CNF groups,
     spans._required_groups). Only those docs' forward rows
     (docid, dl, toks) reach the matcher. A query of one group skips it:
     its matcher's own occurrence test is the group test.
  2. Occurrence extractor — `occurrence_matches`: one mapInArrow driver
     splits each batch's token strings once in Arrow (split_pattern /
     index_in) into flat (code, row, pos) occurrence arrays and hands them
     to the query's matcher: ordered sloppy chains, Lucene's
     SloppyPhraseMatcher, the minimal covering window, or span_eval. The
     exact phrase (slop 0) needs no matcher: a JVM slice comparison counts
     it (`phrase_count_expr`), so no Python runs.
  3. Scoring tail — `score_matches`: query-time df = the number of matching
     docs (the reference has no per-phrase statistics either), BM25 with
     tf = the matcher's frequency and exact (un-quantized) dl, ranked by
     bm25.rank_topk. The match set is persisted for its count and its
     ranking, so the forward scan and the matcher run once per query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.query.bm25 import (RANKED_SCHEMA, IndexReader, _idf,
                                   clause_docids, rank_topk)
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


# ------------------------------------------------------------------ pipeline

def candidate_rows(spark: SparkSession, reader: IndexReader,
                   groups: list[list[str]]) -> DataFrame:
    """The forward rows (docid, dl, toks) of the live docs holding a term of
    every group — the candidates a positional matcher verifies.

    Only an intersection earns its posting scan and broadcast: the forward
    scan is not pruned by docid either way, and with one group the
    matcher's own occurrence test is the group test, so one group reads the
    live forward rows."""
    fwd = reader.forward(spark).select("docid", "dl", "toks")
    if len(groups) > 1:
        return fwd.join(clause_docids(spark, reader, groups), "docid",
                        "left_semi")
    from solr_spark.indexing.deletes import deletes_df

    dels = deletes_df(spark, reader.index_dir)
    return fwd if dels is None else fwd.join(dels, "docid", "left_anti")


def occurrence_matches(cand: DataFrame, terms: list[str],
                       match) -> DataFrame:
    """The one occurrence extractor of the positional kernels: candidate
    rows (docid, dl, toks) -> DataFrame(docid, tf, dl) of the docs `match`
    accepts.

    Each Arrow batch is split once (split_pattern / index_in over the whole
    batch) into the occurrences of `terms`: flat arrays of code (index into
    `terms`), row and pos, ordered by (row, pos). `match(code, row, pos,
    width)` — width the batch's longest row in tokens — returns the matching
    rows (ascending) and their tf."""
    def occurrences_iter(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out = pa.schema([("docid", pa.int64()), ("tf", pa.float64()),
                         ("dl", pa.int64())])
        term_arr = pa.array(terms)
        for b in batches:
            if not b.num_rows:
                continue
            tok_lists = pc.split_pattern(b.column("toks"), " ")
            lens = pc.list_value_length(tok_lists).to_numpy()
            code = pc.fill_null(
                pc.index_in(pc.list_flatten(tok_lists), value_set=term_arr), -1
            ).to_numpy().astype(np.int64, copy=False)
            row = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            pos = np.arange(len(code), dtype=np.int64) \
                - np.repeat(np.cumsum(lens) - lens, lens)
            occ = code >= 0
            if not occ.any():
                continue
            rows, tf = match(code[occ], row[occ], pos[occ], int(lens.max()))
            if len(rows):
                rows = np.asarray(rows, dtype=np.int64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(b.column("docid").to_numpy()[rows]),
                     pa.array(np.asarray(tf, dtype=np.float64)),
                     pa.array(b.column("dl").to_numpy()[rows]
                              .astype(np.int64))], schema=out)

    return cand.mapInArrow(occurrences_iter, "docid long, tf double, dl long")


def per_doc(freq):
    """A matcher from a per-document frequency `freq(code, pos)` over one
    doc's occurrences (0 = no match) — for the matchers that are sequential
    per document in the reference too (Lucene's sloppy matcher, span_eval).
    """
    def match(code, row, pos, width):
        starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
        ends = np.r_[starts[1:], len(row)]
        rows, tfs = [], []
        for lo, hi in zip(starts, ends):
            f = freq(code[lo:hi], pos[lo:hi])
            if f:
                rows.append(row[lo])
                tfs.append(f)
        return rows, tfs

    return match


def match_scores(reader: IndexReader, matched: DataFrame,
                 df: int) -> DataFrame:
    """BM25 of matches (docid, tf, dl) as a lazy (docid, score) DataFrame:
    query-time df = `df`, the number of matching docs, tf as given and
    exact dl."""
    cfg, tf = reader.config, F.col("tf")
    norm = 1.0 - cfg.b + cfg.b * F.col("dl") / F.lit(reader.avgdl)
    return matched.select("docid", (
        F.lit(_idf(reader.n_docs, df)) * tf
        / (tf + F.lit(cfg.k1) * norm)).alias("score"))


def score_matches(spark: SparkSession, reader: IndexReader,
                  matched: DataFrame, k: int) -> DataFrame:
    """The scoring tail of every positional query: matches (docid, tf, dl)
    -> match_scores, ranked by bm25.rank_topk into a local relation.

    The match set is persisted for its count and its ranking and released
    once the eager rank_topk returns, so the forward scan and the matcher
    run once."""
    matched = matched.persist()
    try:
        df = matched.count()
        if df == 0:
            return empty_df(spark, RANKED_SCHEMA)
        return rank_topk(spark, reader, match_scores(reader, matched, df), k)
    finally:
        matched.unpersist()


# ------------------------------------------------------------------ matchers

def _ordered_chains(tcode: list[int], slop: int):
    """Ordered sloppy-phrase frequency (tcode: each phrase position's code).

    For each occurrence p1 of the first term, the greedy chain takes the
    first occurrence of each subsequent term strictly after the previous
    one; matchLength = p_n - p_1 - (n-1); a chain with matchLength <= slop
    contributes 1/(1 + matchLength) to the doc's sloppy frequency — Lucene's
    SloppyPhraseMatcher weight formula. Documented deviation: Lucene also
    admits REVERSED alignments once slop >= 2 ('b a' for "a b"); this
    matcher is ordered-only (the surround/W-operator reading), asserted by
    the pytest conformance vectors; `lucene_parity` selects the reference
    matcher.

    All numpy: chains advance with one searchsorted per phrase position,
    per-doc sums via reduceat. Positions are offset per row by a stride
    longer than any row plus the slop, so cross-doc chains fail the slop."""
    n_terms = len(tcode)

    def match(code, row, pos, width):
        inf = np.iinfo(np.int64).max // 4
        gp = pos + row * np.int64(width + slop + n_terms + 2)
        first = code == tcode[0]
        p1, srow = gp[first], row[first]
        if not len(p1):
            return (), ()
        cur = p1
        for t in tcode[1:]:
            pt = gp[code == t]
            if not len(pt):
                return (), ()
            idx = np.searchsorted(pt, cur, side="right")
            cur = np.where(idx < len(pt),
                           pt[np.minimum(idx, len(pt) - 1)], inf)
        ml = cur - p1 - (n_terms - 1)
        ok = ml <= slop
        if not ok.any():
            return (), ()
        w = np.zeros(len(p1), dtype=np.float64)
        w[ok] = 1.0 / (1.0 + ml[ok])
        gstart = np.flatnonzero(np.r_[True, srow[1:] != srow[:-1]])
        sfreq = np.add.reduceat(w, gstart)
        hit = sfreq > 0
        return srow[gstart][hit], sfreq[hit]

    return match


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


def _covering_window(n_terms: int, window: int):
    """Near: the docs where every term occurs within a span of <= `window`
    positions, tf = the doc's pooled occurrence count of the query terms.

    The minimal covering window equals min over occurrences i of
    (max over terms of the suffix-min position of that term from i) - pos_i,
    one suffix-minimum scan per query term over the whole batch. Per-doc
    windows are isolated by a per-row stride > the longest row + window, so
    the scan needs no per-doc resets."""
    def match(code, row, pos, width):
        inf = np.iinfo(np.int64).max // 4
        gp = pos + row * np.int64(width + window + 2)
        cover = np.zeros(len(code), dtype=np.int64)
        for t in range(n_terms):
            pt = np.where(code == t, gp, inf)
            np.maximum(cover, np.minimum.accumulate(pt[::-1])[::-1],
                       out=cover)
        gstart = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
        best = np.minimum.reduceat(cover - gp, gstart)
        counts = np.diff(np.r_[gstart, len(code)])
        hit = best <= window
        return row[gstart][hit], counts[hit]

    return match


# ---------------------------------------------------------------- front-ends

def phrase_matches(spark: SparkSession, reader: IndexReader,
                   terms: list[str], slop: int = 0,
                   lucene_parity: bool = False) -> DataFrame:
    """(docid, tf, dl) of the live docs matching the analyzed phrase
    `terms`: tf the exact phrase frequency (slop 0), the ordered sloppy
    frequency, or with lucene_parity Lucene's SloppyPhraseMatcher frequency
    (reversed alignments included at slop >= 2; see lucene_sloppy_freq)."""
    cand = candidate_rows(spark, reader, [[t] for t in sorted(set(terms))])
    if slop <= 0:
        return cand.select("docid", phrase_count_expr(
            F.col("toks"), terms).alias("tf"), "dl").where(F.col("tf") > 0)
    uniq = list(dict.fromkeys(terms))  # repeated terms share one code
    if lucene_parity and len(uniq) == len(terms):
        def freq(code, pos):
            lists = [pos[code == t].tolist() for t in range(len(terms))]
            return lucene_sloppy_freq(lists, slop) if all(lists) else 0.0
        match = per_doc(freq)
    else:
        # Repeated-term phrases ("a b a"~2) take the ordered matcher under
        # lucene_parity too: Lucene's repeating-PhrasePositions machinery
        # (SloppyPhraseMatcher rptGroups / advanceRpts collision resolution)
        # is NOT reproduced — a wrong "parity" matcher would be worse than a
        # documented deviation. Each repeated occurrence chains strictly
        # forward, which is exact for slop 0-1 and diverges from Lucene only
        # where reversed alignments involving the repeated term would match
        # at slop >= 2 (pinned by the test_components repeated-term vectors).
        match = _ordered_chains([uniq.index(t) for t in terms], slop)
    return occurrence_matches(cand, uniq, match)


def near_matches(spark: SparkSession, reader: IndexReader,
                 terms: list[str], window: int) -> DataFrame:
    """(docid, tf, dl) of the live docs where every one of the distinct
    analyzed `terms` occurs within `window` positions (_covering_window)."""
    cand = candidate_rows(spark, reader, [[t] for t in terms])
    return occurrence_matches(cand, terms,
                              _covering_window(len(terms), window))


def phrase_topk(
    spark: SparkSession,
    reader: IndexReader,
    phrase_text: str,
    k: int = 10,
    slop: int = 0,
    lucene_parity: bool = False,
) -> DataFrame:
    """Top-k documents containing the analyzed phrase (slop=0: exact; slop>0:
    ordered sloppy matches weighted 1/(1+matchLength), see _ordered_chains;
    slop>0 with lucene_parity=True: the exact Lucene SloppyPhraseMatcher
    semantics including reversed alignments at slop>=2, see
    lucene_sloppy_freq; repeated-term phrases take the ordered matcher with
    a documented deviation, see phrase_matches).

    Returns DataFrame(conv_id, turn_idx, docid, score, rank) like bm25_topk,
    ranked by bm25.rank_topk into a local relation.
    """
    terms = analyze_text(phrase_text, reader.config)
    if not terms:
        return empty_df(spark, RANKED_SCHEMA)
    return score_matches(spark, reader, phrase_matches(
        spark, reader, terms, slop, lucene_parity), k)


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
    ComplexPhraseQParserPlugin.java — span queries like `3N(a, b)`), run
    through the positional pipeline with the covering-window matcher
    (near_matches). Scoring: BM25 over the pooled tf of the query terms
    (the span-near scoring shape), exact dl; ranked by bm25.rank_topk (ties
    by docid) into a local relation.
    """
    terms = sorted(set(analyze_text(query_text, reader.config)))
    if not terms:
        return empty_df(spark, RANKED_SCHEMA)
    return score_matches(spark, reader,
                         near_matches(spark, reader, terms, window), k)
