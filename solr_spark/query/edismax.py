"""edismax: multi-field scored disjunction with qf weights, tie-breaking,
min-should-match, and pf phrase boosting.

Reference semantics (solr/core/src/java/org/apache/solr/search/
ExtendedDismaxQParser.java:66, ~1800 LoC; tests
core/src/test/org/apache/solr/search/TestExtendedDismaxParser.java):

  * Each query term becomes a DisjunctionMaxQuery over the qf fields:
        score_t(d) = max_f(qf_f * bm25_{t,f}(d)) + tie * sum_{other f}(...)
    (Lucene DisjunctionMaxQuery tiebreaker semantics.)
  * The term clauses combine as a BooleanQuery with minShouldMatch = mm:
    a document qualifies when >= mm DISTINCT query terms match in ANY field.
  * pf adds optional phrase clauses on the given fields: a document already
    matching the main query gains pf_f * phrase-BM25 where the phrase query
    scores with tf = exact phrase frequency and idf = SUM of the member term
    idfs (Lucene PhraseQuery's similarity contract).

Spark shape (scale-first): per-field posting decode is partition-pruned to the
query's terms (solr_spark.query.bm25.terms_postings); everything downstream —
per-field BM25 contribution, the dismax max/sum combine, the mm filter, the
phrase-boost join — is plain Catalyst (groupBy/agg/join) with map-side partial
aggregation, no Python in the scoring path; the top k is bm25.rank_topk's one
TakeOrdered job, keyed and ranked on the driver into a local relation.
Fields live in separate index directories, mirroring Lucene's (field, term)
posting keying.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.query.bm25 import (RANKED_SCHEMA, IndexReader, _idf,
                                   rank_topk, terms_postings)
from solr_spark.query.empty import empty_df, local_df


def calculate_min_should_match(n_optional: int, spec: str) -> int:
    """Solr's `mm` spec grammar -> a concrete minShouldMatch count.

    Reference: util/SolrPluginUtils.java::calculateMinShouldMatch — the
    exact semantics, including its quirks:

      * plain integer: that count; NEGATIVE n means "all minus n".
      * "p%": floor(n * p / 100); negative percent subtracts from n.
      * conditional list "a<specA b<specB ..." (space-separated, ascending):
        pick the LAST condition whose bound is below the clause count; a
        count at-or-under the first bound requires ALL clauses. Evaluation
        short-circuits at the first bound >= count (Solr's loop returns the
        running result), so out-of-order bounds behave exactly as the
        reference's, not as a sorted table.
      * result clamps into [0, n_optional].

    Spaces around '<' are tolerated (the reference normalizes them).
    """
    import re

    result = n_optional
    spec = spec.strip()
    if "<" in spec:
        spec = re.sub(r"\s*<\s*", "<", spec)
        for s in re.split(r"\s+", spec):
            parts = s.split("<")
            if len(parts) < 2 or not parts[0]:
                raise ValueError(
                    f"invalid mm spec {s!r}: expecting values before and "
                    f"after '<'")
            upper_bound = _checked_int(parts[0])
            if n_optional <= upper_bound:
                return result
            result = calculate_min_should_match(n_optional, parts[1])
        return result
    if "%" in spec:
        percent = _checked_int(spec[:spec.index("%")])
        calc = result * percent / 100.0
        result = result + int(calc) if calc < 0 else int(calc)
    else:
        calc = _checked_int(spec)
        result = result + calc if calc < 0 else calc
    return n_optional if n_optional < result else (0 if result < 0 else result)


def _checked_int(s: str) -> int:
    try:
        return int(s)
    except ValueError:
        raise ValueError(f"invalid mm spec: expecting an integer, got {s!r}")


def resolve_mm(min_match: int | str, n_clauses: int) -> int:
    """min_match as the kernels take it: spec strings go through the Solr
    grammar, ints pass through; both clamp to [1, n_clauses] (Lucene scores
    a pure-SHOULD query only when >= 1 clause matches, so mm=0 == mm=1)."""
    if isinstance(min_match, str):
        min_match = calculate_min_should_match(n_clauses, min_match)
    return max(1, min(min_match, n_clauses))


def doc_lengths(spark: SparkSession, reader: IndexReader) -> DataFrame:
    """(docid, dl) from the norms artifact — quantized when the index was built
    with lucene_norms (scoring parity), exact uint32 otherwise. 1–4 bytes per
    doc; the decode kernel is vectorized numpy over whole range blobs."""
    import numpy as np
    import pandas as pd

    from solr_spark.codec.smallfloat import decode_norms

    lucene = reader.config.lucene_norms

    def decode(batches):
        for pdf in batches:
            ds, ls = [], []
            for row in pdf.itertuples(index=False):
                dls = decode_norms(bytes(row.norm_bytes), lucene)
                ds.append(np.arange(len(dls), dtype=np.int64) + int(row.base_docid))
                ls.append(dls)
            if ds:
                yield pd.DataFrame({"docid": np.concatenate(ds),
                                    "dl": np.concatenate(ls)})

    return reader.norms(spark).select("base_docid", "norm_bytes") \
        .mapInPandas(decode, "docid long, dl double")


def _field_contributions(
    spark: SparkSession, reader: IndexReader, field_weight: float,
    clause_terms: list[list[str]],
) -> tuple[DataFrame | None, dict[str, float]]:
    """Per-(docid, clause) weighted BM25 contributions for one field.

    `clause_terms[i]` is the i-th query word analyzed with THIS field's own
    analyzer config (the reference analyzes the query per field —
    ExtendedDismaxQParser builds one DisjunctionMaxQuery per query word, each
    arm produced by that field's analysis chain). A word that analyzes to
    multiple terms in this field scores as their boolean-OR sum; a repeated
    term within one clause weights by its count.

    Returns (DataFrame(docid, clause, contrib) or None if no term occurs in
    the field, idf-by-term map for the phrase boost)."""
    cfg = reader.config
    canon = sorted({t for ts in clause_terms for t in ts})
    if not canon:
        return None, {}
    idfs = {t: _idf(reader.n_docs, df)
            for t, (df, _cf) in reader.term_stats(canon).items()}
    if not idfs:
        return None, {}
    # (term, clause, weight) mapping — tiny (|query words| rows), broadcast.
    mapping = [(t, ci, float(field_weight * cnt * idfs[t]))
               for ci, ts in enumerate(clause_terms)
               for t, cnt in sorted(Counter(ts).items()) if t in idfs]
    map_df = local_df(spark, pa.table(list(zip(*mapping)),
                                      names=["term", "clause", "w"]),
                      "term string, clause int, w double")
    k1, b, avgdl = cfg.k1, cfg.b, reader.avgdl
    post = terms_postings(spark, reader, [t for t in canon if t in idfs])
    contrib = (
        post.join(doc_lengths(spark, reader), "docid")
        .join(F.broadcast(map_df), "term")
        .select(
            "docid", "clause",
            (F.col("w") * F.col("tf")
             / (F.col("tf")
                + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
             ).alias("contrib"),
        )
    )
    # A clause with >1 distinct matching term in this field (multi-term
    # analysis) scores as the boolean-OR sum: pre-sum per (docid, clause) so
    # the cross-field dismax sees ONE arm per field. Skipped in the common
    # 1-term-per-clause case — no extra shuffle there.
    clause_counts = Counter(ci for _, ci, _ in mapping)
    if any(v > 1 for v in clause_counts.values()):
        contrib = contrib.groupBy("docid", "clause").agg(
            F.sum("contrib").alias("contrib"))
    return contrib, idfs


def _phrase_boosts(
    spark: SparkSession, readers: dict[str, IndexReader],
    pf: dict[str, float], query_text: str,
    field_idfs: dict[str, dict[str, float]],
    ngram: int | None = None,
    slop: int = 0,
) -> DataFrame | None:
    """Optional pf/pf2/pf3 clauses: per-doc phrase-BM25 boost summed over
    the pf fields. ngram=None boosts the WHOLE query as one phrase (pf);
    ngram=2/3 boosts every adjacent word bigram/trigram of the query
    (ExtendedDismaxQParser pf2/pf3 — getQueryFields addShingledPhraseQueries),
    each shingle scored like a pf phrase and summed.

    slop > 0 is the edismax `ps` family (ps/ps2/ps3 — phrase slop on the
    boost phrases, ExtendedDismaxQParser.addShingledPhraseQueries wiring the
    slop into each PhraseQuery): phrase frequency comes from the ordered
    sloppy matcher (1/(1+matchLength) chains, query/phrase.py) instead of
    the exact-adjacency count, same BM25 combination above it. Both paths
    score with the norms dl (doc_lengths), as the term clauses do."""
    from solr_spark.query.phrase import phrase_count_expr, phrase_matches

    words = [w for w in query_text.split() if w]
    if ngram is None:
        sub_queries = [query_text]
    else:
        sub_queries = [" ".join(words[i:i + ngram])
                       for i in range(len(words) - ngram + 1)]

    parts = []
    for fld, weight in sorted(pf.items()):
      for sub in sub_queries:
        reader = readers[fld]
        cfg = reader.config
        terms = analyze_text(sub, cfg)
        if len(terms) < 2:
            continue
        # Lucene PhraseQuery similarity: idf = sum of member-term idfs
        idfs = field_idfs.get(fld, {})
        if not all(t in idfs for t in terms):
            continue  # a phrase containing an unindexed term matches nothing
        idf_sum = sum(idfs[t] for t in terms)
        k1, b, avgdl = cfg.k1, cfg.b, reader.avgdl
        if slop > 0:
            # the positional pipeline's candidates and ordered matcher
            matched = (phrase_matches(spark, reader, terms, slop)
                       .select("docid", F.col("tf").alias("pfreq")))
        else:
            matched = (
                reader.forward(spark).select("docid", "toks")
                .withColumn("pfreq", phrase_count_expr(F.col("toks"), terms))
                .where(F.col("pfreq") > 0))
        # the norms dl, as the term clauses take
        matched = matched.join(doc_lengths(spark, reader), "docid")
        scored = matched.select(
            "docid",
            (F.lit(weight * idf_sum) * F.col("pfreq")
             / (F.col("pfreq")
                + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
             ).alias("boost"),
        )
        parts.append(scored)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("docid").agg(F.sum("boost").alias("boost"))


def edismax_topk(
    spark: SparkSession,
    readers: dict[str, IndexReader],
    query_text: str,
    qf: dict[str, float],
    k: int = 10,
    tie: float = 0.0,
    min_match: int | str = 1,
    pf: dict[str, float] | None = None,
    pf2: dict[str, float] | None = None,
    pf3: dict[str, float] | None = None,
    ps: int = 0,
    ps2: int | None = None,
    ps3: int | None = None,
    bf: DataFrame | None = None,
    boost: DataFrame | None = None,
    filters: list[str] | str | None = None,
    filter_docids: DataFrame | None = None,
    now: str | None = None,
) -> DataFrame:
    """Top-k edismax. Returns DataFrame(conv_id, turn_idx, docid, score, rank),
    ranked by bm25.rank_topk into a local relation.

    readers: field name -> IndexReader (one index per field — the Spark
    restatement of Lucene's per-(field, term) posting keying). qf: per-field
    query weights; tie: DisjunctionMaxQuery tiebreaker in [0, 1]; min_match:
    minimum number of distinct query terms that must match in any field;
    pf: optional per-field phrase-boost weights; pf2/pf3 boost every
    adjacent word bigram/trigram instead of the whole query (the
    reference's shingled phrase clauses), all summed into one boost join.

    bf / boost are the edismax function-query boosts (ExtendedDismaxQParser
    `bf` additive clauses / `boost` multiplicative wrapper): each is a
    (docid, value) DataFrame — the relational restatement of a Lucene
    ValueSource, computed by the caller from any doc-values table with plain
    Column expressions. Missing docids contribute bf=0 / boost=1. Applied as
        final = (main + bf) * boost
    i.e. bf joins the BooleanQuery as an optional clause, then the boost
    product wraps the whole query, matching the reference's nesting. Applied
    to the FULL match set before the top-k cut (boost functions can promote
    a doc from outside the unboosted top-k), as left joins keyed on docid —
    the match set is bounded by query selectivity, and the function tables
    prune to their two columns at the scan.

    filters / filter_docids: the same q+fq flow bm25_topk carries
    (SolrIndexSearcher.getProcessedFilter; edismax requests take fq exactly
    like the classic handler). `filters` compile against the PRIMARY
    reader's forward table (query/docsets.py::filter_docids — pushed scan
    predicates); `filter_docids` is a precomputed DataFrame(docid)
    (filterCache role). The docid set semi-joins the combined match set
    BEFORE mm/boosts/top-k, so a selective fq still returns k hits and
    boost promotion happens within the filtered domain; scoring stats stay
    global, as the reference's filter never changes IDF. `now` anchors
    date-math fq endpoints.
    """
    primary = readers[next(iter(sorted(qf)))]
    # One clause per whitespace-separated query word, each analyzed with the
    # OWN analyzer config of every qf field (the reference analyzes per field:
    # ExtendedDismaxQParser builds one DisjunctionMaxQuery per word whose arms
    # come from each field's analysis chain). A word that analyzes to nothing
    # in EVERY field (stopword) drops out of the clause list, so mm counts
    # only surviving clauses — Lucene's BooleanQuery behavior.
    words = [w for w in query_text.split() if w]
    raw_clauses = {fld: [analyze_text(w, readers[fld].config) for w in words]
                   for fld in sorted(qf)}
    keep = [i for i in range(len(words))
            if any(raw_clauses[f][i] for f in raw_clauses)]
    if not keep:
        return empty_df(spark, RANKED_SCHEMA)
    clause_by_field = {f: [cl[i] for i in keep] for f, cl in raw_clauses.items()}
    # mm accepts the full Solr spec grammar ("75%", "2<-25%", negatives) —
    # util/SolrPluginUtils.java::calculateMinShouldMatch over SURVIVING clauses
    min_match = resolve_mm(min_match, len(keep))

    contribs = []
    field_idfs: dict[str, dict[str, float]] = {}
    for fld in sorted(qf):
        c, idfs = _field_contributions(spark, readers[fld], qf[fld],
                                       clause_by_field[fld])
        field_idfs[fld] = idfs
        if c is not None:
            contribs.append(c)
    if not contribs:
        return empty_df(spark, RANKED_SCHEMA)
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)

    if isinstance(filters, (list, tuple)) and not filters:
        filters = None
    if filters is not None and filter_docids is not None:
        raise ValueError("pass filters OR filter_docids, not both")
    if filters is not None:
        from solr_spark.query.docsets import filter_docids as _compile_fq

        filter_docids = _compile_fq(spark, primary, filters, now=now)
    if filter_docids is not None:
        allc = allc.join(filter_docids.select("docid").dropDuplicates(),
                         "docid", "left_semi")

    # dismax per (doc, clause): max + tie * (sum - max); then BooleanQuery
    # combine: sum over clauses, mm over the matched-clause count
    per_clause = allc.groupBy("docid", "clause").agg(
        (F.max("contrib")
         + F.lit(tie) * (F.sum("contrib") - F.max("contrib"))).alias("cscore"))
    main = (per_clause.groupBy("docid")
            .agg(F.sum("cscore").alias("score"),
                 F.count(F.lit(1)).alias("nclauses"))
            .where(F.col("nclauses") >= min_match))

    all_boosts = []
    # ps2/ps3 default to ps when unset — ExtendedDismaxQParser's param
    # fallback (U.getParam ps2/ps3 -> ps)
    for spec, ng, sl in ((pf, None, ps),
                         (pf2, 2, ps if ps2 is None else ps2),
                         (pf3, 3, ps if ps3 is None else ps3)):
        if spec:
            b_ = _phrase_boosts(spark, readers, spec, query_text, field_idfs,
                                ngram=ng, slop=sl)
            if b_ is not None:
                all_boosts.append(b_)
    if all_boosts:
        boosts = all_boosts[0]
        for b_ in all_boosts[1:]:
            boosts = boosts.unionByName(b_)
        boosts = boosts.groupBy("docid").agg(F.sum("boost").alias("boost"))
        main = (main.join(boosts, "docid", "left")
                .withColumn("score",
                            F.col("score")
                            + F.coalesce(F.col("boost"), F.lit(0.0)))
                .drop("boost"))

    if bf is not None:
        main = (main.join(bf.select("docid", F.col("bf").alias("_bf_add")),
                          "docid", "left")
                .withColumn("score",
                            F.col("score")
                            + F.coalesce(F.col("_bf_add"), F.lit(0.0)))
                .drop("_bf_add"))
    if boost is not None:
        main = (main.join(
                    boost.select("docid", F.col("boost").alias("_boost_mul")),
                    "docid", "left")
                .withColumn("score",
                            F.col("score")
                            * F.coalesce(F.col("_boost_mul"), F.lit(1.0)))
                .drop("_boost_mul"))

    return rank_topk(spark, primary, main, k)
