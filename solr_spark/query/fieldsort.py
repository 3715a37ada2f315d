"""Field sort on the scored path: ``q=... & sort=<field> desc & fq=...``.

The reference sorts any scored query by an arbitrary SortSpec via a
TopFieldCollectorManager (search/SolrIndexSearcher.java:1911; the spec
grammar is SortSpecParsing.java — ``<field> asc|desc`` clauses, comma
separated, with the internal docid as the final tiebreak). Sorting by a
date/size field WITH a query is among the most common request shapes, and
it changes the collector, not the match set: the q (+ fq) DocSet is
unchanged, only the ordering key moves from score to the field(s).

Spark-first restatement in two pruned scans and one join:

  1. The MATCH set comes from the POSTINGS (the same term_bucket-pruned,
     term-pushed scan the scoring kernels read — never a full text scan):
     union the query terms' docids, count distinct matched clauses per doc
     for mm (bm25.clause_docids), anti-join prohibited (`-term`),
     semi-join required (`+term`).
     Match semantics are the scored parser's (OR / min_match over term
     clauses), NOT the fq parser's conjunctive chain.
  2. fq strings compile to pushed predicates on the forward scan (the same
     compiler the bitmap path uses), which also carries the sort keys —
     so filter + sort keys cost one column-pruned scan.
  3. One equi-join on docid meets them, and sort+limit lowers to
     TakeOrderedAndProject — a per-partition bounded heap plus a k-row
     merge, never a global sort materialization. AQE broadcasts the match
     side when the query is selective.

Scores on a field-sorted page: the reference still computes scores while
collecting when ``fl=score``. Here the page is k rows, so the scored
kernels run once over exactly those docids (scored_topk with the page as
its filter DocSet — posting ranges outside the page's ranges are skipped)
and left-join back; 0.0 for a match with no scoring-clause contribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.query.bm25 import IndexReader, clause_docids, terms_postings
from solr_spark.query.empty import local_df


# The deepest page (offset + k rows) field_sorted_search collects to the
# driver; deeper pages are keyset-paged (the role of Elasticsearch's
# index.max_result_window, also 10,000 from + size)
MAX_DEPTH = 10_000


def parse_sort_spec(sort: str, sortable: "set[str] | None" = None
                    ) -> list[tuple[str, bool]]:
    """``"ts desc, n_chars asc"`` -> [(field, ascending), ...] — the
    SortSpecParsing.java clause grammar. Unknown directions raise (silently
    treating them as asc would return wrongly-ordered pages); `sortable`
    (when given) validates field names early with the fix in the message."""
    out: list[tuple[str, bool]] = []
    for part in sort.split(","):
        words = part.split()
        if not words or len(words) > 2:
            raise ValueError(f"bad sort clause {part!r} in {sort!r}")
        name = words[0]
        direction = words[1].lower() if len(words) == 2 else "asc"
        if direction not in ("asc", "desc"):
            raise ValueError(
                f"unknown sort direction {direction!r} in {sort!r}")
        if sortable is not None and name != "score" and name not in sortable:
            raise ValueError(
                f"sort field {name!r} is not a sortable column of this "
                f"index (available: {sorted(sortable)}); rebuild with "
                f"build_index(..., stored_cols=({name!r},)) to sort on it")
        out.append((name, direction == "asc"))
    return out


def scored_match_docids(spark: SparkSession, reader: IndexReader,
                        query: str, min_match: int | None = None,
                        require_all: bool = False) -> DataFrame:
    """The scored query's MATCH DocSet as DataFrame(docid) — the docs the
    ranked collector would have scored, resolved from the posting lists
    alone (no text scan, no scoring).

    Match semantics mirror scored_topk: term / wildcard / fuzzy clauses
    OR together under min_match (default 1); `+term` MUST, `-term`
    MUST_NOT. Phrase clauses are boost-only on the scored path and do not
    change the match set there; a query of ONLY phrase clauses has no term
    match set and raises (rank it on the scored path instead).

    Each clause is a bm25.clause_docids group (its analyzed terms or its
    dictionary expansion), counted under min_match; the MUST terms'
    postings semi-join it and the MUST_NOT terms' postings anti-join it.
    """
    from solr_spark.query.multiterm import expand_fuzzy, expand_wildcard
    from solr_spark.query.scored import parse_scored_query

    cfg = reader.config
    sq = parse_scored_query(query)
    clause_terms: list[list[str]] = []  # one entry per matching clause
    for body, _boost in sq.terms:
        clause_terms.append(analyze_text(body, cfg))
    for body, dist, _b in sq.fuzzies:
        for w in analyze_text(body, cfg):
            clause_terms.append(expand_fuzzy(spark, reader, w, dist))
    for body, _b in sq.wildcards:
        clause_terms.append(expand_wildcard(spark, reader, body.lower()))
    clause_terms = [c for c in clause_terms if c]
    if not clause_terms:
        raise ValueError(
            f"query {query!r} has no term/wildcard/fuzzy match clause "
            "(phrase clauses are boost-only on the scored path) — use the "
            "ranked collector for phrase-only queries")
    if require_all:
        min_match = len(clause_terms)
    min_match = max(1, min(min_match or 1, len(clause_terms)))

    # a doc matches a clause if ANY member term hits (fuzzy/wildcard
    # expansions, multi-token analyses)
    matched = clause_docids(spark, reader, clause_terms, min_match)
    # MUST / MUST_NOT terms filter it from a posting scan of their own (a
    # clause_docids of them would add its clause-map broadcast job)
    req = sorted({t for b in sq.required for t in analyze_text(b, cfg)})
    if req:
        post = terms_postings(spark, reader, req).select("term", "docid")
        for t in req:
            matched = matched.join(
                post.where(F.col("term") == t).select("docid").distinct(),
                "docid", "left_semi")
    prohib = sorted({t for b in sq.prohibited
                     for t in analyze_text(b, cfg)})
    if prohib:
        bad = terms_postings(spark, reader, prohib).select("docid").distinct()
        matched = matched.join(bad, "docid", "left_anti")
    return matched


def field_sorted_search(spark: SparkSession, reader: IndexReader,
                        query: str, sort: str, k: int = 10, offset: int = 0,
                        filters=None, now: str | None = None,
                        fields: "list[str] | None" = None,
                        with_score: bool = False,
                        min_match: int | None = None,
                        require_all: bool = False) -> DataFrame:
    """Top-k of the q (+ fq) match set ordered by a field SortSpec.

    Returns DataFrame(conv_id, turn_idx, docid, <sort fields>, [score,]
    rank) in sort order — rank is the ABSOLUTE 1-based sort position
    (ranks offset+1 .. offset+k are returned), the start/rows contract.
    `filters` are classic-parser fq strings over the analyzed text + stored
    columns (the same compiler the bitmap path uses). `sort` must be field
    clauses; ordering by score IS the ranked path (bm25_topk /
    scored_topk), not this one. offset + k above MAX_DEPTH raises; deeper
    pages go through operators.windows.cursor_page.
    """
    from solr_spark.query.parser import LuceneQueryParser

    need = offset + k
    if need > MAX_DEPTH:
        raise ValueError(
            f"offset + k = {need} exceeds fieldsort.MAX_DEPTH ({MAX_DEPTH}): "
            "the page is collected to the driver; page deeper with a sort-key "
            "cursor, solr_spark.operators.windows.cursor_page")
    if isinstance(filters, str):
        filters = [filters]
    fwd = reader.forward_text(spark)
    spec = parse_sort_spec(sort, sortable=set(fwd.columns) | {"docid"})
    if any(name == "score" for name, _ in spec):
        raise ValueError(
            "field_sorted_search orders by stored fields; ordering by "
            "score is the ranked path (bm25_topk / scored_topk) — use it "
            "directly, or re-sort its page here by passing its docids")
    matched = scored_match_docids(spark, reader, query,
                                  min_match=min_match,
                                  require_all=require_all)
    parser = LuceneQueryParser("text", {"text"}, now=now)
    for f in filters or []:
        fwd = fwd.where(parser.parse(f))
    # tombstoned docs never surface: terms_postings already anti-joined the
    # liveDocs tombstones out of the match set, and the result is the
    # match-set join — no second delete pass needed
    out = fwd.join(matched, "docid")

    sort_cols = [F.col(n).asc() if asc else F.col(n).desc()
                 for n, asc in spec] + [F.col("docid").asc()]
    sort_fields = [n for n, _ in spec if n not in
                   ("conv_id", "turn_idx", "docid")]
    keep = ["conv_id", "turn_idx", "docid"] + sort_fields
    for fld in fields or []:
        if fld in ("score", "rank") or fld in keep:
            continue
        if fld not in fwd.columns:
            raise ValueError(
                f"field {fld!r} is not a stored column of this index "
                f"(available: {sorted(fwd.columns)})")
        keep.append(fld)
    # TakeOrderedAndProject: per-partition bounded heap + k-row driver merge
    page = out.select(*keep).orderBy(*sort_cols).limit(need)

    if with_score:
        from solr_spark.query.scored import scored_topk

        # Materialize the page ONCE first (bounded: <= offset+k rows, the
        # same bound TakeOrdered's driver merge already holds). The score
        # pass's filter DocSet, the score join, and the rank window each
        # reference the page; Spark reuses exchanges, not arbitrary
        # subtrees, so without this the match+TakeOrdered job runs three
        # times.
        page = local_df(spark, page.toArrow(), page.schema)
        # score EXACTLY the page: its docids are the filter DocSet, so the
        # kernels decode only the page's posting ranges
        scores = scored_topk(
            spark, reader, query, k=need,
            filter_docids=page.select("docid"), now=now
        ).select("docid", "score")
        page = page.join(scores, "docid", "left") \
                   .withColumn("score", F.coalesce(F.col("score"),
                                                   F.lit(0.0)))

    from pyspark.sql import Window

    # absolute rank, the start/rows contract (rank > offset survives paging
    # with its position intact — same rule as the ranked path's deep paging)
    w = Window.orderBy(*sort_cols)  # bounded: the page is <= offset+k rows
    page = (page.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") > offset)
                .orderBy("rank"))
    cols = keep + (["score"] if with_score else []) + ["rank"]
    return page.select(*cols)


__all__ = ["field_sorted_search", "parse_sort_spec", "scored_match_docids"]
