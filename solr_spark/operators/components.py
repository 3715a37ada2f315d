"""Search-component analogs: highlighting, terms/suggest, rerank, hash partition.

Reference components re-expressed as DataFrame programs:
  * HighlightComponent (solr/core/src/java/org/apache/solr/handler/component/
    HighlightComponent.java, UnifiedSolrHighlighter) — snippet extraction around
    matched terms.
  * TermsComponent (handler/component/TermsComponent.java) — term dictionary
    enumeration by prefix/regex with document frequencies (the autocomplete path).
  * ReRankQParserPlugin (search/ReRankQParserPlugin.java:46, AbstractReRankQuery) —
    re-score the top-N of a first-pass ranking with a second expression.
  * HashQParserPlugin (search/HashQParserPlugin.java:43-68) — `{!hash workers=N
    worker=i}` murmur3 partition predicate used by parallel(); Spark's F.hash IS
    32-bit murmur3, so the contract carries over directly.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def highlight(df: DataFrame, text_col: str, terms: Sequence[str],
              window_chars: int = 30, tag: str = "em") -> Column:
    """Snippet column: first match of any query term with +-window_chars context,
    the matched term wrapped in <tag>..</tag>. Pure JVM regexp (codegen'd) — the
    response-writer analog of the unified highlighter's best-fragment mode.
    Returns NULL when no term matches."""
    alts = "|".join(re.escape(t) for t in sorted(terms, key=len, reverse=True))
    pat = rf"(?i).{{0,{window_chars}}}\b({alts})\b.{{0,{window_chars}}}"
    frag = F.regexp_extract(F.col(text_col), pat, 0)
    tagged = F.regexp_replace(frag, rf"(?i)\b({alts})\b", f"<{tag}>$1</{tag}>")
    return F.when(frag != "", tagged).otherwise(F.lit(None))


def best_passage(toks_col: Column | str, term_idfs: dict[str, float],
                 window: int = 8, tag: str = "em") -> tuple[Column, Column]:
    """UnifiedHighlighter passage scoring: the best fixed-width token window.

    Reference semantics (Lucene UnifiedHighlighter / PassageScorer): candidate
    passages are scored by the summed idf of the DISTINCT query terms they
    contain; the best-scoring passage wins, earliest start on ties. Here a
    passage is a `window`-token slide over the analyzed token string; returns
    (passage_col, score_col) where passage_col has matched terms wrapped in
    <tag>..</tag> and is NULL when no term matches.

    Pure Column algebra — sequence/transform/slice/array_contains all stay in
    whole-stage codegen; per-row cost is O(n_tokens * window * n_terms) with
    tiny constants, and the caller applies it to an already-top-k page, so no
    Python and no shuffle.
    """
    arr = F.split(toks_col if isinstance(toks_col, Column) else F.col(toks_col),
                  " ")
    n = F.greatest(F.size(arr) - F.lit(window - 1), F.lit(1))
    starts = F.sequence(F.lit(1), n)

    def win_score(i: Column) -> Column:
        sl = F.slice(arr, i, window)
        parts = [F.when(F.array_contains(sl, t), F.lit(idf)).otherwise(F.lit(0.0))
                 for t, idf in sorted(term_idfs.items())]
        out = parts[0]
        for p in parts[1:]:
            out = out + p
        return out

    scores = F.transform(starts, win_score)
    best = F.array_max(scores)
    # earliest argmax: array_position finds the FIRST element equal to best
    best_start = F.array_position(scores, best).cast("int")
    sl = F.slice(arr, best_start, window)
    terms_arr = F.array(*[F.lit(t) for t in sorted(term_idfs)])
    tagged = F.transform(
        sl, lambda t: F.when(F.array_contains(terms_arr, t),
                             F.concat(F.lit(f"<{tag}>"), t, F.lit(f"</{tag}>")))
                       .otherwise(t))
    passage = F.when(best > 0.0, F.array_join(tagged, " ")).otherwise(F.lit(None))
    score = F.when(best > 0.0, F.round(best, 6)).otherwise(F.lit(None))
    return passage, score


def best_passages(toks_col: Column | str, term_idfs: dict[str, float],
                  fragsize: int = 8, snippets: int = 3,
                  tag: str = "em") -> Column:
    """Multi-snippet highlighting: the hl.snippets / hl.fragsize surface of
    the UnifiedHighlighter (reference: highlight/UnifiedSolrHighlighter.java;
    Lucene's fragmenter breaks text into consecutive fragments and the
    PassageScorer ranks them).

    The token string tiles into consecutive NON-OVERLAPPING `fragsize`-token
    fragments; each scores by the summed idf of the DISTINCT query terms it
    contains; the top `snippets` fragments win, ordered (score desc, start
    asc). Returns an array<struct<start,score,passage>> Column — matched
    terms wrapped in <tag>..</tag>, empty array when nothing matches.

    Pure Column algebra (sequence/transform/slice/sort_array) — whole-stage
    codegen, applied to an already-top-k page: no Python, no shuffle, and a
    deterministic selection rule any SQL engine reproduces (full-hash
    gate ft34).
    """
    arr = F.split(toks_col if isinstance(toks_col, Column) else F.col(toks_col),
                  " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(arr), F.lit(1)),
                        F.lit(fragsize))
    terms_arr = F.array(*[F.lit(t) for t in sorted(term_idfs)])

    def mk(i: Column) -> Column:
        sl = F.slice(arr, i, fragsize)
        parts = [F.when(F.array_contains(sl, t), F.lit(idf)).otherwise(F.lit(0.0))
                 for t, idf in sorted(term_idfs.items())]
        score = parts[0]
        for p in parts[1:]:
            score = score + p
        tagged = F.transform(
            sl, lambda t: F.when(
                F.array_contains(terms_arr, t),
                F.concat(F.lit(f"<{tag}>"), t, F.lit(f"</{tag}>")))
            .otherwise(t))
        # neg-score first so sort_array's ascending struct order is
        # (score desc, start asc); start is unique per doc, so the passage
        # text never participates in the comparison
        # score stays un-rounded: callers round ONCE for display/oracles
        # (stacked roundings are engine-divergent near half boundaries)
        return F.struct((-score).alias("neg"), i.cast("int").alias("start"),
                        score.alias("score"),
                        F.array_join(tagged, " ").alias("passage"))

    cands = F.filter(F.transform(starts, mk), lambda s: s["neg"] < 0.0)
    top = F.slice(F.sort_array(cands), 1, snippets)
    return F.transform(top, lambda s: F.struct(
        s["start"].alias("start"), s["score"].alias("score"),
        s["passage"].alias("passage")))


def suggest_terms(spark: SparkSession, index_dir: str, prefix: str,
                  k: int = 10, num_term_buckets: int | None = None) -> DataFrame:
    """Terms-component enumeration: dictionary terms starting with `prefix`,
    highest document frequency first (the standard autocomplete ranking).

    Scans the global term dictionary only (tiny next to postings); a scale
    deployment additionally sorts the dictionary files by term so the prefix
    range prunes row groups via parquet min/max stats.
    Output: term, df (long), ordered df desc, term asc.
    """
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    return (d.where(F.col("term").startswith(prefix))
             .select("term", F.col("df").cast("long").alias("df"))
             .orderBy(F.desc("df"), F.asc("term")).limit(k))


def terms_enum(spark: SparkSession, index_dir: str,
               lower: str | None = None, lower_incl: bool = True,
               upper: str | None = None, upper_incl: bool = False,
               prefix: str | None = None, regex: str | None = None,
               mincount: int = 1, maxcount: int | None = None,
               limit: int = 10, sort: str = "count") -> DataFrame:
    """TermsComponent enumeration with the full bounds surface.

    Reference: handler/component/TermsComponent.java:139-210 — terms.lower /
    terms.lower.incl, terms.upper / terms.upper.incl, terms.prefix,
    terms.regex, terms.mincount, terms.maxcount, terms.limit and
    terms.sort=count|index (TermsParams.java). Runs against the global term
    dictionary only (vocabulary-sized — postings are never touched); the
    bound predicates push into the parquet scan, so a dictionary laid out
    sorted-by-term prunes row groups via min/max statistics.

    Output: term, df (long); sort=count orders df desc, term asc (the
    reference's count order with its index-order tiebreak), sort=index
    orders term asc.
    """
    if sort not in ("count", "index"):
        raise ValueError(f"terms.sort must be count|index, got {sort!r}")
    d = (spark.read.parquet(os.path.join(index_dir, "dictionary"))
              .select("term", F.col("df").cast("long").alias("df")))
    if prefix is not None:
        d = d.where(F.col("term").startswith(prefix))
    if lower is not None:
        d = d.where(F.col("term") >= lower if lower_incl
                    else F.col("term") > lower)
    if upper is not None:
        d = d.where(F.col("term") <= upper if upper_incl
                    else F.col("term") < upper)
    if regex is not None:
        # terms.regex matches the WHOLE term (Pattern.matcher().matches())
        d = d.where(F.col("term").rlike(f"^(?:{regex})$"))
    d = d.where(F.col("df") >= int(mincount))
    if maxcount is not None:
        d = d.where(F.col("df") <= int(maxcount))
    order = [F.desc("df"), F.asc("term")] if sort == "count" \
        else [F.asc("term")]
    return d.orderBy(*order).limit(limit)


def luke_df_histogram(spark: SparkSession, index_dir: str) -> DataFrame:
    """Luke-handler field summary: the distribution of terms by document
    frequency as a log2 histogram, plus distinct/total term counts per bucket.

    Reference: handler/admin/LukeRequestHandler.java:420 (getIndexedFieldsInfo
    builds per-field `distinct` + a `histogram` of term counts bucketed by
    power-of-two docFreq). One vocabulary-sized aggregation over the
    dictionary — the index-introspection surface operators and dashboards use
    to judge vocabulary shape (hapax mass, head weight) without scanning
    postings.

    Output: bucket (int, floor(log2(df))), n_terms, sum_df, sum_cf; ordered
    bucket asc.
    """
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    return (d.groupBy(F.floor(F.log2("df")).cast("int").alias("bucket"))
             .agg(F.count("*").cast("long").alias("n_terms"),
                  F.sum("df").cast("long").alias("sum_df"),
                  F.sum("cf").cast("long").alias("sum_cf"))
             .orderBy("bucket"))


def suggest_infix(spark: SparkSession, index_dir: str, query: str,
                  k: int = 10, highlight: bool = True) -> DataFrame:
    """Analyzing-infix suggester: contains-match anywhere in the term
    ("search-as-you-type mid-word"), weighted by document frequency, with the
    matched span highlighted <b>...</b> like the reference's responses.

    Reference: spelling/suggest/SolrSuggester.java:56 with
    suggest/fst/AnalyzingInfixLookupFactory.java:39 (Lucene
    AnalyzingInfixSuggester — the most-used production suggester mode).
    The lookup touches only the term dictionary (vocabulary-sized);
    Output: term, df (long)[, highlighted] — ordered df desc, term asc.
    """
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    out = (d.where(F.col("term").contains(query))
            .select("term", F.col("df").cast("long").alias("df")))
    if highlight:
        out = out.withColumn(
            "highlighted",
            F.replace(F.col("term"), F.lit(query), F.lit(f"<b>{query}</b>")))
    return out.orderBy(F.desc("df"), F.asc("term")).limit(k)


def suggest_documents(docs: DataFrame, field: str, prefix: str,
                      weight_col: str | None = None,
                      payload_col: str | None = None,
                      k: int = 10,
                      contexts_col: str | None = None,
                      contexts: Sequence[str] | None = None) -> DataFrame:
    """Document-dictionary suggester: suggestions are FIELD VALUES of a
    document table (not index terms), ranked by an explicit numeric weight
    column — the reference's DocumentDictionaryFactory
    (spelling/suggest/DocumentDictionaryFactory.java:41: field /
    weightField / payloadField over the stored documents), the mode used
    when suggestions carry business weights (popularity, price, clicks)
    instead of corpus statistics.

    Duplicate field values collapse to one suggestion with the MAX weight
    (Lucene's lookup keeps the heaviest entry per key; payload follows the
    same winning row via max_by). weight_col=None falls back to weight 1.
    One partial-aggregation shuffle over prefix-pruned rows; the prefix
    predicate pushes to the scan, so a value-sorted layout row-group-prunes.
    Output: term, weight (double)[, payload] — ordered weight desc, term asc.

    contexts_col/contexts: suggester CONTEXT FILTERING — the reference's
    contextField + suggest.cfq request filter (DocumentDictionaryFactory's
    contextField through Lucene's ContextQuery;
    spelling/suggest/SolrSuggester.java getSuggestions with contextFilterQuery):
    only documents whose context value is in `contexts` feed suggestions.
    A scalar context column becomes an IN predicate pushed to the scan; an
    array column (multivalued contexts) matches on any-overlap.
    """
    if (contexts is None) != (contexts_col is None):
        raise ValueError("pass contexts_col and contexts together")
    if contexts_col is not None:
        from pyspark.sql import types as T

        ctx = sorted(set(contexts))
        if isinstance(docs.schema[contexts_col].dataType, T.ArrayType):
            docs = docs.where(F.arrays_overlap(
                F.col(contexts_col),
                F.array(*[F.lit(c) for c in ctx])))
        else:
            docs = docs.where(F.col(contexts_col).isin(ctx))
    src = docs.where(F.col(field).startswith(prefix))
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    aggs = [F.max(w).alias("weight")]
    if payload_col is not None:
        aggs.append(F.max_by(F.col(payload_col), w).alias("payload"))
    return (src.groupBy(F.col(field).alias("term")).agg(*aggs)
               .orderBy(F.desc("weight"), F.asc("term")).limit(k))


def suggest_fuzzy(spark: SparkSession, index_dir: str, word: str,
                  k: int = 10, max_edits: int = 1) -> DataFrame:
    """Fuzzy suggester: dictionary terms within `max_edits` Levenshtein of
    the (possibly mistyped) input, most-frequent first — FuzzyLookupFactory's
    role (suggest/fst/FuzzyLookupFactory.java) over the live dictionary.
    Reuses the fuzzy expansion's pushed-down length-band pruning
    (query/multiterm.py::fuzzy_candidates), so the scan is row-group-pruned,
    not a vocabulary pass. Output: term, df (long), dist."""
    from solr_spark.query.multiterm import fuzzy_candidates

    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    # plain Levenshtein here, matching the emitted `dist` column (the scored
    # FuzzyQuery path defaults to Lucene's transpositions=true OSA metric;
    # this lookup keeps the engine-portable metric its contract reports)
    cand = fuzzy_candidates(d, word, max_edits, transpositions=False)
    return (cand.select("term", F.col("df").cast("long").alias("df"),
                        F.levenshtein(F.col("term"), F.lit(word))
                         .alias("dist"))
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term")).limit(k))


def enum_terms(spark: SparkSession, index_dir: str, regex: str | None = None,
               lower: str | None = None, upper: str | None = None,
               min_df: int = 1, k: int = 10,
               sort_by_df: bool = True) -> DataFrame:
    """TermsComponent enumeration with the full request surface: terms.regex,
    terms.lower/terms.upper range bounds, terms.mincount, terms.limit,
    terms.sort=count|index (reference:
    handler/component/TermsComponent.java:60 request params).

    Like suggest_terms this touches only the term dictionary; the regex is a
    dictionary-side filter, never a corpus scan. Range bounds are inclusive
    lower / exclusive upper (Solr's terms.lower.incl=true, upper.incl=false
    defaults). Output: term, df (long).
    """
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    if regex is not None:
        d = d.where(F.col("term").rlike(regex))
    if lower is not None:
        d = d.where(F.col("term") >= lower)
    if upper is not None:
        d = d.where(F.col("term") < upper)
    if min_df > 1:
        d = d.where(F.col("df") >= min_df)
    order = [F.desc("df"), F.asc("term")] if sort_by_df else [F.asc("term")]
    return (d.select("term", F.col("df").cast("long").alias("df"))
             .orderBy(*order).limit(k))


def suggest_freetext(corpus: DataFrame, text_col: str, query: str,
                     k: int = 10, backoff: float = 0.4,
                     scale: int = 6) -> DataFrame:
    """FreeText suggester: next-word completion from a corpus n-gram LM with
    stupid-backoff scoring — "free text" search-as-you-type over whole
    phrases rather than dictionary terms.

    Reference: Lucene suggest/analyzing/FreeTextSuggester.java (exposed via
    Solr's FreeTextLookupFactory, spelling/suggest/fst/FreeTextLookupFactory
    .java) — builds an n-gram model (grams=2 here) and scores candidates with
    Brants et al. 2007 stupid backoff: a candidate seen after the typed
    context scores c(context, w) / c(context); otherwise it backs off to
    ALPHA * c(w) / N. A candidate reachable at both orders keeps its
    HIGHEST-order score (Lucene's lookup dedups exactly this way).

    Lookup grammar (FreeTextSuggester.lookup): if `query` ends in whitespace
    the last token is a completed CONTEXT word and any next word is
    suggested; otherwise the last token is the typed PREFIX of the
    suggestion and the token before it (when present) is the context.

    Scale shape: the two count tables are vocabulary-bounded (one explode +
    one map-side-combinable groupBy each — solr_spark/functions/lm.py); the
    lookup filters them by context equality and prefix LIKE, so it reads a
    sliver regardless of corpus size. Scores are rounded with the
    engine-portable kernel so a SQL twin reproduces them bit-for-bit.
    Output: (word, score), score desc, word asc.
    """
    from solr_spark.functions.lm import lm_counts
    from solr_spark.functions.portable import round_half_away

    uni, bi = lm_counts(corpus, text_col)
    ends_open = query != query.rstrip()
    toks = [t for t in query.lower().split() if t]
    if not toks:
        raise ValueError("suggest_freetext needs at least one typed token")
    if ends_open:
        context, prefix = toks[-1], ""
    else:
        prefix = toks[-1]
        context = toks[-2] if len(toks) >= 2 else None

    n_tokens = int(uni.agg(F.sum("c_w")).collect()[0][0] or 0)
    cand = uni.where(F.col("w").startswith(prefix)) if prefix else uni
    lower_order = cand.select(
        F.col("w").alias("word"),
        (F.lit(backoff) * F.col("c_w").cast("double")
         / F.lit(float(n_tokens))).alias("score"))
    if context is None:
        scored = lower_order
    else:
        ctx_rows = uni.where(F.col("w") == context).collect()
        c_v = int(ctx_rows[0]["c_w"]) if ctx_rows else 0
        top = bi.where(F.col("v") == context)
        if prefix:
            top = top.where(F.col("w").startswith(prefix))
        top_order = top.select(
            F.col("w").alias("word"),
            (F.col("c_vw").cast("double") / F.lit(float(c_v))).alias("score"))
        scored = (top_order.unionByName(lower_order) if c_v
                  else lower_order)
    out = (scored.groupBy("word")
           .agg(F.max("score").alias("_s"))
           .select("word", round_half_away(F.col("_s"), scale).alias("score")))
    return out.orderBy(F.desc("score"), F.asc("word")).limit(k)


def spellcheck(spark: SparkSession, index_dir: str, word: str,
               k: int = 5, max_edits: int = 2,
               min_prefix: int = 1) -> DataFrame:
    """Did-you-mean suggestions: dictionary terms within `max_edits` Levenshtein
    edits of `word`, most-frequent first.

    Reference: SpellCheckComponent with DirectSolrSpellChecker
    (solr/core/src/java/org/apache/solr/handler/component/SpellCheckComponent.java,
    spelling/DirectSolrSpellChecker.java) — suggestions come straight from the
    live term dictionary, candidates constrained by a shared prefix (the
    reference's minPrefix, default 1) and edit distance. Everything is a JVM
    expression over the (small) dictionary table; F.levenshtein's threshold
    form short-circuits the DP for far-away terms.
    Output: term, df, dist — ordered (dist asc, df desc, term asc).
    """
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    if min_prefix > 0:
        d = d.where(F.col("term").startswith(word[:min_prefix]))
    dist = F.levenshtein(F.col("term"), F.lit(word), max_edits)
    return (d.select("term", F.col("df").cast("long").alias("df"),
                     dist.alias("dist"))
             .where((F.col("dist") >= 0) & (F.col("dist") <= max_edits)
                    & (F.col("term") != word))
             .orderBy(F.asc("dist"), F.desc("df"), F.asc("term")).limit(k))


def suggest_blended_infix(df: DataFrame, field: str, query: str,
                          weight_field: str, k: int = 10,
                          blender: str = "reciprocal") -> DataFrame:
    """Blended infix suggestions: mid-phrase prefix matches, weight
    DISCOUNTED by the matched token's position.

    Reference: BlendedInfixSuggester
    (lucene/suggest/.../analyzing/BlendedInfixSuggester.java — blender
    types POSITION_RECIPROCAL coef = 1/(position+1) and POSITION_LINEAR
    coef = 1 - 0.10*position) wrapped by Solr's
    BlendedInfixLookupFactory.java. Matching is token-prefix (the analyzed
    infix match): the FIRST token of the suggestion text that starts with
    `query` sets the position.

    Pure Column algebra over the suggestion table — split, one
    array_position probe, arithmetic — so it rides a single scan + TakeOrdered.
    Output: suggestion, weight, position (0-based), score — ordered
    (score desc, suggestion asc).
    """
    if blender not in ("reciprocal", "linear"):
        raise ValueError(f"blender must be reciprocal|linear, got {blender!r}")
    toks = F.split(F.col(field), r"\s+")
    hit = F.array_position(
        F.transform(toks, lambda t: t.startswith(query)), F.lit(True))
    pos = (hit - 1).cast("int")
    coef = (F.lit(1.0) / (pos + F.lit(1.0)) if blender == "reciprocal"
            else F.lit(1.0) - F.lit(0.10) * pos)
    return (df.select(F.col(field).alias("suggestion"),
                      F.col(weight_field).cast("double").alias("weight"),
                      pos.alias("position"),
                      (F.col(weight_field) * coef).cast("double")
                      .alias("score"))
            .where(hit > 0)
            .orderBy(F.desc("score"), F.asc("suggestion"))
            .limit(k))


def _compositions(word: str, max_parts: int, min_len: int) -> list[list[str]]:
    """All splits of `word` into 2..max_parts contiguous parts, each at least
    `min_len` chars. Driver-side enumeration — query words are tiny, and the
    count is bounded by C(len-1, max_parts-1)."""
    out: list[list[str]] = []

    def rec(rest: str, parts: list[str]) -> None:
        if parts and len(rest) >= min_len and len(parts) + 1 >= 2 \
                and len(parts) + 1 <= max_parts:
            out.append(parts + [rest])
        if len(parts) + 1 >= max_parts:
            return
        for i in range(min_len, len(rest) - min_len + 1):
            rec(rest[i:], parts + [rest[:i]])

    rec(word, [])
    return out


def suggest_word_breaks(spark: SparkSession, index_dir: str, word: str,
                        k: int = 5, min_break_length: int = 3,
                        max_changes: int = 1,
                        sort_by: str = "max_freq") -> DataFrame:
    """WordBreak spellcheck, break direction: split a (typically zero-hit)
    query word into 2..max_changes+1 dictionary words.

    Reference: WordBreakSolrSpellChecker wrapping Lucene's
    WordBreakSpellChecker.suggestWordBreaks
    (lucene/suggest/src/java/org/apache/lucene/search/spell/WordBreakSpellChecker.java
    — minBreakWordLength, maxChanges, BreakSuggestionSortMethod
    NUM_CHANGES_THEN_MAX_FREQUENCY / NUM_CHANGES_THEN_SUM_FREQUENCY).

    Plan shape: candidate splits are enumerated driver-side (a few dozen
    strings), the dictionary is scanned ONCE with an `isin` pushdown over
    the distinct parts, and the per-split "every part is a real term" check
    is a tiny grouped join — nothing here grows with corpus size, only with
    vocabulary selectivity. Output: suggestion (space-joined parts),
    n_changes, score — ordered (n_changes asc, score desc, suggestion asc).
    """
    if sort_by not in ("max_freq", "sum_freq"):
        raise ValueError(f"sort_by must be max_freq|sum_freq, got {sort_by!r}")
    splits = _compositions(word, max_changes + 1, min_break_length)
    if not splits:
        return spark.createDataFrame(
            [], "suggestion string, n_changes int, score bigint")
    rows = [(i, " ".join(parts), len(parts), p)
            for i, parts in enumerate(splits) for p in parts]
    cand = spark.createDataFrame(
        rows, "sug_id int, suggestion string, n_parts int, part string")
    parts_set = sorted({p for _, _, _, p in rows})
    d = (spark.read.parquet(os.path.join(index_dir, "dictionary"))
         .where(F.col("term").isin(parts_set))
         .select("term", F.col("df").cast("long").alias("df")))
    agg = F.max("df") if sort_by == "max_freq" else F.sum("df")
    return (cand.join(d, cand.part == d.term)
            .groupBy("sug_id", "suggestion", "n_parts")
            .agg(F.count("*").alias("n_hit"), agg.cast("long").alias("score"))
            .where(F.col("n_hit") == F.col("n_parts"))
            .select("suggestion",
                    (F.col("n_parts") - 1).cast("int").alias("n_changes"),
                    "score")
            .orderBy(F.asc("n_changes"), F.desc("score"), F.asc("suggestion"))
            .limit(k))


def suggest_word_combinations(spark: SparkSession, index_dir: str,
                              terms: Sequence[str], k: int = 5,
                              max_changes: int = 1,
                              max_combine_word_length: int = 20) -> DataFrame:
    """WordBreak spellcheck, combine direction: join runs of 2..max_changes+1
    ADJACENT query terms into a single dictionary word.

    Reference: WordBreakSpellChecker.suggestWordCombinations (maxChanges,
    maxCombineWordLength; ranked by the combined term's frequency). Candidate
    runs are enumerated driver-side from the query terms; one dictionary
    lookup with `isin` pushdown resolves them. Output: start_idx, length,
    suggestion, df — ordered (n_changes asc, df desc, suggestion asc).
    """
    terms = list(terms)
    cands = []
    for start in range(len(terms)):
        for ln in range(2, max_changes + 2):
            if start + ln > len(terms):
                break
            combined = "".join(terms[start:start + ln])
            if len(combined) <= max_combine_word_length:
                cands.append((start, ln, combined))
    if not cands:
        return spark.createDataFrame(
            [], "start_idx int, length int, suggestion string, df bigint")
    cand = spark.createDataFrame(
        cands, "start_idx int, length int, suggestion string")
    d = (spark.read.parquet(os.path.join(index_dir, "dictionary"))
         .where(F.col("term").isin(sorted({c[2] for c in cands})))
         .select("term", F.col("df").cast("long").alias("df")))
    return (cand.join(d, cand.suggestion == d.term)
            .select("start_idx", "length", "suggestion", "df")
            .orderBy(F.asc(F.col("length")), F.desc("df"),
                     F.asc("suggestion"), F.asc("start_idx"))
            .limit(k))


def rerank(topk: DataFrame, rerank_expr: Column, rerank_docs: int,
           first_sort: Sequence[Column | str], weight: float = 1.0,
           score_col: str = "score") -> DataFrame:
    """ReRank: take the first-pass top `rerank_docs` rows, add
    weight * rerank_expr to their score, and re-sort; rows beyond rerank_docs
    keep their original order below the reranked head (the reference contract:
    reRankDocs/reRankWeight, AbstractReRankQuery).
    """
    w = Window.orderBy(*first_sort)
    staged = topk.withColumn("__pos", F.row_number().over(w))
    rescored = staged.withColumn(
        "new_score",
        F.when(F.col("__pos") <= rerank_docs,
               F.col(score_col) + F.lit(weight) * rerank_expr)
         .otherwise(F.col(score_col)),
    )
    in_head = F.col("__pos") <= rerank_docs
    return (rescored
            .orderBy(F.desc(in_head.cast("int")), F.desc("new_score"), "__pos")
            .drop("__pos"))


def hash_partition_filter(col: Column | str, workers: int, worker: int) -> Column:
    """`{!hash workers=N worker=i}` — deterministic worker-slice predicate via
    murmur3, for N cooperating readers each pulling a disjoint slice (the
    reference injects this filter for parallel() streams; Solr routes docs with
    the same murmur3 family, CompositeIdRouter.java:147). `pmod` keeps negative
    hashes in range."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.hash(c), F.lit(workers)) == worker


def hash_range_filter(col: Column | str, lower: int, upper: int) -> Column:
    """`{!hash_range f=... l=... u=...}` — docs whose 32-bit murmur3 hash of
    the field falls in [lower, upper]; the reference uses it to address
    CompositeId routing slices during shard splits / cross-collection joins
    (search/join/HashRangeQParser.java:38, HashRangeQuery.java:83 — hash >=
    lower && hash <= upper, murmurhash3_x86_32 at :127).

    Spark's F.hash IS murmur3_x86_32 (seed 42 vs the reference's 0, and
    Spark's own type-to-bytes encoding), so ranges partition the SAME space
    consistently within this engine but are not bit-compatible with Solr's
    slice boundaries — the same engine-hash caveat as hash_partition_filter.
    """
    if lower > upper:
        raise ValueError(f"lower ({lower}) must be <= upper ({upper})")
    c = F.col(col) if isinstance(col, str) else col
    return (F.hash(c) >= lower) & (F.hash(c) <= upper)


def explain_scores(spark: SparkSession, reader, query_text: str, k: int = 10,
                   boosts: dict[str, float] | None = None) -> DataFrame:
    """`[explain]` doc transformer: per-(doc, term) BM25 score decomposition
    for the top-k hits (reference: Lucene Explanation surfaced through
    response/transform/ExplainAugmenterFactory.java and debug=results).

    For every matching (top-k doc, query term) clause, emits the quantities
    Lucene's explain tree shows: tf, df, idf = ln(1 + (N - df + 0.5) /
    (df + 0.5)) (boost folded in, as the kernel folds it into the weight),
    the length-normalized tf part tf / (tf + k1*(1 - b + b*dl/avgdl)), and
    contribution = idf * tf_norm; sum(contribution) over a doc's rows equals
    its retrieval score exactly (same norms: when the index stores Lucene
    SmallFloat norms the dl here is quantized through the identical 256-value
    table, expressed as a codegen'd step function — no Python).

    Plan shape: the clause set is (k x #terms)-bounded, so every join keeps
    the corpus-sized side streaming — postings prune by term bucket, the
    top-k and term-stats sides broadcast, and the doc-length lookup joins the
    analyzed artifact against a broadcast of the bounded clause set.
    """
    from solr_spark.analysis.analyzer import analyze_text
    from solr_spark.codec.smallfloat import norm_length_table
    from solr_spark.query.bm25 import _idf, bm25_topk, terms_postings

    cfg = reader.config
    out_schema = ("conv_id string, turn_idx int, docid long, term string, "
                  "tf long, df long, idf double, tf_norm double, "
                  "contribution double, score double")
    qterms = sorted(set(analyze_text(query_text, cfg)))
    if not qterms:
        return spark.createDataFrame([], out_schema)
    topk = bm25_topk(spark, reader, query_text, k=k, mode="wand",
                     boosts=boosts)
    term_stats = reader.term_stats(qterms)
    if not term_stats:
        return spark.createDataFrame([], out_schema)
    bst = boosts or {}
    stats = [(t, df, float(bst.get(t, 1.0)) * _idf(reader.n_docs, df))
             for t, (df, _cf) in sorted(term_stats.items())]
    stats_df = spark.createDataFrame(stats, "term string, df long, idf double")

    post = terms_postings(spark, reader, [t for t, _, _ in stats])
    clauses = (post
               .join(F.broadcast(topk.select("conv_id", "turn_idx", "docid",
                                             "score")), "docid")
               .join(F.broadcast(stats_df), "term"))

    analyzed = reader.forward(spark).select(
        "docid", F.col("dl").cast("long").alias("__dl"))
    ex = analyzed.join(F.broadcast(clauses), "docid")

    dl = F.col("__dl").cast("double")
    if cfg.lucene_norms:
        # encode+decode through Lucene's 4-bit table == round down to the
        # nearest representable length, as a whole-stage-codegen step function
        vals = sorted({int(v) for v in norm_length_table()})
        dl = F.array_max(
            F.filter(F.array(*[F.lit(v) for v in vals]),
                     lambda v: v <= F.col("__dl"))).cast("double")
    tfd = F.col("tf").cast("double")
    tf_norm = tfd / (tfd + F.lit(cfg.k1)
                     * (F.lit(1.0 - cfg.b) + F.lit(cfg.b) * dl / reader.avgdl))
    return (ex.select(
                "conv_id", "turn_idx", "docid", "term",
                F.col("tf").cast("long").alias("tf"), "df", "idf",
                tf_norm.alias("tf_norm"),
                (F.col("idf") * tf_norm).alias("contribution"), "score")
            .orderBy("docid", "term"))


def spellcheck_collate(spark: SparkSession, reader, query_text: str,
                       k_corrections: int = 3, max_collations: int = 3,
                       max_edits: int = 2, min_prefix: int = 1) -> DataFrame:
    """SpellCheckComponent collation (spellcheck.collate=true, reference:
    handler/component/SpellCheckComponent.java addCollationsToResponse +
    spelling/SpellCheckCollator.java): rewrite the query with the top
    corrections for every term missing from the dictionary, and VERIFY each
    candidate collation by counting its conjunctive hits — Solr's
    maxCollationTries re-query, done here as one batched postings pass.

    Known terms stay verbatim; each unknown term takes its top
    `k_corrections` DirectSolrSpellChecker suggestions (dist, df ranked);
    candidate collations are the cross product (bounded:
    k_corrections^misspelled, each list driver-side tiny). Hit verification
    for ALL collations runs in ONE job: a broadcast (collation, term)
    requirement table joined to de-duplicated postings, per-doc distinct-term
    count against the collation's clause count, then a count per collation.
    Output: (collation string, hits long) with hits > 0, best first.
    """
    from itertools import product

    from solr_spark.analysis.analyzer import analyze_text
    from solr_spark.query.bm25 import terms_postings

    cfg = reader.config
    qterms = list(dict.fromkeys(analyze_text(query_text, cfg)))
    out_schema = "collation string, hits long"
    if not qterms:
        return spark.createDataFrame([], out_schema)
    present = set(reader.term_stats(qterms))
    options: list[list[str]] = []
    for t in qterms:
        if t in present:
            options.append([t])
            continue
        sugg = [r["term"] for r in
                spellcheck(spark, reader.index_dir, t, k=k_corrections,
                           max_edits=max_edits, min_prefix=min_prefix)
                .collect()]                                    # bounded: k
        if not sugg:
            return spark.createDataFrame([], out_schema)       # uncollatable
        options.append(sugg)
    colls = [" ".join(terms) for terms in product(*options)]
    reqs = [(i, t) for i, c in enumerate(colls) for t in set(c.split())]
    req_df = spark.createDataFrame(reqs, "cid int, term string")
    need_df = spark.createDataFrame(
        [(i, len(set(c.split()))) for i, c in enumerate(colls)],
        "cid int, need int")
    names_df = spark.createDataFrame(
        list(enumerate(colls)), "cid int, collation string")
    post = (terms_postings(spark, reader,
                           sorted({t for _, t in reqs}))
            .select("term", "docid").distinct())
    hits = (post.join(F.broadcast(req_df), "term")
            .groupBy("cid", "docid")
            .agg(F.count_distinct("term").alias("nt"))
            .join(F.broadcast(need_df), "cid")
            .where(F.col("nt") == F.col("need"))
            .groupBy("cid").agg(F.count("*").cast("long").alias("hits")))
    return (F.broadcast(names_df).join(hits, "cid")
            .where(F.col("hits") > 0)
            .select("collation", "hits")
            .orderBy(F.desc("hits"), "collation")
            .limit(max_collations))


def term_vectors_component(spark: SparkSession, reader, docids,
                           positions: bool = True, doc_freq: bool = True,
                           tf_idf: bool = True) -> DataFrame:
    """TermVectorComponent (tv=true): per-document term vectors for a bounded
    set of docs — term, tf, token positions, corpus df, and the reference's
    tf-idf.

    Reference: handler/component/TermVectorComponent.java — tv.tf/tv.df/
    tv.positions/tv.tf_idf options (:150-195); df resolved against the whole
    index (:383 reader.docFreq) and tf-idf computed as tf/df at :392 (the
    reference's own comment: "this is not TF/IDF by anyone's definition!" —
    reproduced verbatim for parity, not as a ranking quantity).

    Shape: docids is a bounded id list (the component runs over one result
    page, ~rows docs). The analyzed forward table is filtered by docid
    (predicate pushed to the scan) and posexploded JVM-side; positions are
    offsets in the POST-analysis token stream, this engine's positional
    convention (query/phrase.py module doc). df joins the global dictionary
    (partition-pruned by the terms' buckets would need the terms first, so
    the join is docid-bounded-left-small instead: the per-page term set is
    tiny and broadcast against the dictionary scan).

    Returns DataFrame(docid, term, tf [, positions array<int>] [, df]
    [, tf_idf]).
    """
    import os

    from pyspark.sql import functions as F

    ids = list(docids)
    fwd = (reader.forward(spark).where(F.col("docid").isin(ids))
           .select("docid", F.split("toks", " ").alias("arr")))
    tv = (fwd.select("docid", F.posexplode("arr").alias("pos", "term"))
             .where(F.col("term") != "")
             .groupBy("docid", "term")
             .agg(F.count(F.lit(1)).cast("int").alias("tf"),
                  F.sort_array(F.collect_list("pos")).alias("positions")))
    if not positions:
        tv = tv.drop("positions")
    if doc_freq or tf_idf:
        d = (spark.read.parquet(os.path.join(reader.index_dir, "dictionary"))
             .groupBy("term").agg(F.sum("df").cast("long").alias("df")))
        tv = F.broadcast(tv).join(d, "term", "left") \
              .withColumn("df", F.coalesce("df", F.lit(0)))
        if tf_idf:
            # TermVectorComponent.java:392 — tfIdfVal = freq / df
            tv = tv.withColumn(
                "tf_idf",
                F.when(F.col("df") > 0,
                       F.col("tf").cast("double") / F.col("df")))
        if not doc_freq:
            tv = tv.drop("df")
    front = ["docid", "term", "tf"]
    return tv.select(*front, *[c for c in tv.columns if c not in front])


def matched_queries(df: DataFrame, queries: "dict[str, Column]",
                    summary: bool = False) -> DataFrame:
    """MatchedQueriesComponent (matched_queries=true / mq=true): annotate
    each row with the NAMES of the named queries it matches.

    Reference: handler/component/MatchedQueriesComponent.java — per-hit
    name lists via Lucene's NamedMatches post-pass (COMPLETE_NO_SCORES:
    matching without scoring). Column form: the names materialize in the
    same scan as the result page (array_compact over per-query WHEN tags —
    zero extra passes, unlike the reference's separate matches() walk);
    rows matching no query carry an empty array (the reference omits them
    from its per-hit map — filter on size if that shape is needed).

    summary=True returns the matched_queries_summary shape instead: one row
    per query name with the ordered list of matching ids from the FIRST
    remaining column (pass a pre-projected df).
    """
    from pyspark.sql import functions as F

    if not queries:
        raise ValueError("matched_queries needs at least one named query")
    tags = F.array_compact(F.array(*[
        F.when(pred, F.lit(name)) for name, pred in queries.items()]))
    out = df.withColumn("matched_queries", F.sort_array(tags))
    if not summary:
        return out
    id_col = df.columns[0]
    return (out.select(id_col, F.explode("matched_queries").alias("name"))
            .groupBy("name")
            .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
            .orderBy("name"))


def term_vector_component(spark: SparkSession, reader, docids: Sequence[int],
                          with_df: bool = True,
                          with_tfidf: bool = True) -> DataFrame:
    """/tv TermVectorComponent: per-document term vectors for selected docs.

    Reference: handler/component/TermVectorComponent.java — tv.tf (term
    frequency in the doc), tv.df (:386, corpus docFreq), tv.tf_idf (:391,
    literally ``freq / df`` — the reference's own comment admits "this is
    not TF/IDF by anyone's definition", and we pin THAT formula, quirk and
    all). Positions/offsets live in the positional index
    (query/phrase.py's tables) and are a separate surface.

    Scale shape: the docid IN-list predicate pushes into the forward-table
    parquet scan (k docs read, never the corpus), one explode + groupBy over
    those docs' tokens, and df rides a dictionary join bounded by the
    selected docs' distinct terms. Output: docid, term, tf[, df][, tf_idf].
    """
    ids = sorted(set(int(d) for d in docids))
    # `toks` is the analyzed token string (space-joined) in the forward table
    fwd = (reader.forward(spark)
           .where(F.col("docid").isin(ids))
           .select("docid",
                   F.explode(F.filter(F.split("toks", " "),
                                      lambda t: t != "")).alias("term")))
    out = fwd.groupBy("docid", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    if with_df or with_tfidf:
        d = (reader.dictionary(spark)
             .select("term", F.col("df").cast("long").alias("df")))
        out = out.join(d, "term")
        if with_tfidf:
            out = out.withColumn(
                "tf_idf", F.col("tf").cast("double") / F.col("df"))
        if not with_df:
            out = out.drop("df")
    cols = ["docid", "term", "tf"] + (["df"] if with_df else []) \
        + (["tf_idf"] if with_tfidf else [])
    return out.select(*cols)


def luke_histogram(spark: SparkSession, index_dir: str) -> DataFrame:
    """/admin/luke docFreq histogram: terms counted into power-of-two df
    buckets.

    Reference: handler/admin/LukeRequestHandler.java:1169 — slot =
    32 - numberOfLeadingZeros(max(0, df - 1)), bucket label = 2^slot
    (df=1 -> bucket 1, df=2 -> 2, df in (2,4] -> 4, (4,8] -> 8, ...), the
    handler's exact "calculation seems odd, but" arithmetic. One aggregate
    over the term DICTIONARY (vocabulary-sized).
    Output: bucket (the 2^slot label), n_terms — bucket ascending.
    """
    d = spark.read.parquet(os.path.join(index_dir, "dictionary"))
    # exact integer arithmetic (the handler uses numberOfLeadingZeros, i.e.
    # bit-length of df-1): float log2 misplaces exact powers of two >= 2^29
    # one bucket high (ln-ratio rounds to k + 4e-16 and ceil overshoots)
    slot = F.when(F.col("df") <= 1, F.lit(0)).otherwise(
        F.length(F.bin(F.col("df") - 1)).cast("int"))
    return (d.select(slot.alias("__slot"))
             .select(F.expr("shiftleft(cast(1 as bigint), __slot)")
                      .alias("bucket"))
             .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_terms"))
             .orderBy("bucket"))


# ------------------------------------------------------ phrases identification

def phrase_structure(tokens: "list[str]", max_indexed: int = 3,
                     max_query: int = 7) -> "list[dict]":
    """Candidate-phrase lattice of a query's analyzed token sequence — the
    pure-Python restatement of PhrasesIdentificationComponent's extractPhrases
    linking pass (handler/component/PhrasesIdentificationComponent.java:523
    extractPhrases, :663 addLinkages). The query shingle analyzer emits every
    span of length <= max_query (plus unigrams); a span is *indexed* when its
    length <= max_indexed (the index analyzer's maxShingleSize).

    Each entry: {start, end, text, indexed, terms (its unigrams),
    sub (largest indexed sub-spans: length == max_indexed, or itself when
    shorter), super (indexed spans STRICTLY containing it)} — spans as
    (start, end) over token positions, text space-joined. Pure function:
    shared by the Spark operator and the gate's SQL-twin generator, and
    unit-testable against the reference linking rules."""
    if max_indexed > max_query:
        raise ValueError("max_indexed must be <= max_query")
    n = len(tokens)
    spans = [(i, j) for i in range(n)
             for j in range(i + 1, min(i + max_query, n) + 1)]
    out = []
    for (i, j) in spans:
        length = j - i
        indexed = length <= max_indexed
        # largestIndexedSubPhrases: sub-spans with length == max_indexed;
        # an indexed span SHORTER than max_indexed is its own sole entry
        if length < max_indexed:
            sub = [(i, j)]
        else:
            sub = [(a, a + max_indexed) for a in range(i, j - max_indexed + 1)]
        # indexedSuperPhrases of a span: indexed spans strictly containing it
        sup = [(a, b) for (a, b) in spans
               if b - a <= max_indexed and a <= i and j <= b
               and (a, b) != (i, j)]
        out.append({"start": i, "end": j,
                    "text": " ".join(tokens[i:j]),
                    "indexed": indexed,
                    "terms": [(p, p + 1) for p in range(i, j)],
                    "sub": sub, "super": sup})
    return out


def phrase_scores(structure: "list[dict]", ttf: "dict[str, int]",
                  df: "dict[str, int]", conj: "dict[str, int]",
                  max_indexed: int, max_query: int) -> "list[tuple]":
    """The component's Bayesian scoring model over collected shingle stats
    (PhrasesIdentificationComponent.java:1038 computeFieldScore, kept
    line-for-line): for each candidate phrase, every largest indexed
    sub-phrase contributes

        P(words|phrase)·(P(phrase) − maxWrapper) −
        P(words|¬phrase)·(1 − (P(phrase) − maxWrapper))

    with P(words|phrase) = ttf(words)/min(unigram ttf), P(words|¬phrase) =
    ttf(words)/max(unigram ttf), P(phrase) = conj(P)/conj(words), and
    maxWrapper = max over indexed super-phrases of df/conj; the sum scales
    by 1/(1 + max_query − max_indexed) and by conj(P)/max sub conj. Pure
    function over bounded dicts — the Spark operator collects the stats,
    this prices them."""
    span_text = {(p["start"], p["end"]): p["text"] for p in structure}
    results = []
    for p in structure:
        text = p["text"]
        terms = [span_text[t] for t in p["terms"]]
        length = p["end"] - p["start"]
        if any(df.get(t, 0) <= 0 for t in terms):
            results.append((text, p["start"], p["end"], -1.0))
            continue
        conj_p = conj.get(text, 0)
        if conj_p <= 0:
            results.append((text, p["start"], p["end"], -1.0))
            continue
        if length <= 1:
            results.append((text, p["start"], p["end"], 0.0))
            continue
        field_score = 0.0
        max_sub_conj = conj_p
        for (a, b) in p["sub"]:
            words = span_text[(a, b)]
            words_terms = [span_text[(q, q + 1)] for q in range(a, b)]
            phrase_ttf = ttf.get(words, 0)
            words_conj = conj.get(words, 0)
            max_sub_conj = max(max_sub_conj, words_conj)
            wrappers = [
                (df.get(span_text[s], 0) / conj[span_text[s]])
                if conj.get(span_text[s], 0) > 0 else 0.0
                for s in next(
                    pp for pp in structure
                    if (pp["start"], pp["end"]) == (a, b))["super"]]
            max_wrapper = max(wrappers, default=0.0)
            t_min = min(ttf.get(t, 0) for t in words_terms)
            t_max = max(ttf.get(t, 0) for t in words_terms)
            if t_min <= 0 or words_conj <= 0:
                continue
            wpp = phrase_ttf / t_min
            wnp = phrase_ttf / t_max
            phrase_prob = conj_p / words_conj
            field_score += (wpp * (phrase_prob - max_wrapper)
                            - wnp * (1 - (phrase_prob - max_wrapper)))
        field_score *= 1.0 / (1 + max_query - max_indexed)
        field_score *= conj_p / max_sub_conj
        results.append((text, p["start"], p["end"], field_score))
    return results


def phrases_identify(docs: DataFrame, text_col: str, query: str,
                     max_indexed: int = 3, max_query: int = 7,
                     config=None) -> DataFrame:
    """PhrasesIdentificationComponent (`phrases.q` — handler/component/
    PhrasesIdentificationComponent.java): score every candidate phrase of
    the query against corpus shingle statistics, Spark-first.

    Two column-pruned corpus scans, both with map-side-combinable partial
    aggregation and a needed-grams filter BEFORE the exchange (the shuffle
    moves at most |candidate spans| rows):

      1. gram stats — every doc emits its 1..max_indexed-gram stream from
         ONE JVM array program (slice + array_join inside transform), kept
         only where the gram is a candidate; groupBy gram -> ttf (count) +
         df (distinct docs).
      2. conjunction doc-counts — one conditional-aggregation pass: per
         candidate span, count docs containing ALL its unigrams.

    The bounded stat tables collect to the driver and price through the
    reference scoring model (phrase_scores). Output: DataFrame(phrase,
    position_start, position_end, score) in query-position order.

    Contract: `text_col` holds WHITESPACE-JOINED tokens in the same token
    space the query analyzer produces (pre-normalized corpora, or an index's
    forward `toks` column) — the reference likewise requires the indexed
    shingle field and the query analyzer to share one unigram chain
    (the component's fieldType doc: same tokenizer + lowercase both sides).
    """
    from solr_spark.analysis import analyze_text

    tokens = analyze_text(query, config) if config is not None \
        else analyze_text(query)
    out_schema = ("phrase string, position_start int, position_end int, "
                  "score double")
    spark = docs.sparkSession
    if not tokens:
        return spark.createDataFrame([], out_schema)
    structure = phrase_structure(tokens, max_indexed, max_query)
    needed = sorted({p["text"] for p in structure
                     if p["end"] - p["start"] <= max_indexed})

    toks = F.split(F.col(text_col), " ")
    # all 1..max_indexed grams of a doc in one JVM expression: for each
    # size s, transform positions 0..len-s (inclusive) to the joined slice;
    # docs shorter than s emit no s-grams (guarded — F.sequence would
    # otherwise step NEGATIVE for an end below the start)
    def _gram_of(s):
        # single-parameter lambda: a two-parameter one would be bound to
        # transform's (value, index) binary form
        return lambda i: F.array_join(F.slice(toks, i + 1, s), " ")

    gram_arrays = [
        F.when(F.size(toks) >= s,
               F.transform(F.sequence(F.lit(0), F.size(toks) - s),
                           _gram_of(s)))
         .otherwise(F.array().cast("array<string>"))
        for s in range(1, max_indexed + 1)]
    grams = (docs.select(F.monotonically_increasing_id().alias("__doc"),
                         F.explode(F.flatten(F.array(*gram_arrays)))
                          .alias("gram"))
                 .where(F.col("gram").isin(needed))
                 .groupBy("gram")
                 .agg(F.count("*").alias("ttf"),
                      F.count_distinct("__doc").alias("df")))
    stats = {r["gram"]: (int(r["ttf"]), int(r["df"]))
             for r in grams.collect()}
    ttf = {g: v[0] for g, v in stats.items()}
    df_ = {g: v[1] for g, v in stats.items()}

    # conjunction counts: one conditional agg, all spans in one scan
    base = docs.select(toks.alias("__t"))
    span_conds = {}
    for p in structure:
        words = sorted({tokens[q] for q in range(p["start"], p["end"])})
        cond = None
        for w in words:
            c = F.array_contains(F.col("__t"), w)
            cond = c if cond is None else (cond & c)
        span_conds[p["text"]] = cond
    aggs = [F.count(F.when(cond, True)).alias(f"c{i}")
            for i, (g, cond) in enumerate(sorted(span_conds.items()))]
    conj = {}
    if aggs:
        row = base.select(*aggs).collect()[0]
        for i, (g, _) in enumerate(sorted(span_conds.items())):
            conj[g] = int(row[f"c{i}"])

    scored = phrase_scores(structure, ttf, df_, conj, max_indexed, max_query)
    return spark.createDataFrame(
        [(t, s + 1, e + 1, float(sc)) for (t, s, e, sc) in scored],
        out_schema)
