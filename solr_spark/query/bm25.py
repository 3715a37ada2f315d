"""BM25 top-k query layer: posting reads -> vectorized scoring -> block-max WAND.

Scoring follows Lucene 10's BM25Similarity (the reference's implicit default —
solr/core/src/java/org/apache/solr/search/similarities/SchemaSimilarityFactory.java:106,
defaults k1=1.2 b=0.75 per BM25SimilarityFactory.java:48-49):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = sum_t  qtf(t) * idf(t) * tf / (tf + k1*(1 - b + b*dl_q/avgdl))

(no (k1+1) factor, as in Lucene 9+), where dl_q is the SmallFloat-quantized document
length and avgdl = sumTotalTermFreq/docCount. Ties break by docid ascending.

Two-phase top-k (the reference's GET_TOP_IDS / GET_FIELDS split,
handler/component/QueryComponent.java:789,971,1402):
  plan:    on the driver, with no Spark action — `plan_query`: query analysis,
           dictionary df/cf from one term_bucket-pruned pyarrow read, per-term
           weights, as one picklable QueryPlan.
  phase 1: term-bucket-pruned posting fetch -> `_kernel_topk` -> the range
           driver `score_ranges` -> (docid, score) top-k.
  phase 2: `rank_topk`, the ranking tail of every scored Spark front-end:
           the <= k winners ordered by (score desc, docid asc), their
           (conv_id, turn_idx) read once on the driver (one pyarrow read of
           the forward table's key columns, filtered to their docids), ranks
           numbered by position, returned as a local relation.

The kernel runs on ceil(postings / POSTINGS_PER_TASK) tasks (the sum of df
over the scan terms), at least 1, at most the shuffle partitions and the
index's docid ranges. A Python task costs ~0.1-0.2 s to schedule whatever it
scores, so a query whose postings one task decodes in about that time runs
on one task. Both placements are eager: the call runs the query's Spark
job(s), if any, and collecting the result runs none. Where the kernel runs
follows from the count:
  one task: the kernel runs on the driver. Its posting rows come from
           `IndexReader.posting_rows`, one pyarrow read of the scan terms'
           bucket files (the serving tier's fetch), when those files total
           at most DRIVER_SCAN_BYTES: no Spark job at all. Above that, a
           JVM-only job collects the Spark scan as Arrow. `rank_topk`'s
           driver half ranks the winners with no further job.
  n tasks: ONE repartition(n, range_id) feeds a `mapInPandas` that runs the
           range driver per partition and emits (docid, score) candidates;
           `rank_topk` collects their top k in one TakeOrdered job.
An fq reaches the one-task kernel as the reader's cached {range_id: filter
words} (docsets.filter_words: one job on a miss, none on a hit). On n tasks
the words stay in the JVM: bitmaps exchanged into the kernel's partitions
and joined to the posting rows there, so the join adds no exchange.

Global (not per-shard) df/N/avgdl are shipped into the kernel — the
ExactStatsCache lesson (search/stats/ExactStatsCache.java:61) applied by design.
The serving tier (query/local.py) builds the same QueryPlan through
`plan_query` and scores its ranges through the same driver, `score_ranges`.

WAND mode (reference exposure: QueryComponent.java:448-452, RankQParserPlugin.java:32):
posting-range rows carry max_tf. The kernel receives every posting row of its
ranges, sums per range the similarity's bound over the range's terms, e.g. BM25's
  sum_t weight_t * max_tf/(max_tf + k1*(1-b))          (dl -> 0 bound)
and scores ranges in (bound desc, range_id) order against a running top-k; a range
whose bound is strictly below the task's current k-th score is skipped without
decoding. Skipping against the task-local k-th is safe: the global top-k is a
subset of the union of task top-k's (on one task it is the global k-th). The
kernel reads the norms (one byte per doc) of only the ranges it receives, straight
from the index's norms parquet.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter, OrderedDict
from dataclasses import dataclass, field
from functools import partial, reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis import analyze_text
from solr_spark.codec.smallfloat import decode_norms
from solr_spark.codec.varint import decode_postings
from solr_spark.config import DEFAULT_CONFIG, IndexConfig
from solr_spark.indexing.build import _segment_arrow_schema, live_segments
from solr_spark.query.empty import empty_df, local_df

# the one result schema of every scored front-end (see rank_topk)
RANKED_SCHEMA = "conv_id string, turn_idx int, docid long, score double, rank int"

from solr_spark.query.similarity import resolve as _resolve_sim  # noqa: E402


@dataclass
class IndexReader:
    """Handle on an on-disk index (paths + corpus stats).

    `warm(spark)` pins the per-query hot structures — norms, the
    docid -> (conv_id, turn_idx) map, the dictionary, optionally the
    postings — the way a serving searcher keeps its norms/stored-field
    readers open across requests (reference analog: SolrIndexSearcher's
    caches, search/SolrIndexSearcher.java:164). Cuts steady-state query
    latency; `close(spark)` releases.
    """

    index_dir: str
    n_docs: int
    avgdl: float
    config: IndexConfig
    _cached: dict = None  # {} once warm(); filled on first use
    _handles: dict = field(default_factory=dict, repr=False)  # _handle()
    # the filterCache: fq key -> {range_id: filter words}, LRU by bytes
    # (query/docsets.py::filter_words)
    _filter_cache: OrderedDict = field(default_factory=OrderedDict,
                                       repr=False)

    @classmethod
    def open(cls, index_dir: str, config: IndexConfig | None = None) -> "IndexReader":
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        if config is None:
            # stats.json carries the FULL build config (build.write_stats);
            # restore every field so query-time analysis (stopwords,
            # max_token_length, ...) matches index-time analysis exactly.
            from dataclasses import fields

            c = stats.get("config", {})
            known = {f.name for f in fields(IndexConfig)}
            config = IndexConfig(**{k: v for k, v in c.items() if k in known})
        return cls(index_dir, stats["n_docs"], stats["avgdl"], config)

    def segment_paths(self) -> list[str]:
        return [os.path.join(self.index_dir, "segments", n)
                for n in live_segments(self.index_dir)]

    def _pinned(self, name: str, read) -> DataFrame:
        """read() on a cold reader; on a warm one, persisted on first use
        and reused."""
        if self._cached is None:
            return read()
        if name not in self._cached:
            self._cached[name] = read().persist()
        return self._cached[name]

    def _handle(self, name: str, spark: SparkSession | None,
                paths: list[str], read):
        """read() once per session (None: a driver-side pyarrow handle) and
        path list. Resolving a parquet handle lists its files (a Spark job
        above 32 partition directories, as a 64-bucket segment has) and may
        infer its schema (another job), so the reader reuses it until a new
        analyzed batch, live segment or dictionary rewrite changes the path
        list."""
        key = (spark, tuple(paths))
        hit = self._handles.get(name)
        if hit is None or hit[0] != key:
            hit = self._handles[name] = (key, read())
        return hit[1]

    def doc_map(self, spark: SparkSession) -> DataFrame:
        return self._pinned("doc_map", lambda: self.forward_text(spark).select(
            "docid", "conv_id", "turn_idx"))

    def _batches(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.index_dir, "analyzed",
                                             "batch-*")))

    def forward(self, spark: SparkSession) -> DataFrame:
        """The FULL forward table: docid, conv_id, turn_idx, dl, toks, plus
        any stored attribute columns (build_index stored_cols — the
        stored-field/docValues role). Filter predicates over it push down to
        the parquet scan; column pruning drops toks when unused. The batch
        directories are listed here, not by a Spark glob, the schema is read
        from a footer on the driver (Spark's schema inference is a job), and
        the handle is resolved once per reader (see _handle)."""
        batches = self._batches()

        def read():
            schema = _spark_schema(batches)
            return (spark.read if schema is None
                    else spark.read.schema(schema)).parquet(*batches)
        return self._handle("forward", spark, batches, read)

    def forward_text(self, spark: SparkSession) -> DataFrame:
        """The forward table with the analyzed tokens `toks` exposed as
        `text` — the field name every filter compiler (fq strings, JSON
        facet domains, field sort, XML queries) addresses."""
        return self._handle(
            "forward_text", spark, self._batches(),
            lambda: self.forward(spark).withColumnRenamed("toks", "text"))

    def norms(self, spark: SparkSession) -> DataFrame:
        return self._pinned("norms", lambda: spark.read.parquet(
            os.path.join(self.index_dir, "norms")))

    def dictionary(self, spark: SparkSession) -> DataFrame:
        """DataFrame(term, df, cf, max_tf, tlen, term_bucket). The handle is
        keyed by the dictionary's part files: a rewrite (add_documents,
        merge) writes new part names, so it resolves a new handle. The
        fixed schema skips schema inference, and basePath keeps
        term_bucket a column."""
        root = os.path.join(self.index_dir, "dictionary")
        parts = sorted(glob.glob(os.path.join(root, "term_bucket=*",
                                              "*.parquet")))
        return self._pinned("dictionary", lambda: self._handle(
            "dictionary", spark, parts, lambda: spark.read.schema(
                "term string, df long, cf long, max_tf int, tlen int, "
                "term_bucket int").option("basePath", root)
            .parquet(*(parts or [root]))))

    def term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """term -> (df, cf) for the dictionary terms among `terms` (absent
        terms are omitted). One driver-side pyarrow read pruned to the terms'
        term_bucket partitions, as LocalSearcher's postings fetch does: no
        Spark job, and the rows read are bounded by the query's terms."""
        import pyarrow.dataset as ds

        terms = sorted(set(terms))
        dic = ds.dataset(os.path.join(self.index_dir, "dictionary"),
                         partitioning="hive")
        if not terms or "term_bucket" not in dic.schema.names:
            return {}  # (an empty index writes no dictionary partition)
        buckets = sorted(set(_term_buckets(terms, self.config.num_term_buckets)))
        tbl = dic.to_table(columns=["term", "df", "cf"],
                           filter=ds.field("term_bucket").isin(buckets)
                           & ds.field("term").isin(terms))
        return {t: (int(d), int(c)) for t, d, c in zip(
            tbl["term"].to_pylist(), tbl["df"].to_pylist(),
            tbl["cf"].to_pylist())}

    def segments_df(self, spark: SparkSession) -> DataFrame:
        if self._cached and "segments" in self._cached:
            return self._cached["segments"]
        from solr_spark.indexing.build import SEGMENT_SCHEMA

        # the segment schema is fixed: naming it skips parquet schema
        # inference, a Spark job per segment root on every query
        schema = f"{SEGMENT_SCHEMA}, term_bucket int"
        paths = self.segment_paths()
        return self._handle("segments", spark, paths, lambda: reduce(
            DataFrame.unionByName,
            [spark.read.schema(schema).parquet(p) for p in paths]))

    def posting_rows(self, terms, columns, segments: list[str] | None = None,
                     max_bytes: int | None = None) -> pa.Table | None:
        """The segment rows of `terms` (`columns` of SEGMENT_SCHEMA) as one
        Arrow table: one driver-side pyarrow read of the terms' term_bucket
        files in `segments` (default: the live ones), filtered to the terms.
        No Spark job. The one posting fetch of the driver-side scorers:
        LocalSearcher's postings misses and a one-task bm25_topk. It reads
        whole bucket files: None, with nothing read, when they total more
        than `max_bytes`.

        Each file's footer is parsed once per segment list (see _handle),
        so a fetch stats the segment dirs and reads only row data. A shard
        that owns no docid range has an EMPTY segment dir (only _SUCCESS),
        hence no files: every query over it matches nothing. A segment dir
        that is gone raises FileNotFoundError."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        paths = self.segment_paths() if segments is None else [
            os.path.join(self.index_dir, "segments", n) for n in segments]
        # keyed by each segment dir's inode and mtime, not its path: a merge
        # that rewrites a segment dir in place recreates it, so it opens the
        # new files (and a dir that is gone raises FileNotFoundError)
        stamps = [(p, st.st_ino, st.st_mtime_ns)
                  for p in paths for st in (os.stat(p),)]

        def open_files():  # term_bucket -> [(ParquetFile, file bytes)]
            files: dict[int, list] = {}
            for p in paths:
                for f in sorted(glob.glob(os.path.join(
                        p, "term_bucket=*", "*.parquet"))):
                    bucket = int(os.path.dirname(f).rsplit("=", 1)[1])
                    files.setdefault(bucket, []).append(
                        (pq.ParquetFile(f), os.path.getsize(f)))
            return files
        files = self._handle("posting_files", None, stamps, open_files)
        picked = [f for b in sorted(set(_term_buckets(
            terms, self.config.num_term_buckets))) for f in files.get(b, ())]
        if max_bytes is not None and sum(n for _, n in picked) > max_bytes:
            return None
        tbls = [pf.read(columns=list(columns), use_threads=False)
                for pf, _ in picked]
        if not tbls:
            return _segment_arrow_schema().empty_table().select(list(columns))
        tbl = pa.concat_tables(tbls)
        return tbl.filter(pc.is_in(tbl["term"], value_set=pa.array(
            list(terms), pa.string())))

    def warm(self, spark: SparkSession, segments: bool = False) -> "IndexReader":
        """Pin the hot query-side structures (idempotent).

        Norms, the doc map and the term dictionary (small: bytes per doc /
        per term) are persisted on their first use, so warming them runs no
        Spark job: `bm25_topk` reads none of them (its kernel reads norms,
        and `rank_topk` winner keys, with pyarrow); the edismax, shard and
        multiterm front-ends do. `segments=True` additionally pins the
        posting table and materializes it now (one job) for the queries
        that scan it in Spark: the n-task `bm25_topk` placement (or a
        one-task one over DRIVER_SCAN_BYTES) and the other front-ends. A
        one-task `bm25_topk` reads its postings with pyarrow
        (`posting_rows`) and never touches it. Pinning is the serving
        posture when the working set fits executor memory (the reference
        equivalently depends on the OS page cache keeping hot postings
        resident); leave False when the index dwarfs the cluster's memory
        and rely on term_bucket partition pruning instead.
        """
        if self._cached is not None:
            return self
        self._cached = {}
        if segments:
            seg = self.segments_df(spark).persist()
            seg.count()
            self._cached["segments"] = seg
        return self

    def close(self, spark: SparkSession) -> None:
        for df in (self._cached or {}).values():
            df.unpersist()
        self._cached = None
        self._filter_cache.clear()


def _spark_schema(dirs: list[str]):
    """The Spark schema a Spark-written parquet directory stores in its
    files' footer metadata (the first file of the first of `dirs`), or None
    (then Spark infers it)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = sorted(glob.glob(os.path.join(dirs[0], "*.parquet"))) \
        if dirs else []
    if not files:
        return None
    row = (pq.read_schema(files[0]).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(row)) if row else None


def _term_buckets(terms: list[str], num_buckets: int) -> list[int]:
    import zlib

    return [zlib.crc32(t.encode()) % num_buckets for t in terms]


def _idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


@dataclass(frozen=True)
class QueryPlan:
    """One analyzed, weighted query — everything the range kernel needs, as
    one picklable value (the role of Lucene's Weight: built once per query
    from global stats, then applied to every docid range).

    terms are the scoring terms found in the dictionary, prohibited the
    MUST_NOT terms found there (their postings only mask docs), required the
    MUST canonical terms (or synonym group ids). weights/score_params are
    keyed like the kernel's clauses: by term, or by group id when `groups`
    (member term -> canonical group ids) is set. bound_weights/bound_params
    are keyed by scan term and feed the similarity's WAND range bound.
    postings is the scan's posting count (the sum of df over scan_terms),
    which sizes the Spark kernel's exchange.
    """

    sim: object
    cfg: IndexConfig
    avgdl: float
    k: int
    min_match: int
    terms: tuple
    prohibited: frozenset
    required: frozenset
    weights: dict
    score_params: dict
    bound_weights: dict
    bound_params: dict
    groups: dict | None
    combine: str
    tie: float
    postings: int

    @property
    def scan_terms(self) -> list[str]:
        """Every term whose postings the query reads: scoring, then MUST_NOT."""
        return list(self.terms) + sorted(self.prohibited - set(self.terms))


def plan_query(reader: IndexReader, term_stats, query_text: str,
               k: int = 10, require_all: bool = False,
               min_match: int | str | None = None,
               synonyms: dict[str, list[str]] | None = None,
               boosts: dict[str, float] | None = None,
               similarity: str | object = "bm25",
               prohibited: list[str] | None = None,
               required: list[str] | None = None,
               combine: str = "sum", tie: float = 0.0) -> QueryPlan | None:
    """The query plan both tiers score with; None when no doc can match.

    reader supplies the index config (analysis, k1/b, norms) and the GLOBAL
    n_docs/avgdl; term_stats(terms) -> {term: (df, cf)} for the dictionary
    terms among `terms` (absent terms omitted) — `IndexReader.term_stats` on
    the Spark tier, the resident dictionary on the serving tier. The
    arguments are bm25_topk's (see there). Validation (combine, tie,
    required terms) raises here, once, before any posting is read; k is
    capped at n_docs so no top-k buffer is sized by a caller's k.
    """
    if combine not in ("sum", "dismax"):
        raise ValueError(f"combine must be 'sum' or 'dismax', got {combine!r}")
    if combine == "dismax" and synonyms:
        raise ValueError("combine='dismax' does not support synonyms")
    if combine == "dismax" and not (0.0 <= tie <= 1.0):
        raise ValueError(f"tie must be in [0, 1], got {tie}")
    cfg = reader.config
    sim = _resolve_sim(similarity)
    n_docs = reader.n_docs
    total_tokens = n_docs * reader.avgdl
    qterms = Counter(analyze_text(query_text, cfg))
    if not qterms:
        return None
    # a result can never exceed the doc count (k=10^9 once OOMed a 1 GiB
    # driver)
    k = min(k, n_docs)
    if k < 1:
        return None

    canon = sorted(qterms)
    # boolean-operator clauses (grammar parser/QueryParser.jj `+`/`-`):
    # prohibited = MUST_NOT (postings ride the scan, kernel excludes matching
    # docs before collection — ReqExclScorer); required = MUST (each analyzed
    # required term must also be a scoring clause and present in every hit)
    prohib_terms: set[str] = set()
    for p in prohibited or []:
        prohib_terms.update(analyze_text(p, cfg))
    req_terms: set[str] = set()
    for r in required or []:
        req_terms.update(analyze_text(r, cfg))
    if req_terms - set(canon):
        raise ValueError(
            f"required terms must also appear in query_text: "
            f"{sorted(req_terms - set(canon))}")
    group_of: dict[str, tuple[str, ...]] | None = None
    if synonyms:
        # member term -> tuple of canonical group ids. Every canonical query
        # term owns a group; overlapping expansions mean one member can feed
        # several groups' pooled tf (Lucene analog: duplicate SynonymQuery
        # clauses both match the shared term).
        member_groups: dict[str, list[str]] = {}
        for t in canon:
            members = [t] + [m for phrase in synonyms.get(t, [])
                             for m in analyze_text(phrase, cfg)]
            for m in dict.fromkeys(members):
                member_groups.setdefault(m, []).append(t)
        group_of = {m: tuple(gs) for m, gs in member_groups.items()}
        terms = sorted(group_of)
    else:
        terms = canon
    if require_all:
        min_match = len(canon)
    if isinstance(min_match, str):
        # the full Solr mm spec grammar ("75%", "2<-25%", conditionals) —
        # util/SolrPluginUtils.java::calculateMinShouldMatch
        from solr_spark.query.edismax import calculate_min_should_match

        min_match = calculate_min_should_match(len(canon), min_match)
    min_match = max(1, min(min_match or 1, len(canon)))
    # one dictionary read serves the scoring and MUST_NOT terms
    stats = term_stats(terms + sorted(prohib_terms))
    dfs = {t: df for t, (df, _cf) in stats.items()}
    cfs = {t: cf for t, (_df, cf) in stats.items()}
    found = [t for t in terms if t in stats]
    if not found:
        return None
    boosts = boosts or {}
    if group_of is not None:
        groups_found: dict[str, list[str]] = {}
        for t in found:
            for g in group_of[t]:
                groups_found.setdefault(g, []).append(t)
        # SynonymQuery pooled stats: a group scores with its max member df/cf
        weights = {
            g: sim.weight(qterms[g] * boosts.get(g, 1.0), n_docs,
                          max(dfs[t] for t in ms), max(cfs[t] for t in ms),
                          total_tokens)
            for g, ms in groups_found.items()
        }
        score_params = {
            g: sim.term_param(max(dfs[t] for t in ms), max(cfs[t] for t in ms),
                              n_docs, total_tokens)
            for g, ms in groups_found.items()
        }
        # per-member WAND bound inputs: the sum of the weights of every group
        # the member feeds (per-term saturated bounds dominate each group's
        # pooled score, so the sum is a valid upper bound); the bound param
        # takes the MIN over those groups' params (LM bounds grow as the
        # collection probability shrinks, so min keeps the bound dominant)
        bound_weights = {t: sum(weights[g] for g in group_of[t] if g in weights)
                         for t in found}
        bound_params = {t: min(score_params[g] for g in group_of[t]
                               if g in score_params)
                        for t in found}
        # a canonical term whose whole group is absent can never match
        n_clauses = len(groups_found)
    else:
        weights = {t: sim.weight(qterms[t] * boosts.get(t, 1.0), n_docs,
                                 dfs[t], cfs[t], total_tokens)
                   for t in found}
        score_params = {t: sim.term_param(dfs[t], cfs[t], n_docs,
                                          total_tokens) for t in found}
        bound_weights, bound_params = dict(weights), dict(score_params)
        n_clauses = len(found)
    # absent terms can never match: mm above the found clauses, or a MUST
    # clause absent from the index, is unsatisfiable
    if min_match > n_clauses or req_terms - set(weights):
        return None
    # MUST_NOT terms in the dictionary ride the posting scan with weight 0,
    # so they add nothing to a range's bound (a skipped range emits no docs,
    # hence nothing to exclude from)
    prohib_found = frozenset(t for t in prohib_terms if t in stats)
    for t in prohib_found - set(found):
        bound_weights[t], bound_params[t] = 0.0, 1.0
    return QueryPlan(sim, cfg, reader.avgdl, k, min_match, tuple(found),
                     prohib_found, frozenset(req_terms), weights,
                     score_params, bound_weights, bound_params, group_of,
                     combine, tie,
                     sum(dfs[t] for t in set(found) | prohib_found))


def _score_group(plan: QueryPlan, postings, dls: np.ndarray,
                 allow: np.ndarray | None = None):
    """The range-scoring kernel of both tiers: score one docid range under
    `plan`; returns (offsets, scores) of the range's matching docs, offsets
    relative to the range's first docid.

    postings: the range's decoded posting lists as (term, offsets, tfs)
    triples — offsets relative to the range base, tfs float64 — for any of
    plan.scan_terms (a term may have several lists: one per segment holding
    docs of the range). dls: the range's float64 doc lengths
    (codec.smallfloat.decode_norms). allow: the fq DocSet over the range
    (bool per offset) or None; ANDed after scoring, before collection — the
    getProcessedFilter intersection.

    plan.min_match is the edismax `mm` contract (ExtendedDismaxQParser.java
    :66): 1 = pure disjunction (a doc matches on a positive score), more =
    min-should-match by matched clause count (clauses are synonym GROUPS when
    plan.groups is set).

    plan.groups enables Lucene SynonymQuery semantics (query-time
    SynonymGraphFilter, managed-schema.xml:309): every member term of a group
    contributes to ONE pooled tf per document, saturated once, weighted by the
    group's weight (from the max member df, as SynonymQuery does).

    plan.prohibited: terms whose lists only mark documents for exclusion
    (BooleanClause.MUST_NOT — Lucene's ReqExclScorer skipping excluded docs
    before collection; no score, no mm count). plan.required: canonical
    terms/groups that must ALL be present in a doc (BooleanClause.MUST over
    an otherwise-SHOULD query).

    plan.combine/tie: the `{!maxscore}` clause combiner (reference:
    search/MaxScoreQParser.java:53 — SHOULD clauses are wrapped in a
    DisjunctionMaxQuery with `tie` as the tiebreaker, MUST clauses pass
    through as ordinary summed BooleanClauses). "dismax" scores a doc as
    sum(MUST contribs) + max(SHOULD contribs) + tie * (sum(SHOULD contribs)
    - max); "sum" is the ordinary BooleanQuery sum.
    """
    sim, cfg, avgdl = plan.sim, plan.cfg, plan.avgdl
    min_match, required = plan.min_match, plan.required
    width = len(dls)
    acc = np.zeros(width, dtype=np.float64)
    # dismax combiner state: max SHOULD contribution per doc, plus the
    # pass-through sum of MUST contributions (MaxScoreQParser.java:63-78)
    dismax = plan.combine == "dismax"
    acc_max = np.zeros(width, dtype=np.float64) if dismax else None
    acc_must = np.zeros(width, dtype=np.float64) if dismax else None
    present = np.zeros(width, dtype=np.int32) if min_match > 1 else None
    excl = None
    req_hit = np.zeros(width, dtype=np.int32) if required else None
    # fixed term order => deterministic float summation (matches the oracle)
    postings = sorted(postings, key=lambda p: p[0])
    pooled: dict = {}
    for term, off, tf in postings:
        if term in plan.prohibited:
            if excl is None:
                excl = np.zeros(width, dtype=bool)
            excl[off] = True
            continue
        if plan.groups is not None:
            # synonym path: pool tf per group first, saturate once per group.
            # A member may feed several groups when query terms' expansions
            # overlap — each canonical query term owns its own group, so
            # min_match counts the user's terms, never a collapsed overlap.
            for gid in plan.groups[term]:
                tfg = pooled.get(gid)
                if tfg is None:
                    tfg = pooled[gid] = np.zeros(width, dtype=np.float64)
                tfg[off] += tf
            continue
        contrib = sim.contrib(tf, dls[off], plan.weights[term],
                              plan.score_params.get(term, 0.0), cfg, avgdl)
        if dismax and term in required:
            # MUST clauses bypass the dismax: ordinary summed clauses
            acc_must[off] += contrib
        else:
            acc[off] += contrib
            if dismax:
                # off is unique within one posting list: plain fancy-index max
                acc_max[off] = np.maximum(acc_max[off], contrib)
        if present is not None:
            present[off] += 1
        if req_hit is not None and term in required:
            req_hit[off] += 1
    for gid in sorted(pooled):  # deterministic group order
        tfg = pooled[gid]
        hit = np.flatnonzero(tfg)
        acc[hit] += sim.contrib(tfg[hit], dls[hit], plan.weights[gid],
                                plan.score_params.get(gid, 0.0), cfg, avgdl)
        if present is not None:
            present[hit] += 1
        if req_hit is not None and gid in required:
            req_hit[hit] += 1
    final = acc_must + acc_max + plan.tie * (acc - acc_max) if dismax else acc
    keep = present >= min_match if present is not None else final > 0.0
    if req_hit is not None:
        keep &= req_hit >= len(required)
    if excl is not None:
        keep &= ~excl
    if allow is not None:
        keep &= allow
    nz = np.flatnonzero(keep)
    return nz, final[nz]


def _merge_topk(docids: np.ndarray, scores: np.ndarray, d: np.ndarray,
                s: np.ndarray, k: int):
    """The best k of two candidate sets by (score desc, docid asc)."""
    docids, scores = np.concatenate((docids, d)), np.concatenate((scores, s))
    if len(docids) > k:
        # keep the scores >= the k-th best (ties included), then order those
        if k:
            keep = scores >= np.partition(scores, len(scores) - k)[-k]
            docids, scores = docids[keep], scores[keep]
        best = np.lexsort((docids, -scores))[:k]
        docids, scores = docids[best], scores[best]
    return docids, scores


def score_ranges(plan: QueryPlan, ranges, dels: np.ndarray | None):
    """The one range driver of both tiers, the reference's Weight applied
    range by range into one top-score collector. ranges: (range_id, bound,
    load) in the order to score them; load() returns `_score_group`'s
    (postings, dls, allow). A range whose bound is strictly below the
    running k-th score is skipped before load() runs (block-max WAND;
    np.inf always scores). Offsets become docids, tombstones (`dels`,
    sorted; None or empty: none) are dropped, and the top plan.k return as
    (docids, scores) in rank order: score desc, docid asc."""
    top_d, top_s = np.empty(0, dtype=np.int64), np.empty(0)
    kth = -np.inf  # the running k-th score once k docs are held
    for rid, bound, load in ranges:
        if bound < kth:
            continue  # provably non-competitive: never decoded
        off, s = _score_group(plan, *load())
        d = off + (int(rid) << plan.cfg.range_shift)
        if dels is not None and len(dels):
            keep = ~np.isin(d, dels)
            d, s = d[keep], s[keep]
        top_d, top_s = _merge_topk(top_d, top_s, d, s, plan.k)
        if len(top_d) == plan.k:
            kth = top_s.min()
    order = np.lexsort((top_d, -top_s))
    return top_d[order], top_s[order]


# Postings one kernel task decodes and scores before a query spreads over
# another: ~0.1 s of kernel work at ~9 M postings/s, about what a Python
# task costs to schedule, so a smaller query gains nothing from a second task
POSTINGS_PER_TASK = 1 << 20
# Bucket-file bytes a one-task query reads on the driver (posting_rows)
# rather than through a Spark scan job. On a 4-vCPU box (local[4]; medians
# of 80 one-term reads of 80k/160k-turn indexes built with 1-4 term
# buckets) the fetch took 18 / 33 / 66 / 142 ms over 3.1 / 6.2 / 12.3 /
# 24.6 MB of bucket files (165-190 MB/s), and the same scan as one Spark
# job 56 / 46 / 50 / 46 ms: the fetch costs about one job at ~8-9 MB. It
# reads whole bucket files, so at scale this bound, not the posting
# count, keeps it small.
DRIVER_SCAN_BYTES = 8 << 20
# the segment columns the kernel reads
_SCAN_COLUMNS = ("term", "range_id", "n_docs", "doc_gaps", "tfs", "max_tf")


def _kernel_tasks(postings: int, reader: IndexReader, max_tasks: int) -> int:
    """The kernel's partition count for a scan of `postings` postings: one
    task per POSTINGS_PER_TASK, at least 1, at most `max_tasks` (the
    session's shuffle partitions) and the index's docid range count."""
    n_ranges = -(-reader.n_docs >> reader.config.range_shift)
    return max(1, min(-(-postings // POSTINGS_PER_TASK), max_tasks, n_ranges))


def _doc_keys(index_dir: str, docids: np.ndarray) -> pd.DataFrame:
    """DataFrame(conv_id, turn_idx) of `docids`, row-aligned: one pyarrow
    read of the forward table's key columns, filtered to those docids (none
    when there are no docids). A docid with no forward row raises — a
    winner is never dropped silently. (The build hash-partitions analyzed
    files by conv_id, so every file spans the whole docid space and
    row-group statistics cannot prune this read: it decodes the key columns
    of every analyzed file.)"""
    import pyarrow.dataset as ds

    if not len(docids):
        return pd.DataFrame({"conv_id": pd.Series([], dtype=object),
                             "turn_idx": pd.Series([], dtype=np.int32)})
    tbl = ds.dataset(os.path.join(index_dir, "analyzed"),
                     format="parquet").to_table(
        columns=["docid", "conv_id", "turn_idx"],
        filter=ds.field("docid").isin(docids)).to_pandas()
    keys = tbl.drop_duplicates("docid").set_index("docid").reindex(docids)
    missing = docids[keys["conv_id"].isna().to_numpy()]
    if len(missing):
        raise RuntimeError(
            f"docids {missing[:10].tolist()} scored but have no forward row "
            f"in {index_dir}/analyzed")
    return keys.reset_index(drop=True).astype({"turn_idx": "int32"})


def _ranked(spark: SparkSession, index_dir: str, docids: np.ndarray,
            scores: np.ndarray) -> DataFrame:
    """rank_topk's driver half, which runs no Spark job: winners already in
    rank order (score desc, docid asc), keyed with their (conv_id, turn_idx)
    and numbered 1..n, as a local relation of RANKED_SCHEMA."""
    top = _doc_keys(index_dir, docids).assign(
        docid=docids, score=scores,
        rank=np.arange(1, len(docids) + 1, dtype=np.int32))
    return local_df(spark, pa.Table.from_pandas(top, preserve_index=False),
                    RANKED_SCHEMA)


def rank_topk(spark: SparkSession, reader: IndexReader, cand: DataFrame,
              k: int) -> DataFrame:
    """The ranking tail of every scored Spark front-end (the reference's one
    collector, then GET_FIELDS for the winning page only): the top k of
    `cand` (docid, score; one row per docid) by (score desc, docid asc),
    collected in one TakeOrdered job, keyed with (conv_id, turn_idx) by one
    driver-side forward read and ranked 1..k. k is capped at n_docs, so no
    TakeOrdered buffer is sized by a caller's k.

    Returns a local relation of RANKED_SCHEMA: the job runs inside the call,
    and collecting the result runs none."""
    k = min(k, reader.n_docs)
    top = (cand.select("docid", "score")
           .orderBy(F.desc("score"), F.asc("docid")).limit(k).toArrow())
    return _ranked(spark, reader.index_dir, top["docid"].to_numpy(),
                   top["score"].to_numpy())


def _kernel_topk(plan: QueryPlan, pdf: pd.DataFrame, index_dir: str,
                 dels: np.ndarray | None, prune: bool,
                 allow: dict | None = None):
    """The Spark tier's side of `score_ranges`, wherever its one call runs:
    the posting rows of some docid ranges (the scan terms' rows of each),
    grouped by range and bounded by the sum of their terms' WAND bounds with
    `prune` (np.inf otherwise). allow: the fq DocSet as {range_id: filter
    words} (docsets.filter_words) or None; a range with no entry is dropped
    before it is grouped. A range's rows are decoded and its filter words
    unpacked only if it is scored."""
    import pyarrow.dataset as ds

    from solr_spark.query.docsets import unpack_bits

    if allow is not None and len(pdf):
        pdf = pdf[pdf["range_id"].isin(np.fromiter(allow, np.int64,
                                                    len(allow)))]
    if not len(pdf):
        return score_ranges(plan, (), dels)
    cfg = plan.cfg
    pdf = pdf.sort_values(["range_id", "term"], ignore_index=True,
                          kind="stable")
    rid = pdf["range_id"].to_numpy()
    terms = pdf["term"].tolist()
    starts = np.flatnonzero(np.r_[True, rid[1:] != rid[:-1]])
    ends = np.r_[starts[1:], len(rid)]
    bound = np.full(len(starts), np.inf)
    if prune:
        bound = np.add.reduceat(plan.sim.bound(
            pdf["max_tf"].to_numpy(np.float64),
            pdf["term"].map(plan.bound_weights).to_numpy(np.float64),
            pdf["term"].map(plan.bound_params).to_numpy(np.float64),
            cfg, plan.avgdl), starts)
    # the norms blobs of these ranges only, in one pyarrow read
    nt = ds.dataset(os.path.join(index_dir, "norms")).to_table(
        columns=["range_id", "norm_bytes"],
        filter=ds.field("range_id").isin(rid[starts].tolist()))
    norms = dict(zip(nt["range_id"].to_pylist(), nt["norm_bytes"].to_pylist()))

    def load(lo: int, hi: int):
        # range base 0: the decoded docids are offsets in the range
        off, tf, b = decode_postings(
            pdf["doc_gaps"].iloc[lo:hi], pdf["tfs"].iloc[lo:hi],
            np.zeros(hi - lo, dtype=np.int64), pdf["n_docs"].iloc[lo:hi], 0)
        tf = tf.astype(np.float64)
        dls = decode_norms(norms[int(rid[lo])], cfg.lucene_norms)
        mask = None if allow is None else \
            unpack_bits(allow[int(rid[lo])], len(dls))
        return ([(terms[lo + i], off[b[i]:b[i + 1]], tf[b[i]:b[i + 1]])
                 for i in range(hi - lo)], dls, mask)

    return score_ranges(plan, (
        (rid[starts[g]], bound[g], partial(load, starts[g], ends[g]))
        for g in np.lexsort((rid[starts], -bound))), dels)


def terms_postings(spark: SparkSession, reader: IndexReader,
                   terms: list[str], apply_deletes: bool = True) -> DataFrame:
    """Decoded postings for a set of query terms: DataFrame(term, docid, tf).

    Partition-pruned by term_bucket; the decode kernel touches only the query
    terms' posting-range rows (a handful per term), so the per-row Python is
    bounded by #terms x #ranges, never by corpus size.
    The relational shape feeds multi-field scoring (edismax) where the
    per-(term, docid) contribution must stay a DataFrame column.
    Tombstoned docids (indexing/deletes.py) are anti-joined away unless
    apply_deletes=False (the delete path itself needs the raw postings).
    """
    cfg = reader.config
    terms = sorted(set(terms))
    if not terms:
        return empty_df(spark, "term string, docid long, tf int")
    buckets = sorted(set(_term_buckets(terms, cfg.num_term_buckets)))
    seg = reader.segments_df(spark)
    rows = seg.where(F.col("term_bucket").isin(buckets)
                     & F.col("term").isin(terms)) \
              .select("term", "range_id", "n_docs", "doc_gaps", "tfs")
    shift = cfg.range_shift

    def decode_iter(batches):
        for pdf in batches:
            if len(pdf):
                d, t, _ = decode_postings(pdf["doc_gaps"], pdf["tfs"],
                                          pdf["range_id"], pdf["n_docs"], shift)
                yield pd.DataFrame({
                    "term": np.repeat(pdf["term"].to_numpy(), pdf["n_docs"]),
                    "docid": d, "tf": t.astype(np.int32)})

    post = rows.mapInPandas(decode_iter, "term string, docid long, tf int")
    if apply_deletes:
        from solr_spark.indexing.deletes import deletes_df

        dels = deletes_df(spark, reader.index_dir)
        if dels is not None:
            post = post.join(dels, "docid", "left_anti")
    return post


def clause_docids(spark: SparkSession, reader: IndexReader,
                  groups: list[list[str]], min_match: int | None = None,
                  apply_deletes: bool = True) -> DataFrame:
    """The docs that hold a term of at least `min_match` of `groups`
    (default: of every group) as DataFrame(docid), one row per doc — the
    candidate DocSet of the positional queries, the term match set of the
    field-sorted path and the delete-by-terms set, resolved from the
    postings alone.

    A group is a clause whose member terms OR together (a word's
    expansions, a span OR). One term_bucket-pruned posting scan reads every
    group's terms; its rows join a small (clause, term) local relation, and
    one aggregate counts distinct clauses per doc. Tombstoned docs are
    dropped unless apply_deletes=False (see terms_postings)."""
    pairs = [(i, t) for i, g in enumerate(groups) for t in sorted(set(g))]
    if not pairs:
        return empty_df(spark, "docid long")
    post = terms_postings(spark, reader, [t for _, t in pairs], apply_deletes)
    cmap = local_df(spark, pa.table(list(zip(*pairs)),
                                    names=["clause", "term"]),
                    "clause int, term string")
    need = len(groups) if min_match is None else min_match
    return (post.join(F.broadcast(cmap), "term")
            .groupBy("docid")
            .agg(F.count_distinct("clause").alias("__nc"))
            .where(F.col("__nc") >= need)
            .select("docid"))


def term_docs(spark: SparkSession, reader: IndexReader, term: str,
              apply_deletes: bool = True) -> DataFrame:
    """All documents containing `term`: DataFrame(docid long), the postings
    of `terms_postings` for one term.

    The analog of a single-term `{!term}` filter query resolved from the inverted
    index (reference: search/TermQParserPlugin.java). Join doc_map for display
    fields.
    """
    return terms_postings(spark, reader, [term], apply_deletes).select("docid")


def graph_terms_docs(spark: SparkSession, reader: IndexReader,
                     terms: list[str], max_doc_freq: int | None = None,
                     apply_deletes: bool = True) -> DataFrame:
    """`{!graphTerms}` — a terms filter that SKIPS high-frequency terms.

    Reference: search/GraphTermsQParserPlugin.java:72-88 — match documents
    containing any of `terms`, but a term whose docFreq exceeds maxDocFreq
    contributes NO matches (graph traversals use this to avoid fanning out
    through hub nodes). maxDocFreq=None (the reference's Integer.MAX_VALUE
    default, :100) degrades to a plain set query.

    Spark shape: the df cap is resolved against the DICTIONARY on the driver
    (IndexReader.term_stats, term-bucket pruned) before any posting is
    decoded — a capped-out term costs one dictionary row, never a posting
    scan. Surviving terms ride the partition-pruned decode kernel of
    terms_postings. Output: docid, distinct.
    """
    terms = sorted(set(terms))
    if max_doc_freq is not None:
        terms = sorted(t for t, (df, _cf) in reader.term_stats(terms).items()
                       if df <= max_doc_freq)
    if not terms:
        return empty_df(spark, "docid long")
    return terms_postings(spark, reader, terms,
                          apply_deletes).select("docid").distinct()


def bm25_topk(
    spark: SparkSession,
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    mode: str = "wand",
    require_all: bool = False,
    min_match: int | str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    boosts: dict[str, float] | None = None,
    similarity: str | object = "bm25",
    prohibited: list[str] | None = None,
    required: list[str] | None = None,
    filters: list[str] | str | None = None,
    filter_docids: DataFrame | None = None,
    now: str | None = None,
    combine: str = "sum",
    tie: float = 0.0,
) -> DataFrame:
    """Top-k scored retrieval. Returns DataFrame(conv_id, turn_idx, docid, score, rank).

    filters / filter_docids: the q+fq flow (SolrIndexSearcher.java:1254
    getProcessedFilter). `filters` are classic-parser strings compiled
    against the forward table (query/docsets.py::filter_docids — stored
    attribute columns, conv_id/turn_idx, and `text` = analyzed tokens;
    `now` anchors date-math endpoints like `ts:[NOW-7DAYS TO *]`);
    `filter_docids` is a precomputed DataFrame(docid). Either becomes
    per-range bitmap words (query/docsets.py; on one task `filters` are
    cached per reader, the filterCache): ranges with no allowed doc are
    skipped WITHOUT decoding (composing with WAND's bound skipping),
    surviving docs are masked before heap collection, and a selective filter
    still returns k hits (post-joining the top-k would not). Scoring stats
    stay GLOBAL — fq narrows the result set, never the scoring model.

    similarity: scoring model — "bm25" (default), "classic" (TF-IDF),
    "boolean", "lmdirichlet", "lmjelinekmercer", or a Similarity instance
    (query/similarity.py; the reference's per-field SimilarityFactory surface,
    schema/SimilarityFactory.java). Both exact and WAND modes honor it — each
    similarity supplies its own block-max range bound.

    min_match: edismax-style min-should-match over distinct query terms
    (1 = OR, n_terms = AND); require_all is shorthand for min_match = n_terms.

    boosts: per-term clause boosts — the classic parser's `term^2` syntax
    (grammar parser/QueryParser.jj; BoostQParserPlugin.java). Keys are
    analyzed terms; each multiplies that term's weight in the scoring kernel
    AND its WAND range bound (a boosted clause prunes consistently). With
    synonyms, a boost on a canonical term scales its whole group.

    synonyms: query-time expansion map {query term -> [synonym phrases]}, the
    SynonymGraphFilter position of the reference's default QUERY chain
    (managed-schema.xml:309). Scored with Lucene SynonymQuery semantics: a
    group's member terms pool their tf per document (saturated once) and share
    one idf computed from the max member df. min_match counts GROUPS.

    combine/tie: `{!maxscore}` semantics (search/MaxScoreQParser.java:53 —
    SHOULD clauses dismaxed with tiebreaker `tie`, MUST clauses summed
    through). WAND is unchanged: the per-range sum-of-term-bounds remains a
    valid upper bound for the dismax score because tie <= 1 implies
    max + tie * (sum - max) <= sum.
    """
    plan = plan_query(reader, reader.term_stats, query_text, k=k,
                      require_all=require_all, min_match=min_match,
                      synonyms=synonyms, boosts=boosts, similarity=similarity,
                      prohibited=prohibited, required=required,
                      combine=combine, tie=tie)
    if plan is None:
        return empty_df(spark, RANKED_SCHEMA)
    if mode not in ("exact", "wand"):
        raise ValueError(f"unknown mode: {mode}")

    if isinstance(filters, (list, tuple)) and not filters:
        filters = None  # empty fq list = no filter
    if filters is not None and filter_docids is not None:
        raise ValueError("pass filters OR filter_docids, not both")
    use_filter = filters is not None or filter_docids is not None

    index_dir = reader.index_dir
    # liveDocs mask (indexing/deletes.py): tombstoned docids are dropped
    # AFTER scoring, BEFORE top-k selection — stats (df/n_docs/avgdl) still
    # include deleted docs until merge, exactly like Lucene's soft deletes.
    from solr_spark.indexing.deletes import deleted_array

    dels = deleted_array(spark, index_dir)
    prune = mode == "wand"
    scan_terms = plan.scan_terms
    n_tasks = _kernel_tasks(plan.postings, reader, int(
        spark.conf.get("spark.sql.shuffle.partitions")))

    def spark_scan() -> DataFrame:
        # the scan as SQL text: one py4j call per step, where Column isin and
        # select cost ~1 ms per value (analyzed terms never hold `"` or `\`)
        buckets = sorted(set(_term_buckets(scan_terms,
                                           reader.config.num_term_buckets)))
        terms_sql = ", ".join('"%s"' % t for t in scan_terms)
        return reader.segments_df(spark).where(
            f"term_bucket IN ({', '.join(map(str, buckets))}) "
            f"AND term IN ({terms_sql})").selectExpr(*_SCAN_COLUMNS)

    if n_tasks == 1:
        # the one kernel task runs on the driver over a pyarrow read of the
        # scan terms' bucket files (no Spark job, no Python worker); above
        # the byte budget a JVM-only job collects the Spark scan as Arrow
        rows = reader.posting_rows(scan_terms, _SCAN_COLUMNS,
                                   max_bytes=DRIVER_SCAN_BYTES)
        if rows is None:
            rows = spark_scan().toArrow()
        allow = None
        if use_filter:
            from solr_spark.query.docsets import filter_words

            allow = filter_words(spark, reader, rows["range_id"].to_numpy(),
                                 filters, filter_docids, now)
        return _ranked(spark, index_dir, *_kernel_topk(
            plan, rows.to_pandas(), index_dir, dels, prune, allow))

    # the plan's one exchange: every row of a range meets in one kernel
    # call, which orders its ranges by WAND bound itself
    rows = spark_scan().repartition(n_tasks, "range_id")
    if use_filter:
        from solr_spark.query.docsets import docid_range_bitmaps
        from solr_spark.query.docsets import filter_docids as _compile_fq

        if filters is not None:
            filter_docids = _compile_fq(spark, reader, filters, now=now)
        # the fq words stay in the JVM: exchanged into the kernel's
        # partitions, so the shuffle join adds no exchange and no broadcast;
        # a range with no allowed doc never reaches the kernel
        rows = rows.join(docid_range_bitmaps(
            filter_docids, reader.config.range_shift, n_tasks)
            .hint("shuffle_hash"), "range_id")

    def topk_iter(batches):
        """This partition's posting rows (the query terms' rows of its
        ranges, each with its range's `filter_bits` under fq) -> its
        top-k."""
        frames = [b for b in batches if len(b)]
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            words = None
            if use_filter:
                first = pdf.drop_duplicates("range_id")
                words = dict(zip(first["range_id"], first["filter_bits"]))
            d, s = _kernel_topk(plan, pdf, index_dir, dels, prune, words)
            if len(d):
                yield pd.DataFrame({"docid": d, "score": s})

    return rank_topk(spark, reader, rows.mapInPandas(
        topk_iter, "docid long, score double"), plan.k)
