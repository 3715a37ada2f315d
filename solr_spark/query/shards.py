"""Multi-shard serving: shard-split a built index, merge per-shard top-k.

The reference's distributed-search topology in this engine's terms:

  * `shard_index` splits one built index into N self-contained shard
    directories by `range_id % N` (the posting layout is already chunked
    into docid ranges, so a shard is a clean subset of posting rows, norms
    rows, and forward rows — no re-encoding). Each shard carries a COPY of
    the GLOBAL dictionary and stats.json: per-shard scoring then uses global
    df/N/avgdl, which is exactly the ExactStatsCache design
    (solr/core/src/java/org/apache/solr/search/stats/ExactStatsCache.java:61)
    — without it, per-shard IDF diverges and merged ranks are wrong.
  * `ShardedSearcher` holds one LocalSearcher per shard and merges their
    top-k by (score desc, docid asc) — QueryComponent's two-phase
    GET_TOP_IDS flow with mergeIds' sorted hit queue
    (handler/component/QueryComponent.java:789,971, ShardFieldSortedHitQueue
    :924). The global top-k is a subset of the union of per-shard top-k's,
    so the merge is exact; results are rank- and score-identical to the
    unsharded searcher (pytest-asserted in tests/test_shards.py).

At 100-TB scale each shard directory lives on its own serving node; the
merge step is the coordinator. The split itself is a layout-only Spark job:
partition-pruned reads, no decode, no shuffle beyond the write.
"""

from __future__ import annotations

import heapq
import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from solr_spark.query.bm25 import IndexReader
from solr_spark.query.local import LocalSearcher


class _Desc:
    """Order-inverting key wrapper: lets a descending SortSpec clause ride
    inside an ascending tuple comparison for ANY comparable type (strings
    can't be negated the way numbers can)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v

    def __eq__(self, other):
        return self.v == other.v


def shard_index(spark: SparkSession, reader: IndexReader, out_dir: str,
                n_shards: int) -> list[str]:
    """Split a built index into n self-contained shard index dirs.

    Shard s owns every docid range with range_id % n_shards == s (range
    interleaving balances hot docid regions across shards). Postings, norms
    and forward rows are FILTERED COPIES (layout-only — blobs are moved, not
    re-encoded); the dictionary, stats.json and any tombstones are copied
    globally so every shard scores with corpus-wide statistics.
    """
    cfg = reader.config
    shift = cfg.range_shift
    shard_dirs = []
    seg = reader.segments_df(spark)
    norms = reader.norms(spark)
    fwd = reader.forward(spark)
    for s in range(n_shards):
        sd = os.path.join(out_dir, f"shard-{s:03d}")
        shard_dirs.append(sd)
        os.makedirs(sd, exist_ok=True)
        (seg.where(F.col("range_id") % n_shards == s)
            .write.partitionBy("term_bucket").mode("overwrite")
            .parquet(os.path.join(sd, "segments", "seg-000")))
        (norms.where(F.col("range_id") % n_shards == s)
              .write.mode("overwrite").parquet(os.path.join(sd, "norms")))
        (fwd.where(F.shiftright("docid", shift) % n_shards == s)
            .write.mode("overwrite")
            .parquet(os.path.join(sd, "analyzed", "batch-000")))
        # GLOBAL term dictionary + stats: the ExactStatsCache broadcast
        shutil.copytree(os.path.join(reader.index_dir, "dictionary"),
                        os.path.join(sd, "dictionary"), dirs_exist_ok=True)
        with open(os.path.join(reader.index_dir, "stats.json")) as f:
            stats = json.load(f)
        stats["shard"], stats["n_shards"] = s, n_shards
        with open(os.path.join(sd, "stats.json"), "w") as f:
            json.dump(stats, f, indent=2)
        with open(os.path.join(sd, "segments.json"), "w") as f:
            json.dump({"segments": ["seg-000"]}, f)
        deletes = os.path.join(reader.index_dir, "deletes")
        if os.path.isdir(deletes):
            shutil.copytree(deletes, os.path.join(sd, "deletes"),
                            dirs_exist_ok=True)
    return shard_dirs


class ShardedSearcher:
    """Coordinator over per-shard LocalSearchers: mergeIds for this engine.

    Every keyword argument of LocalSearcher.search (similarity, min_match,
    filters, ...) passes through; per-shard filter DocSets are computed on
    each shard's own forward rows, so the fq semantics are unchanged.
    """

    def __init__(self, shard_dirs: list[str],
                 cache_bytes: int = 256 << 20):
        self.shards = [LocalSearcher(IndexReader.open(d),
                                     cache_bytes=cache_bytes)
                       for d in shard_dirs]

    def search(self, query_text: str, k: int = 10, offset: int = 0,
               sort: str | None = None, **kw) -> list[dict]:
        """Merged top-k: rank/score-identical to the unsharded searcher.

        Each shard collects its local top-(offset+k) with GLOBAL stats (its
        dictionary and stats.json are corpus-wide copies); the coordinator
        k-way merges — by (score desc, docid asc) on the ranked path, or by
        the field SortSpec with docid tiebreak when `sort` is given (the
        ShardFieldSortedHitQueue order, handler/component/ShardDoc.java) —
        then pages: distributed paging fetches start+rows FROM EVERY shard
        and applies the offset at the merge (QueryComponent.mergeIds), never
        per-shard, so page boundaries are global. In a real deployment the
        per-shard calls fan out over the network; here they run in-process,
        same contract.
        """
        need = offset + k
        per_shard = [s.search(query_text, k=need, sort=sort, **kw)
                     for s in self.shards]
        if sort is None:
            def keyf(h):
                return (-h["score"], h["docid"])
        else:
            from solr_spark.query.fieldsort import parse_sort_spec

            spec = parse_sort_spec(sort)

            def keyf(h):
                key = []
                for name, asc in spec:
                    v = h[name]
                    if not asc:
                        # descending on arbitrary (incl. string) types:
                        # per-clause reverse via a sortable wrapper
                        v = _Desc(v)
                    key.append(v)
                key.append(h["docid"])
                return tuple(key)
        merged = heapq.nsmallest(need, heapq.merge(*per_shard, key=keyf),
                                 key=keyf)
        out = []
        for rank, hit in enumerate(merged[offset:], offset + 1):
            hit = dict(hit)
            hit["rank"] = rank
            out.append(hit)
        return out

    def select(self, request) -> dict:
        """Distributed /select: one JSON Request API body, every component
        fanned out and merged (SearchHandler.java:538-542 stage loop) —
        docs through the SortSpec-aware merged collector, facet blocks
        through the additive bucket merge. Same body and same result shape
        as LocalSearcher.select / the batch json_select."""
        from solr_spark.query.local import _parse_select_body

        p = _parse_select_body(request)
        with_score = (p["sort"] is not None and p["fields"] is not None
                      and "score" in p["fields"])
        docs = self.search(
            p["query"], k=p["limit"], offset=p["offset"], sort=p["sort"],
            filters=p["filters"] or None, now=p["now"],
            similarity=p["similarity"], with_score=with_score)
        if p["fields"] is not None:
            docs = self._project_fields(docs, p["fields"])
        if p["hl"]:
            # highlight resolves on the hit's owning shard (the stage loop
            # runs HighlightComponent shard-side in the reference)
            from solr_spark.analysis import analyze_text

            terms = analyze_text(p["query"],
                                 self.shards[0].reader.config)
            for h in docs:
                owner = self._owner(h["docid"])
                h["snippet"] = owner and owner.snippet(
                    h["docid"], terms, window_chars=p["hl_fragsize"])
        facets = {}
        if p["facet"]:
            facets = self.facets(p["facet"], query=p["query"],
                                 filters=p["filters"] or None, now=p["now"])
        return {"docs": docs, "facets": facets}

    def _owner(self, docid: int) -> LocalSearcher | None:
        """The shard holding `docid`: docids partition by range_id %
        n_shards (shard_index), so the owner is arithmetic; shard dirs a
        caller reordered are probed. None when no shard holds it."""
        shift = self.shards[0].reader.config.range_shift
        first = self.shards[(docid >> shift) % len(self.shards)]
        return next((s for s in (first, *self.shards)
                     if s._fwd_row(docid) is not None), None)

    def _project_fields(self, docs: list[dict], want: list[str]):
        """fl across shards: stored fields resolve on the hit's OWNING
        shard (`_owner`). One documentCache read per hit at most."""
        out = []
        for h in docs:
            stored = None
            row = {}
            for f in want:
                if f in h:
                    row[f] = h[f]
                    continue
                if stored is None:
                    owner = self._owner(h["docid"])
                    stored = owner.doc(h["docid"]) if owner else {}
                if f not in stored:
                    raise ValueError(
                        f"field {f!r} is neither a result column "
                        f"({sorted(h)}) nor a stored field "
                        f"({sorted(k for k in stored if k != 'text')})")
                row[f] = stored[f]
            out.append(row)
        return out

    # ---------------------------------------------- distributed components
    # The reference distributes EVERY search component through the stage
    # loop (handler/component/SearchHandler.java:538-542): facets, suggest,
    # spellcheck and RTG all fan out and merge, not just ranked search.

    def facets(self, facet: dict, query: str | None = None,
               filters=None, now=None) -> dict:
        """Distributed JSON facets: every shard computes its UNLIMITED raw
        bucket table over its own rows (FacetComponent's per-shard
        refinement-free exact path — counts are per-shard disjoint, so the
        merge is a plain sum); the coordinator combines buckets, finalizes
        non-additive stats (avg = merged sum / merged count), then applies
        mincount/sort/limit once, globally. `unique` does not merge exactly
        across shards (the reference refines or approximates via hll) and
        raises here; use the batch path for exact cross-shard uniques.
        """
        shard_req, finalize = {}, {}
        for name, spec in facet.items():
            sub, fin = self._decompose(name, spec)
            shard_req.update(sub)
            finalize[name] = (list(sub), fin)
        per_shard = [s.facets(shard_req, query=query, filters=filters,
                              now=now) for s in self.shards]
        return {name: fin([{sn: ps[sn] for sn in subnames}
                           for ps in per_shard])
                for name, (subnames, fin) in finalize.items()}

    @staticmethod
    def _merge_stat(stat: str, vals: list):
        vals = [v for v in vals if v is not None]
        if not vals:
            return None
        if stat in ("sum", "sumsq", "count"):
            return sum(vals)
        if stat == "min":
            return min(vals)
        if stat == "max":
            return max(vals)
        raise ValueError(f"stat {stat!r} is not shard-additive")

    @classmethod
    def _decompose(cls, name: str, spec):
        """One facet spec -> ({per-shard sub-request name: raw spec},
        finalize fn over the list of per-shard {sub-name: rows} results).

        avg(col) decomposes to sum(col)+count(col) on the shards and
        re-divides after the merge; unique raises (not shard-additive).
        """
        import re as _re

        def parse_stat(s):
            m = _re.fullmatch(r"\s*(\w+)\(\s*([\w.]+)\s*\)\s*", s)
            if not m:
                raise ValueError(f"bad facet stat {s!r}")
            if m.group(1) == "unique":
                raise ValueError(
                    "unique() does not merge exactly across shards — "
                    "use the batch facet path (or hll) for cross-shard "
                    "distinct counts")
            return m.groups()

        if isinstance(spec, str):
            # scalar shorthand: avg decomposes to sum+count sub-requests;
            # everything additive ships as-is and merges by _merge_stat
            stat, col = parse_stat(spec)

            def fin_scalar(parts):
                if stat == "avg":
                    s = cls._merge_stat(
                        "sum",
                        [p[f"{name}__sum"][0]["value"] for p in parts])
                    c = cls._merge_stat(
                        "count",
                        [p[f"{name}__cnt"][0]["value"] for p in parts])
                    return [{"value": (s / c) if c else None}]
                vals = [p[name][0]["value"] for p in parts]
                return [{"value": cls._merge_stat(stat, vals)}]
            return ({f"{name}__sum": f"sum({col})",
                     f"{name}__cnt": f"count({col})"}
                    if stat == "avg" else {name: spec}), fin_scalar

        kind = spec.get("type")
        if kind == "query":
            def fin_q(parts):
                return [{"count": sum(p[name][0]["count"] for p in parts)}]
            return {name: spec}, fin_q
        if kind == "range":
            def fin_r(parts):
                acc = {}
                for p in parts:
                    for r in p[name]:
                        acc[r["bucket_start"]] = \
                            acc.get(r["bucket_start"], 0) + r["count"]
                return [{"bucket_start": b, "count": c}
                        for b, c in sorted(acc.items())]
            return {name: spec}, fin_r
        if kind != "terms":
            raise ValueError(f"unsupported sharded facet type {kind!r}")

        metrics = dict(spec.get("facet") or {})
        shard_metrics, plan = {}, {}
        for alias, ms in metrics.items():
            if isinstance(ms, dict):
                raise ValueError(
                    f"sub-facet trees ({alias!r}) do not fan out across "
                    "shards here — per-bucket sub-buckets need bucket-"
                    "aligned merging; use LocalSearcher.facets on one "
                    "shard, or the batch facet_tree path")
            stat, col = parse_stat(ms)
            if stat == "avg":
                shard_metrics[f"__{alias}_sum"] = f"sum({col})"
                shard_metrics[f"__{alias}_cnt"] = f"count({col})"
                plan[alias] = ("avg", f"__{alias}_sum", f"__{alias}_cnt")
            else:
                shard_metrics[f"__{alias}"] = ms
                plan[alias] = (stat, f"__{alias}", None)
        raw = dict(spec)
        raw["limit"] = -1
        raw["mincount"] = 1
        raw.pop("sort", None)
        raw["facet"] = shard_metrics

        def fin_terms(parts):
            acc: dict = {}
            for p in parts:
                for r in p[name]:
                    b = acc.setdefault(r["bucket"], {"count": 0})
                    b["count"] += r["count"]
                    for kk, vv in r.items():
                        if kk in ("bucket", "count"):
                            continue
                        b.setdefault(kk, []).append(vv)
            rows = []
            for bucket, agg in acc.items():
                row = {"bucket": bucket, "count": agg["count"]}
                for alias, (stat, a, b2) in plan.items():
                    if stat == "avg":
                        s = cls._merge_stat("sum", agg.get(a, []))
                        c = cls._merge_stat("count", agg.get(b2, []))
                        row[alias] = (s / c) if c else None
                    else:
                        row[alias] = cls._merge_stat(stat, agg.get(a, []))
                rows.append(row)
            # the per-shard __missing__ rows merged like any bucket; pull
            # the merged row out of the sorted order and re-append last,
            # the batch terms_facet shape
            missing_row = None
            if spec.get("missing"):
                for i, r in enumerate(rows):
                    if r["bucket"] == "__missing__":
                        missing_row = rows.pop(i)
                        break
            mincount = int(spec.get("mincount", 1))
            rows = [r for r in rows if r["count"] >= mincount]
            sort = spec.get("sort", "count desc")
            sname, sdir = (sort.split() + ["desc"])[:2]
            rev = sdir.lower() == "desc"
            if sname == "index":
                rows.sort(key=lambda r: r["bucket"], reverse=rev)
            elif sname == "count":
                rows.sort(key=lambda r: r["bucket"])
                rows.sort(key=lambda r: r["count"], reverse=rev)
            else:
                rows.sort(key=lambda r: r["bucket"])
                rows.sort(key=lambda r: r[sname], reverse=rev)
            limit = int(spec.get("limit", 10))
            rows = rows[:limit] if limit >= 0 else rows
            if missing_row is not None:
                rows.append(missing_row)
            return rows
        return {name: raw}, fin_terms

    def suggest(self, prefix: str, k: int = 10) -> list[dict]:
        """Distributed suggest: per-shard top-k, merged by (df desc, term).
        Shard dictionaries are GLOBAL copies (the ExactStatsCache layout),
        so agreeing terms are deduped by max-df — exact today, and still
        sane if per-shard NRT adds ever let dictionaries diverge."""
        return self._merge_suggest(
            [s.suggest(prefix, k=k) for s in self.shards], k)

    def suggest_infix(self, query: str, k: int = 10,
                      highlight: bool = True) -> list[dict]:
        return self._merge_suggest(
            [s.suggest_infix(query, k=k, highlight=highlight)
             for s in self.shards], k)

    def suggest_fuzzy(self, word: str, k: int = 10,
                      max_edits: int = 1) -> list[dict]:
        """Distributed spellcheck candidates (SpellCheckComponent's
        distributed merge: candidates pooled across shards, ranked by
        (dist asc, df desc, term)). Duplicate terms dedupe by max df."""
        pool: dict[str, dict] = {}
        for s in self.shards:
            for r in s.suggest_fuzzy(word, k=k, max_edits=max_edits):
                cur = pool.get(r["term"])
                if cur is None or r["df"] > cur["df"]:
                    pool[r["term"]] = r
        return sorted(pool.values(),
                      key=lambda r: (r["dist"], -r["df"], r["term"]))[:k]

    @staticmethod
    def _merge_suggest(per_shard: list[list[dict]], k: int) -> list[dict]:
        pool: dict[str, dict] = {}
        for rows in per_shard:
            for r in rows:
                cur = pool.get(r["term"])
                if cur is None or r["df"] > cur["df"]:
                    pool[r["term"]] = r
        return sorted(pool.values(),
                      key=lambda r: (-r["df"], r["term"]))[:k]

    def realtime_get(self, keys: list) -> list[dict]:
        """Distributed /get: the key's owning shard is not derivable from
        (conv_id, turn_idx) under range interleaving, so the point read
        fans out (each shard's pyarrow scan pushes conv_id IN (...) and
        misses cheaply); per key the LATEST live version (max docid) wins —
        RealTimeGetComponent's version rule across shards."""
        from solr_spark.query.rtg import realtime_get as _rtg

        best: dict = {}
        for s in self.shards:
            for row in _rtg(s.reader.index_dir, keys):
                key = (row["conv_id"], int(row["turn_idx"]))
                if key not in best or row["docid"] > best[key]["docid"]:
                    best[key] = row
        return [best[(c, int(t))] for c, t in keys
                if (c, int(t)) in best]


__all__ = ["shard_index", "ShardedSearcher"]
