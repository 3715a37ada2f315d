"""Driver-local serving mode: millisecond warm top-k over the same index.

Role in the architecture: the Spark path is the BATCH posture — every
scored front-end ranks through `bm25.rank_topk` into a local relation; a
small `bm25_topk` runs no Spark job at all (its postings read with pyarrow
and scored on the driver, an fq's bitmaps cached per reader after one job),
but every call still pays the Spark session's local-relation build, and a
larger query its scan and kernel jobs. The
reference serves queries from a per-shard in-process searcher
(SolrIndexSearcher over memory-mapped segment files); `LocalSearcher` is that
role restated over THIS engine's artifacts: it memory-loads the small
structures (norms, doc map, term dictionary — bytes per doc / per term),
and on a postings miss reads only the query terms' `term_bucket` files of
the segments live at open (`IndexReader.posting_rows`, the pruning the
Spark path gets from Catalyst), decoding each miss in one batched
`codec.decode_postings` call.

Scoring is the Spark path's own core, not a copy of it: the query plan is
`bm25.plan_query` (its dictionary lookup served by the resident dictionary)
and the range driver `bm25.score_ranges` is shared; serving supplies
resident norms, cached postings and no bounds, so it scores every range the
query touches (no WAND skipping). Results are rank- and score-identical to
`bm25_topk` (asserted in tests/test_local.py).

At 100-TB scale this object is one SHARD's searcher: a serving tier holds one
LocalSearcher per index shard (the index layout is already hive-partitioned
and range-keyed for that) and merges per-shard top-k — the reference's
distributed-search topology. It is NOT a driver-side replacement for the
distributed path on corpus-sized scans; it exists so point queries don't pay
the Spark scheduler.
"""

from __future__ import annotations

import heapq
import os
from functools import partial

import numpy as np

from solr_spark.analysis import analyze_text
from solr_spark.codec.smallfloat import decode_norms
from solr_spark.codec.varint import decode_postings
from solr_spark.indexing.build import live_segments
from solr_spark.indexing.deletes import deleted_array
from solr_spark.query.bm25 import IndexReader, plan_query, score_ranges
from solr_spark.query.parser import LuceneQueryParser


class _PandasFilterEvaluator(LuceneQueryParser):
    """Serving-tier twin of the classic filter parser: same lexer + grammar
    (inherited — `&`/`|`/`~` compose numpy bool arrays exactly like Catalyst
    Columns), leaves evaluated against the resident forward table. This keeps
    LocalSearcher.search(filters=...) DocSet-identical to the distributed
    filter compiler (query/docsets.py::filter_docids) without a Spark job.
    """

    def __init__(self, table, default_field: str = "text", now=None):
        super().__init__(default_field, {default_field}, now=now)
        self._tbl = table  # pandas DataFrame, one row per docid (dense order)

    def _series(self, fld: str):
        if fld not in self._tbl.columns:
            raise ValueError(f"unknown filter field {fld!r} "
                             f"(stored columns: {list(self._tbl.columns)})")
        return self._tbl[fld]

    def _pyval(self, s: str):
        import re as _re

        if _re.match(r"^-?\d+(\.\d+)?$", s):
            return float(s) if "." in s else int(s)
        return s

    def _leaf(self, t):
        import re as _re

        m = t.m
        if t.kind == "range":
            from solr_spark.query.parser import _DATEMATH_RE

            def endpoint(v: str):
                if _DATEMATH_RE.match(v):
                    # same evaluation as the distributed parser's date_math
                    # Column (both walk DateMathParser.java semantics)
                    from solr_spark.functions.datemath import date_math_py

                    if self.now is None and v.startswith("NOW"):
                        import datetime as _dt

                        return date_math_py(v, now=_dt.datetime.now(
                            _dt.timezone.utc).replace(tzinfo=None))
                    return date_math_py(v, now=self.now)
                return self._pyval(v)

            s = self._series(m["fld_r"])
            mask = np.ones(len(s), dtype=bool)
            if m["lo"] != "*":
                lo = endpoint(m["lo"])
                mask &= (s >= lo).to_numpy() if m["lb"] == "[" \
                    else (s > lo).to_numpy()
            if m["hi"] != "*":
                hi = endpoint(m["hi"])
                mask &= (s <= hi).to_numpy() if m["rb"] == "]" \
                    else (s < hi).to_numpy()
            return mask
        if t.kind == "regexq":
            return self._series(m["fld_re"]).astype(str) \
                .str.contains(m["rx"], regex=True, na=False).to_numpy()
        if t.kind == "phrase":
            fld = m["fld_p"] or self.default_field
            s = self._series(fld)
            if fld in self.text_fields:
                return s.astype(str).str.contains(
                    m["ph"], regex=False, na=False).to_numpy()
            return (s == m["ph"]).to_numpy()
        fld = m["fld_t"] or self.default_field
        val = m["val"]
        boosted = _re.match(r"^(.+)\^\d+(?:\.\d+)?$", val)
        if boosted:
            val = boosted.group(1)
        fuzzy = _re.match(r"^(.*?)~(\d*)$", val)
        s = self._series(fld)
        if fuzzy and fuzzy.group(1):
            dist = int(fuzzy.group(2) or 2)
            word = fuzzy.group(1)
            uniq = {u: _levenshtein_capped(str(u), word, dist) <= dist
                    for u in s.unique()}
            return s.map(uniq).to_numpy().astype(bool)
        if "*" in val or "?" in val:
            rx = "^" + "".join(
                ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                for ch in val) + "$"
            return s.astype(str).str.contains(rx, regex=True,
                                              na=False).to_numpy()
        if fld in self.text_fields:
            rx = rf"(?:^|\W){_re.escape(val)}(?:\W|$)"
            return s.astype(str).str.contains(rx, regex=True,
                                              na=False).to_numpy()
        return (s == self._pyval(val)).to_numpy()


def _parse_select_body(request) -> dict:
    """Normalize a JSON Request API /select body for the serving tier —
    the same key set, unknown-key validation, and param-ref resolution the
    batch path applies (jsonapi.py; RequestUtil.java:263 unknown-key 400).
    Shared by LocalSearcher.select and ShardedSearcher.select."""
    import json as _json

    from solr_spark.query.jsonapi import (_check_keys, _check_params,
                                          _resolve_query_refs)

    req = _json.loads(request) if isinstance(request, str) else dict(request)
    _check_keys(req, {"query", "filter", "fields", "limit", "offset",
                      "sort", "facet", "params", "queries"},
                "select request")
    _check_params(req, {"NOW", "similarity", "hl", "hl.fragsize"},
                  "select request")
    req = _resolve_query_refs(req, "select request")
    if "query" not in req:
        raise ValueError("select request needs a 'query'")
    filters = req.get("filter", [])
    if isinstance(filters, str):
        filters = [filters]
    params = req.get("params", {})
    sort = (req.get("sort") or "").strip()
    if sort in ("score desc", "score"):
        sort = ""  # ordering by score IS the default collector
    return {"query": req["query"], "filters": list(filters),
            "offset": int(req.get("offset", 0)),
            "limit": int(req.get("limit", 10)),
            "sort": sort or None, "now": params.get("NOW"),
            "similarity": params.get("similarity", "bm25"),
            "fields": list(req["fields"]) if "fields" in req else None,
            "facet": req.get("facet"),
            "hl": bool(params.get("hl", False)),
            "hl_fragsize": int(params.get("hl.fragsize", 30))}


class LocalSearcher:
    """In-process top-k searcher over one index (or one shard of one).

    cache_bytes bounds the decoded-postings LRU (default 256 MiB): a
    hot-vocabulary serving workload can no longer grow the cache toward the
    full decoded index — entries evict least-recently-used once the DECODED
    byte size (numpy array bytes, the real resident cost) exceeds the budget.

    Serving caches (the SolrIndexSearcher cache trio, reference:
    solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:164
    filterCache / :166 queryResultCache; solrconfig.xml <filterCache>,
    <queryResultCache>, <queryResultWindowSize>):

      * filterCache — compiled fq DocSets (dense bool masks) keyed by the
        filter-string tuple (+ the date-math NOW anchor), entry-count LRU.
        Reusing a hot filter across scored queries skips the forward-table
        evaluation entirely, exactly the reference's
        SolrIndexSearcher.getProcessedFilter flow (:1254).
      * queryResultCache — ranked result windows keyed by (analyzed query,
        filters, similarity, min-match). A request for k rows fetches and
        caches ceil(k / query_result_window) * query_result_window ranks so
        the NEXT page of the same query is a cache hit (queryResultWindowSize
        rounding). Only string-keyed requests cache (a caller-supplied
        filter_mask array or similarity OBJECT is uncacheable, like Solr's
        cache=false queries).
      * documentCache role — subsumed by the resident forward table:
        ``doc(docid)`` serves stored fields from memory after the first
        filtered/doc fetch loads it.

    `cache_info()` reports hits/misses/evictions per cache (the admin
    cache-stats surface).
    """

    def __init__(self, reader: IndexReader, cache_bytes: int = 256 << 20,
                 filter_cache_size: int = 512,
                 query_result_cache_size: int = 512,
                 query_result_window: int = 20):
        import pyarrow.parquet as pq

        self.reader = reader
        self.cfg = reader.config
        idx = reader.index_dir

        # norms: range_id -> float64 doc-length array (1-4 bytes/doc on disk)
        nt = pq.read_table(os.path.join(idx, "norms"))
        self._dls: dict[int, np.ndarray] = {
            int(rid): decode_norms(blob, self.cfg.lucene_norms)
            for rid, blob in zip(nt["range_id"].to_numpy(),
                                 nt["norm_bytes"].to_pylist())}

        # doc map sorted by docid. A full index has dense docids 0..N-1; a
        # SHARD of one (query/shards.py) holds an interleaved subset, so
        # docid -> row resolves via searchsorted over the sorted id array
        # (dense indices degrade to the identity lookup).
        dm = pq.ParquetDataset(os.path.join(idx, "analyzed")).read(
            columns=["docid", "conv_id", "turn_idx"])
        order = np.argsort(dm["docid"].to_numpy())
        self._docids = dm["docid"].to_numpy()[order]
        self._conv = dm["conv_id"].to_numpy(zero_copy_only=False)[order]
        self._turn = dm["turn_idx"].to_numpy()[order]
        self._fwd = None  # full forward table, loaded on first filtered query

        # term dictionary, fully resident (bytes per unique term). A sharded
        # deployment with a huge dictionary would keep this pruned-on-read
        # like the postings below; at per-shard sizes resident is faster.
        dt = pq.ParquetDataset(os.path.join(idx, "dictionary")).read(
            columns=["term", "df", "cf"])
        self._df = dict(zip(dt["term"].to_pylist(), dt["df"].to_numpy()))
        self._cf = dict(zip(dt["term"].to_pylist(), dt["cf"].to_numpy()))

        # the live segments at open: postings misses read these, through the
        # reader's one posting fetch (IndexReader.posting_rows)
        self._segments = live_segments(idx)
        self._deleted = deleted_array(None, idx)
        # per-term postings cache (the SolrIndexSearcher filter/queryResult
        # cache role): term -> [(range_id, offsets, tfs)]. LRU, bounded by
        # DECODED bytes; hot query terms skip the parquet scan entirely.
        from collections import OrderedDict

        self._postings_cache: OrderedDict[str, list] = OrderedDict()
        self._cache_bytes_cap = int(cache_bytes)
        self._cache_bytes = 0
        # filterCache / queryResultCache (entry-count LRU, Solr default-ish
        # sizes). Values: filter -> dense bool mask; query-result ->
        # (ranked rows, exhausted flag).
        self._filter_cache: OrderedDict[tuple, np.ndarray] = OrderedDict()
        self._filter_cache_size = int(filter_cache_size)
        self._qr_cache: OrderedDict[tuple, tuple] = OrderedDict()
        self._qr_cache_size = int(query_result_cache_size)
        self._qr_window = max(1, int(query_result_window))
        self._cache_stats = {
            name: {"hits": 0, "misses": 0, "evictions": 0}
            for name in ("filter", "query_result")}

    def clear_query_result_cache(self) -> None:
        """Drop cached ranked windows (commit-time cache invalidation role:
        the reference throws queryResultCache away on newSearcher). Postings
        and filter caches survive — those are the autowarmed tier."""
        self._qr_cache.clear()

    def cache_info(self) -> dict:
        """Per-cache hits/misses/evictions + current sizes (the admin
        cache-stats surface; reference: SolrCache getStatistics)."""
        out = {k: dict(v) for k, v in self._cache_stats.items()}
        out["filter"]["size"] = len(self._filter_cache)
        out["query_result"]["size"] = len(self._qr_cache)
        out["postings"] = {"size": len(self._postings_cache),
                           "bytes": self._cache_bytes}
        return out

    def _cache_get(self, name: str, cache: "OrderedDict", key: tuple):
        if key in cache:
            self._cache_stats[name]["hits"] += 1
            cache.move_to_end(key)
            return cache[key]
        self._cache_stats[name]["misses"] += 1
        return None

    def _cache_put(self, name: str, cache: "OrderedDict", key: tuple, val,
                   cap: int) -> None:
        cache[key] = val
        cache.move_to_end(key)
        while len(cache) > cap:
            cache.popitem(last=False)
            self._cache_stats[name]["evictions"] += 1

    def doc(self, docid: int) -> dict | None:
        """Stored fields for one docid (the documentCache role: served from
        the resident forward table; None for unknown/never-assigned ids)."""
        i = self._fwd_row(docid)
        if i is None:
            return None
        return {k: (v.item() if hasattr(v, "item") else v)
                for k, v in self._fwd.iloc[i].items()}

    def _fwd_row(self, docid: int) -> int | None:
        """The resident forward table's row of `docid` (a binary search of
        its sorted docids), or None for an unknown id."""
        self._load_forward()
        docids = self._fwd["docid"].to_numpy()
        i = int(np.searchsorted(docids, docid))
        if i >= len(docids) or int(docids[i]) != int(docid):
            return None
        return i

    def _load_forward(self) -> None:
        if self._fwd is None:
            import pyarrow.parquet as pq

            tbl = pq.ParquetDataset(
                os.path.join(self.reader.index_dir, "analyzed")).read()
            pdf = tbl.to_pandas().sort_values("docid").reset_index(drop=True)
            self._fwd = pdf.rename(columns={"toks": "text"})

    def _postings(self, terms: list[str]) -> dict[str, list]:
        """term -> [(range_id, offsets, tfs)] for the query's terms. Cache
        misses read the missing terms' rows of the open segments' term_bucket
        files (IndexReader.posting_rows) and decode them all in ONE batched
        `decode_postings` call; hits cost a dict lookup."""
        cache = self._postings_cache
        missing = [t for t in terms if t not in cache]
        if missing:
            tbl = self.reader.posting_rows(
                missing, ["term", "range_id", "n_docs", "doc_gaps", "tfs"],
                self._segments)
            got: dict[str, list] = {t: [] for t in missing}
            if tbl.num_rows:
                rids = tbl["range_id"].to_numpy()
                # range base 0: the decoded docids are offsets in the range
                off, tf, bounds = decode_postings(
                    tbl["doc_gaps"].to_pylist(), tbl["tfs"].to_pylist(),
                    np.zeros_like(rids), tbl["n_docs"].to_numpy(), 0)
                tf = tf.astype(np.float64)
                # cache DECODED, not blobs: offsets+tf as ready numpy arrays
                # turn a repeat query into pure accumulate. Copies, so every
                # entry owns its memory and cache_bytes is the resident cost.
                for term, rid, lo, hi in zip(
                        tbl["term"].to_pylist(), rids.tolist(),
                        bounds[:-1].tolist(), bounds[1:].tolist()):
                    got[term].append((rid, off[lo:hi].copy(),
                                      tf[lo:hi].copy()))
            for t, rows in got.items():
                cache[t] = rows
                self._cache_bytes += sum(
                    d.nbytes + tf.nbytes for _, d, tf in rows)
        out = {}
        for t in terms:
            out[t] = cache[t]
            cache.move_to_end(t)
        # evict LRU-first down to the byte budget — current query's terms
        # were just moved to the end, so they only evict when a single query
        # alone overshoots the budget (len guard keeps them resident then)
        while (self._cache_bytes > self._cache_bytes_cap
               and len(cache) > len(terms)):
            _, old = cache.popitem(last=False)
            self._cache_bytes -= sum(
                d.nbytes + tf.nbytes for _, d, tf in old)
        return out

    def filter_mask(self, filters, now=None) -> np.ndarray:
        """fq DocSet as a dense bool array indexed by docid (the BitDocSet
        role) — classic filter strings evaluated over the resident forward
        table by the pandas twin of the distributed filter compiler. Cheap to
        reuse across queries: compute once, pass to search(filter_mask=...).
        `now` anchors date-math endpoints (`ts:[NOW-7DAYS TO *]`).

        Masks cache in the filterCache (keyed by the sorted filter tuple +
        `now`); a NOW-relative filter with now=None is uncacheable — it
        re-anchors to wall clock every call, so it recomputes every call."""
        if isinstance(filters, str):
            filters = [filters]
        filters = list(filters)
        cacheable = now is not None or not any("NOW" in f for f in filters)
        key = (tuple(sorted(filters)), now) if cacheable else None
        if key is not None:
            hit = self._cache_get("filter", self._filter_cache, key)
            if hit is not None:
                return hit
        self._load_forward()
        ev = _PandasFilterEvaluator(self._fwd, now=now)
        rows = np.ones(len(self._fwd), dtype=bool)
        for f in filters:
            rows &= ev.parse(f)
        mask = self._docid_mask(self._fwd["docid"].to_numpy()[rows])
        if key is not None:
            self._cache_put("filter", self._filter_cache, key, mask,
                            self._filter_cache_size)
        return mask

    def search(self, query_text: str, k: int = 10,
               similarity: str | object = "bm25",
               require_all: bool = False, min_match: int | None = None,
               filters=None, filter_mask: np.ndarray | None = None,
               now=None, offset: int = 0, sort: str | None = None,
               with_score: bool = False):
        """Top-k as a list of dicts (conv_id, turn_idx, docid, score, rank) —
        same contract and same scores as bm25_topk, no Spark session.

        sort: a field SortSpec ("ts desc, n_chars asc") switches from the
        score collector to the TopFieldCollector role (the serving twin of
        query/fieldsort.py::field_sorted_search — same match DocSet, ordered
        by the fields with docid tiebreak; rows carry the sort field values,
        and `with_score=True` additionally scores exactly the returned
        page). Ordering by score IS the default collector — a sort spec
        naming score raises.

        filters / filter_mask: q+fq — classic filter strings (compiled via
        filter_mask()) or a precomputed dense bool DocSet; masked after
        scoring, before top-k selection, exactly like the distributed kernel.
        `now` anchors date-math filter endpoints (`ts:[NOW-7DAYS TO *]`).
        offset pages by rank (ranks offset+1 .. offset+k are returned).

        Results cache in the queryResultCache: the fetch depth rounds up to
        the next multiple of query_result_window (queryResultWindowSize), so
        the next page of the same request is a cache hit. A caller-supplied
        filter_mask array or similarity object bypasses the cache.
        """
        if filters is not None and filter_mask is not None:
            raise ValueError("pass filters OR filter_mask, not both")
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        flist = [filters] if isinstance(filters, str) else \
            list(filters) if filters is not None else []
        if sort is not None:
            if flist:
                filter_mask = self.filter_mask(flist, now=now)
            return self._field_sorted(query_text, sort, k, offset,
                                      filter_mask, with_score, similarity,
                                      require_all, min_match)
        need = offset + k
        cacheable = (filter_mask is None and isinstance(similarity, str)
                     and (now is not None
                          or not any("NOW" in f for f in flist)))
        key = None
        if cacheable:
            key = (query_text, tuple(sorted(flist)), similarity,
                   bool(require_all), min_match, now)
            hit = self._qr_cache.get(key)
            if hit is not None and (len(hit[0]) >= need or hit[1]):
                self._cache_stats["query_result"]["hits"] += 1
                self._qr_cache.move_to_end(key)
                return [dict(r, rank=offset + i + 1)
                        for i, r in enumerate(hit[0][offset:need])]
            # absent, or cached window too shallow for this page: refetch
            self._cache_stats["query_result"]["misses"] += 1
        if flist:
            filter_mask = self.filter_mask(flist, now=now)
        k_fetch = -(-need // self._qr_window) * self._qr_window \
            if key is not None else need
        rows = self._scored_topk(query_text, k_fetch, similarity,
                                 require_all, min_match, filter_mask)
        if key is not None:
            self._cache_put("query_result", self._qr_cache, key,
                            (rows, len(rows) < k_fetch), self._qr_cache_size)
        return [dict(r, rank=offset + i + 1)
                for i, r in enumerate(rows[offset:need])]

    def xml_filter_mask(self, xml: str) -> np.ndarray:
        """`{!xml}` fq on the serving tier: compile a CoreParser XML query
        (query/xmlquery.py element set incl. the span family) against the
        resident forward table into the dense docid BitDocSet `search()`
        takes as filter_mask — the serving twin of xml_query_docids,
        semantics-identical (parity pytest in tests/test_xmlquery.py)."""
        from solr_spark.query.xmlquery import xml_match_rows

        self._load_forward()
        rows = xml_match_rows(self._fwd, xml, config=self.cfg)
        return self._docid_mask(self._fwd["docid"].to_numpy()[rows])

    def _docid_mask(self, docids: np.ndarray) -> np.ndarray:
        """`docids` as the docid-indexed dense mask (the BitDocSet) over the
        resident forward table's docid space: works for full indexes
        (docids dense) and shards (interleaved subset) alike."""
        fwd = self._fwd["docid"]
        mask = np.zeros(int(fwd.max()) + 1 if len(fwd) else 0, dtype=bool)
        mask[docids] = True
        return mask

    def select(self, request) -> dict:
        """The full /select contract on the serving tier: ONE JSON Request
        API body — the same body `jsonapi.json_select` takes on the batch
        path — answered entirely from the resident structures, no Spark job.

        Reference: handler/component/SearchHandler.java:104-118 — the
        component pipeline runs QueryComponent and FacetModule against the
        SAME q+fq DocSet per request; RequestUtil.java's body keys
        (query/filter/fields/sort/offset/limit/params/facet/queries).
        `params.hl` adds a HighlightComponent snippet per page doc (the
        same first-best-fragment semantics as the batch
        components.highlight Column — parity-pinned), with
        `params["hl.fragsize"]` as the context window. Returns
        {"docs": list[dict], "facets": {name: list[dict]}} with the batch
        twins' column names, so results compare across tiers
        (pytest-pinned in tests/test_local.py).
        """
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
            terms = analyze_text(p["query"], self.cfg)
            for h in docs:
                h["snippet"] = self.snippet(h["docid"], terms,
                                            window_chars=p["hl_fragsize"])
        facets = {}
        if p["facet"]:
            facets = self.facets(p["facet"], query=p["query"],
                                 filters=p["filters"] or None, now=p["now"])
        return {"docs": docs, "facets": facets}

    def snippet(self, docid: int, terms, window_chars: int = 30,
                tag: str = "em") -> "str | None":
        """HighlightComponent on the serving tier: first matching fragment
        of the doc's resident text with +-window_chars context, matches
        wrapped in <tag>. EXACTLY the batch components.highlight contract
        (same patterns), so tiers agree snippet-for-snippet; None when no
        term matches or the docid is unknown."""
        import re as _re

        i = self._fwd_row(docid)
        if i is None:
            return None
        text = str(self._fwd.iloc[i]["text"])
        alts = "|".join(_re.escape(t)
                        for t in sorted(terms, key=len, reverse=True))
        if not alts:
            return None
        m = _re.search(
            rf"(?i).{{0,{window_chars}}}\b({alts})\b.{{0,{window_chars}}}",
            text)
        if m is None:
            return None
        return _re.sub(rf"(?i)\b({alts})\b", rf"<{tag}>\1</{tag}>",
                       m.group(0))

    def _project_fields(self, docs: list[dict], want: list[str]):
        """fl on the serving page: result keys pass through, any STORED
        field resolves from the resident forward table (documentCache role);
        unknown names raise, like the batch path's fields validation."""
        self._load_forward()
        stored = set(self._fwd.columns)
        result_keys = {"conv_id", "turn_idx", "docid", "score", "rank"}
        unknown = [f for f in want if f not in stored
                   and f not in result_keys]
        if unknown:
            raise ValueError(
                f"fields {unknown} are neither result columns "
                f"({sorted(result_keys)}) nor stored fields "
                f"({sorted(c for c in stored if c != 'text')})")
        out = []
        for h in docs:
            row = {}
            for f in want:
                if f in h:
                    row[f] = h[f]
                else:
                    v = self._fwd.iloc[self._fwd_row(h["docid"])][f]
                    row[f] = v.item() if hasattr(v, "item") else v
            out.append(row)
        return out

    def _term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """plan_query's dictionary lookup: the resident dictionary."""
        return {t: (int(self._df[t]), int(self._cf[t]))
                for t in terms if t in self._df}

    def _match_rows(self, query_text: str | None,
                    filter_mask: "np.ndarray | None" = None,
                    require_all: bool = False,
                    min_match: int | None = None) -> np.ndarray:
        """The q (+fq) DocSet minus tombstones as a ROW mask over the
        resident forward table. q matches the docs holding at least the
        plan's min_match query terms, resolved from the postings (the
        serving twin of query/fieldsort.py::scored_match_docids); a None or
        `*:*` query matches every doc."""
        self._load_forward()
        docids = self._fwd["docid"].to_numpy()
        rows = np.ones(len(docids), dtype=bool)
        if query_text and query_text != "*:*":
            plan = plan_query(self.reader, self._term_stats, query_text,
                              k=self.reader.n_docs, require_all=require_all,
                              min_match=min_match)
            if plan is None:
                return np.zeros(len(docids), dtype=bool)
            hits = np.zeros(int(docids.max()) + 1 if len(docids) else 0,
                            dtype=np.int32)
            shift = self.cfg.range_shift
            for lst in self._postings(list(plan.terms)).values():
                for rid, off, _tf in lst:
                    hits[(rid << shift) + off] += 1
            rows = hits[docids] >= plan.min_match
        if filter_mask is not None:
            m = np.zeros(len(docids), dtype=bool)
            in_r = docids < len(filter_mask)
            m[in_r] = filter_mask[docids[in_r]]
            rows &= m
        if len(self._deleted):
            rows &= ~np.isin(docids, self._deleted)
        return rows

    def _field_sorted(self, query_text: str, sort: str, k: int, offset: int,
                      filter_mask: "np.ndarray | None", with_score: bool,
                      similarity, require_all: bool,
                      min_match: int | None):
        """Serving twin of query/fieldsort.py::field_sorted_search: the q
        (+fq) match rows of the resident forward table, stable-sorted by the
        field spec with docid tiebreak; only the returned page is scored.
        Match semantics are the scored collector's (query terms under
        min_match / require_all) — the match mask comes from the POSTINGS,
        like the batch twin."""
        from solr_spark.query.fieldsort import parse_sort_spec

        self._load_forward()
        tbl = self._fwd
        spec = parse_sort_spec(sort, sortable=set(tbl.columns))
        if any(n == "score" for n, _ in spec):
            raise ValueError(
                "ordering by score is the default collector (call search "
                "without sort); sort takes field clauses only")
        rows = self._match_rows(query_text, filter_mask, require_all,
                                min_match)
        sub = tbl.iloc[np.flatnonzero(rows)]
        by = [n for n, _ in spec] + ["docid"]
        asc = [a for _, a in spec] + [True]
        page = sub.sort_values(by=by, ascending=asc, kind="mergesort") \
                  .iloc[offset:offset + k]
        scores: dict[int, float] = {}
        if with_score and len(page):
            pm = self._docid_mask(page["docid"].to_numpy())
            for r in self._scored_topk(query_text, len(page), similarity,
                                       filter_mask=pm):
                scores[r["docid"]] = r["score"]
        sort_fields = [n for n, _ in spec
                       if n not in ("conv_id", "turn_idx", "docid")]
        out = []
        for i, (_, r) in enumerate(page.iterrows()):
            row = {"conv_id": str(r["conv_id"]),
                   "turn_idx": int(r["turn_idx"]), "docid": int(r["docid"])}
            for f in sort_fields:
                v = r[f]
                row[f] = v.item() if hasattr(v, "item") else v
            if with_score:
                row["score"] = float(scores.get(int(r["docid"]), 0.0))
            row["rank"] = offset + i + 1
            out.append(row)
        return out

    def _scored_topk(self, query_text: str, k: int,
                     similarity: str | object = "bm25",
                     require_all: bool = False, min_match: int | None = None,
                     filter_mask: np.ndarray | None = None):
        """The serving side of the shared range driver: bm25_topk's plan
        (plan_query over the resident dictionary), the query's cached
        postings grouped by docid range, each range loaded with its resident
        norms and filter_mask slice and bounded by np.inf (no WAND
        skipping), then the ranked winners resolved to (conv_id, turn_idx);
        `search` numbers the ranks of the page it returns."""
        plan = plan_query(self.reader, self._term_stats, query_text, k=k,
                          require_all=require_all, min_match=min_match,
                          similarity=similarity)
        if plan is None:
            return []
        ranges: dict[int, list] = {}
        for term, lst in self._postings(plan.scan_terms).items():
            for rid, off, tf in lst:
                ranges.setdefault(rid, []).append((term, off, tf))

        def load(rid: int):
            dls = self._dls[rid]
            allow = None
            if filter_mask is not None:
                base = rid << self.cfg.range_shift
                allow = filter_mask[base:base + len(dls)]
                if len(allow) < len(dls):  # filter table shorter than range
                    allow = np.pad(allow, (0, len(dls) - len(allow)))
            return ranges[rid], dls, allow

        top_d, top_s = score_ranges(
            plan, ((rid, np.inf, partial(load, rid)) for rid in ranges),
            self._deleted)
        rows = np.searchsorted(self._docids, top_d)
        return [
            {"conv_id": str(self._conv[i]), "turn_idx": int(self._turn[i]),
             "docid": d, "score": s}
            for d, s, i in zip(top_d.tolist(), top_s.tolist(), rows)
        ]

    # ------------------------------------------------------- serving suggest
    # The suggester family belongs on the serving tier (autocomplete needs
    # millisecond latency, not a Spark job): the dictionary is already fully
    # resident here, so these are in-process twins of
    # operators/components.py::suggest_terms / suggest_infix / suggest_fuzzy
    # with identical ranking (parity pytest-asserted in test_local).

    @property
    def _sorted_terms(self) -> list[str]:
        if not hasattr(self, "_terms_sorted"):
            self._terms_sorted = sorted(self._df)
        return self._terms_sorted

    def suggest(self, prefix: str, k: int = 10) -> list[dict]:
        """Prefix suggester: bisect the sorted dictionary to the prefix range
        (no vocabulary scan), rank df desc, term asc."""
        import bisect

        ts = self._sorted_terms
        lo = bisect.bisect_left(ts, prefix)
        hi = bisect.bisect_left(ts, prefix[:-1] + chr(ord(prefix[-1]) + 1)) \
            if prefix else len(ts)
        cand = ts[lo:hi]
        top = heapq.nsmallest(k, cand, key=lambda t: (-int(self._df[t]), t))
        return [{"term": t, "df": int(self._df[t])} for t in top]

    def suggest_infix(self, query: str, k: int = 10,
                      highlight: bool = True) -> list[dict]:
        """Analyzing-infix suggester (AnalyzingInfixLookupFactory role):
        contains-match over the resident vocabulary, df-ranked."""
        cand = [t for t in self._df if query in t]
        top = heapq.nsmallest(k, cand, key=lambda t: (-int(self._df[t]), t))
        out = []
        for t in top:
            row = {"term": t, "df": int(self._df[t])}
            if highlight:
                row["highlighted"] = t.replace(query, f"<b>{query}</b>")
            out.append(row)
        return out

    # ------------------------------------------------------- serving facets
    # In the reference, facets piggyback on every /select in one ms-class
    # request: the component pipeline runs QueryComponent and FacetModule
    # against the SAME DocSet (handler/component/SearchHandler.java:104-118;
    # search/facet/FacetModule.java:45). The batch path here answers any
    # facet in ~0.5 s (a Spark job floor); this is the serving twin — numpy
    # aggregation over the resident forward columns under the filter mask —
    # shape-identical to operators/facets.py (parity pytest in test_local).

    def facets(self, facet: dict, query: str | None = None,
               filters=None, now=None) -> dict:
        """JSON-facet blocks over the q (+fq) DocSet, serving-tier.

        facet: {name: spec} — string shorthand ``"avg(col)"`` (scalar row),
        ``{"type": "terms", "field", "limit", "mincount", "sort",
        "missing", "prefix", "contains", "facet": {alias: "stat(col)"}}``,
        ``{"type": "range", "field", "start", "gap"[, "end"]}``, or
        ``{"type": "query", "q": "..."}``. Stats: sum/avg/min/max/count/
        unique/sumsq. Returns {name: list[dict]} with the SAME column names
        and ordering as the batch twins (terms_facet / range_facet /
        query_facet), so results merge across tiers.
        """
        mask = self.filter_mask(filters, now=now) if filters else None
        rows = self._match_rows(query, mask)
        sub = self._fwd.iloc[np.flatnonzero(rows)]
        return {name: self._one_facet(sub, spec, now)
                for name, spec in facet.items()}

    _FACET_STATS = ("sum", "avg", "min", "max", "count", "unique", "sumsq")

    @classmethod
    def _metric_fn(cls, spec: str):
        import re as _re

        m = _re.fullmatch(r"\s*(\w+)\(\s*([\w.]+)\s*\)\s*", spec)
        if not m or m.group(1) not in cls._FACET_STATS:
            raise ValueError(
                f"unsupported serving facet stat {spec!r} "
                f"(supported: {cls._FACET_STATS})")
        stat, col = m.groups()

        def fn(s):
            import pandas as _pd

            v = _pd.to_numeric(s, errors="coerce") \
                if stat in ("sum", "avg", "sumsq") else s
            if stat == "sum":
                return float(v.sum())
            if stat == "avg":
                return float(v.mean())
            if stat == "sumsq":
                return float((v * v).sum())
            if stat == "min":
                r = v.min()
                return r.item() if hasattr(r, "item") else r
            if stat == "max":
                r = v.max()
                return r.item() if hasattr(r, "item") else r
            if stat == "count":
                return int(v.notna().sum())
            return int(v.nunique())
        return stat, col, fn

    def _one_facet(self, sub, spec, now):
        if isinstance(spec, str):
            _stat, col, fn = self._metric_fn(spec)
            return [{"value": fn(sub[col])}]
        kind = spec.get("type")
        if kind == "terms":
            return self._terms_facet(sub, spec, now)
        if kind == "range":
            return self._range_facet(sub, spec, now)
        if kind == "query":
            ev = _PandasFilterEvaluator(sub, now=now)
            n = int(ev.parse(spec["q"]).sum()) if len(sub) else 0
            return [{"count": n}]
        raise ValueError(f"unsupported serving facet type {kind!r} "
                         "(terms / range / query / 'stat(col)')")

    def _terms_facet(self, sub, spec, now=None):
        field = spec["field"]
        if field not in sub.columns:
            raise ValueError(f"unknown facet field {field!r} "
                             f"(stored columns: {list(sub.columns)})")
        limit = int(spec.get("limit", 10))
        mincount = int(spec.get("mincount", 1))
        s = sub[field]
        if spec.get("prefix"):
            sub = sub[s.astype("string").str.startswith(spec["prefix"])
                       .fillna(False).to_numpy(dtype=bool)]
            s = sub[field]
        if spec.get("contains"):
            sub = sub[s.astype("string").str.contains(spec["contains"],
                                                      regex=False)
                       .fillna(False).to_numpy(dtype=bool)]
            s = sub[field]
        # the facet block mixes stat-string metrics with SUB-FACET dicts
        # (FacetRequest.java:353 processSubs map) — sub-trees recurse over
        # the bucket's own rows, exactly the batch facet_tree semantics
        metrics, subfacets = [], []
        for alias, ms in (spec.get("facet") or {}).items():
            if isinstance(ms, dict):
                subfacets.append((alias, ms))
            else:
                metrics.append((alias, *self._metric_fn(ms)))
        grouped = sub.groupby(field, dropna=True, sort=False)
        rows = []
        for bucket, g in grouped:
            row = {"bucket": bucket.item() if hasattr(bucket, "item")
                   else bucket, "count": int(len(g))}
            for alias, _stat, col, fn in metrics:
                row[alias] = fn(g[col])
            for alias, subspec in subfacets:
                row[alias] = self._one_facet(g, subspec, now)
            rows.append(row)
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
        if spec.get("missing"):
            miss = sub[sub[field].isna()]
            mrow = {"bucket": "__missing__", "count": int(len(miss))}
            for alias, _stat, col, fn in metrics:
                mrow[alias] = fn(miss[col]) if len(miss) else None
            rows = (rows[:limit] if limit >= 0 else rows) + [mrow]
            return rows
        return rows[:limit] if limit >= 0 else rows

    def _range_facet(self, sub, spec, now=None):
        field, start = spec["field"], float(spec["start"])
        gap = float(spec["gap"])
        import pandas as _pd

        v = _pd.to_numeric(sub[field], errors="coerce")
        keep = v >= start
        if "end" in spec:
            keep &= v < float(spec["end"])
        v = v[keep]
        idx = np.floor((v.to_numpy() - start) / gap).astype(np.int64)
        subfacets = [(alias, ms)
                     for alias, ms in (spec.get("facet") or {}).items()
                     if isinstance(ms, dict)]
        rows = []
        if len(idx):
            uniq, counts = np.unique(idx, return_counts=True)
            for b, c in zip(uniq.tolist(), counts.tolist()):
                row = {"bucket_start": b * gap + start, "count": int(c)}
                for alias, subspec in subfacets:
                    g = sub.loc[v.index[idx == b]]
                    row[alias] = self._one_facet(g, subspec, now)
                rows.append(row)
        return rows

    def suggest_fuzzy(self, word: str, k: int = 10,
                      max_edits: int = 1) -> list[dict]:
        """Fuzzy suggester: length-banded, capped-DP Levenshtein over the
        vocabulary (the serving twin of the pushed tlen filter), ranked
        (dist asc, df desc, term asc)."""
        n = len(word)
        hits = []
        for t in self._df:
            if abs(len(t) - n) > max_edits:
                continue
            d = _levenshtein_capped(t, word, max_edits)
            if d <= max_edits:
                hits.append((d, -int(self._df[t]), t))
        top = heapq.nsmallest(k, hits)
        return [{"term": t, "df": -negdf, "dist": d} for d, negdf, t in top]


def _levenshtein_capped(a: str, b: str, cap: int) -> int:
    """Edit distance with early exit once every cell in a row exceeds cap."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        best = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            cur.append(v)
            if v < best:
                best = v
        if best > cap:
            return cap + 1
        prev = cur
    return prev[-1]
