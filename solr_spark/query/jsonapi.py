"""Solr JSON Request API over DataFrames.

The reference's second query surface (next to URL params and streaming
expressions): a JSON body ``{"query": ..., "filter": [...], "fields": [...],
"sort": ..., "offset"/"limit": ..., "facet": {...}}`` parsed by
solr/core/src/java/org/apache/solr/request/json/RequestUtil.java (param
mapping json.query -> q, json.filter -> fq at :266-296) with the facet tree
interpreted by search/facet/FacetParser.java (``type: terms|range|query``
objects, string-shorthand aggregations like ``"avg(price)"`` at
parseStringFacetOrStat).

This module maps the same JSON shape onto the engine's existing pieces:
query/filter strings go through the classic `lucene`-syntax parser to
Catalyst predicates (pushed to the scan), facets dispatch to the
operators.facets family (single-shuffle partial-agg plans), and the docs
query is projection + TakeOrdered. Nothing here adds a new execution path —
it is a request-shape adapter, so every request inherits the audited plans.

Three entry points: ``json_request`` (unranked docs over a DataFrame),
``json_search`` (RANKED top-k — the body's query string funnels into the
scored BM25/WAND surface against an IndexReader; ``filter`` strings become
forward-table DocSets intersected BEFORE scoring, the q+fq flow of
SolrIndexSearcher.getProcessedFilter), and ``json_facets`` (the facet tree,
nested to any depth through operators.facets.facet_tree). Unknown top-level
keys raise, as in RequestUtil.java:263.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.operators import facets as FC
from solr_spark.query.parser import LuceneQueryParser

_METRIC_RE = re.compile(r"(\w+)\(\s*(\w+)\s*\)")


def _parse_metric(alias: str, spec: str) -> Column:
    """``"avg(n_chars)"`` -> aliased aggregate Column (FacetParser's
    string-shorthand stat)."""
    m = _METRIC_RE.fullmatch(spec.strip())
    if not m or m.group(1) not in FC._METRICS:
        raise ValueError(f"unsupported facet stat {spec!r}")
    name, col = m.groups()
    return FC._METRICS[name](col).alias(alias)


def _sort_cols(spec: str) -> list[Column]:
    out = []
    for part in spec.split(","):
        words = part.split()
        if not words or len(words) > 2:
            raise ValueError(f"bad sort clause {part!r} in {spec!r}")
        name = words[0]
        direction = words[1].lower() if len(words) == 2 else "asc"
        if direction not in ("asc", "desc"):
            # the reference rejects unknown sort orders (SortSpecParsing);
            # silently treating them as asc would return wrongly-ordered pages
            raise ValueError(f"unknown sort direction {direction!r} in {spec!r}")
        col = F.col(name)
        out.append(col.desc() if direction == "desc" else col.asc())
    return out


# RequestUtil.java:263 throws 'Unknown top-level key in JSON request' — a typo
# like {"fliter": ...} must not silently return unfiltered results.
_TOP_KEYS = {"query", "filter", "fields", "sort", "offset", "limit", "facet",
             "params", "queries"}


def _resolve_query_refs(req: dict, ctx: str) -> dict:
    """Top-level `queries` (RequestUtil.java:239): a map of NAMED query
    strings; `query` and `filter` entries may reference one as
    ``{"param": "<name>"}`` (the JSON Query DSL's param ref — the
    localparams ``v=$name`` idiom), at ANY depth: the reference resolves
    ``v=$ref`` wherever it appears, so refs nested inside ``{"bool": ...}``
    clause lists resolve too. Non-map `queries` and unknown refs raise,
    matching the reference's 'Expected Map for queries' error."""
    named = req.get("queries", {})
    if not isinstance(named, dict):
        raise ValueError(f"expected map for 'queries' in JSON {ctx}, "
                         f"got {type(named).__name__}")
    for n, v in named.items():
        if not isinstance(v, str):
            raise ValueError(
                f"named query {n!r} in JSON {ctx} must be a string")

    def resolve(x):
        if isinstance(x, dict) and "param" in x:
            if set(x) != {"param"}:
                raise ValueError(
                    f'a {{"param": <name>}} ref in JSON {ctx} takes no '
                    f"other keys, got {sorted(x)}")
            name = x["param"]
            if name not in named:
                raise ValueError(
                    f"unknown query ref {name!r} in JSON {ctx} "
                    f"(declared: {sorted(named)})")
            return named[name]
        if isinstance(x, dict) and "bool" in x and isinstance(x["bool"], dict):
            # recurse into the bool DSL's clause lists so a ref nested in
            # must/should/... resolves instead of failing as an unknown
            # "param" query parser downstream
            body = {
                k: ([resolve(e) for e in v] if isinstance(v, list)
                    else resolve(v)) if k in ("must", "filter", "must_not",
                                              "should") else v
                for k, v in x["bool"].items()}
            return {**x, "bool": body}
        # other dict shapes (e.g. {"lucene": ...}) pass through to the
        # downstream query compiler untouched
        return x

    if "query" in req:
        req["query"] = resolve(req["query"])
    if "filter" in req:
        f = req["filter"]
        req["filter"] = ([resolve(e) for e in f] if isinstance(f, list)
                         else resolve(f))
    req.pop("queries", None)
    return req


def _check_params(req: dict, allowed: set[str], ctx: str) -> None:
    """The `params` sub-object is request metadata, not a free-form bag —
    a typo like {"params": {"simlarity": ...}} must not silently fall back
    to defaults (the same rule _check_keys applies to top-level keys)."""
    unknown = set(req.get("params", {})) - allowed
    if unknown:
        raise ValueError(
            f"unknown params key(s) in JSON {ctx}: {sorted(unknown)} "
            f"(allowed: {sorted(allowed)})")


def _check_keys(req: dict, allowed: set[str], ctx: str) -> None:
    unknown = set(req) - allowed
    if unknown:
        raise ValueError(
            f"unknown top-level key(s) in JSON {ctx}: {sorted(unknown)} "
            f"(allowed: {sorted(allowed)})")


def _compile_facet_node(name: str, node: dict
                        ) -> "tuple[FC.FacetLevel, dict]":
    """One facet-tree node -> (FacetLevel, {sub-facet name: sub spec}).

    Sibling stat STRINGS belong to this node's buckets (the
    FacetRequest.processSubs rule); sub-facet DICTS are this node's child
    trees."""
    ftype = node.get("type")
    if ftype not in ("terms", "range"):
        raise ValueError(
            f"nested facet {name!r} must be terms or range, got {ftype!r}")
    stats: dict[str, tuple[str, str]] = {}
    subs: dict[str, dict] = {}
    for a, s in node.get("facet", {}).items():
        if isinstance(s, dict):
            subs[a] = s
        else:
            m = _METRIC_RE.fullmatch(s.strip())
            if not m or m.group(1) not in FC._METRICS:
                raise ValueError(f"unsupported facet stat {s!r}")
            stats[a] = (m.group(1), m.group(2))
    kw: dict = {}
    if ftype == "range":
        kw = {"start": float(node["start"]), "gap": float(node["gap"]),
              "end": float(node["end"]) if "end" in node else None}
    level = FC.FacetLevel(
        name, node["field"], kind=ftype,
        limit=int(node.get("limit", 10)),
        mincount=int(node.get("mincount", 1)),
        sort=node.get("sort"), stats=stats,
        prefix=node.get("prefix"), contains=node.get("contains"), **kw)
    return level, subs


def _tree_chains(name: str, spec: dict
                 ) -> "list[tuple[str, list[FC.FacetLevel]]]":
    """Decompose a facet TREE (a node may carry a MAP of sub-facets —
    FacetRequest.java:353 processSubs iterates a map, not a single child)
    into its root-to-leaf CHAINS: [(path key, [FacetLevel, ...]), ...].

    Each chain compiles independently through facet_tree (one scan per
    branch; the shared-prefix levels are recomputed per branch, with
    identical bucket counts — the flat-DataFrame representation of a
    sibling tree is one DataFrame per branch). A single-chain tree keeps
    its root name as the key; sibling branches key by the "/"-joined node
    path ("langs/by_src", "langs/sizes")."""
    level, subs = _compile_facet_node(name, spec)
    if not subs:
        return [(name, [level])]
    chains: list[tuple[str, list]] = []
    for sn, ss in subs.items():
        for path, lvls in _tree_chains(sn, ss):
            chains.append((f"{name}/{path}", [level] + lvls))
    return chains


# `{!tag=a,b}lang:en` — the tag local param marks a filter so facet domains
# can exclude it (multi-select faceting; request/json/RequestUtil tag flow,
# SimpleFacets excludeTags)
_TAG_RE = re.compile(r"^\{!tag=([\w,]+)\}\s*(.*)$", re.S)


def _tagged_filters(req: dict, parser: LuceneQueryParser
                    ) -> list[tuple[frozenset, Column]]:
    """Parse the request's filter strings into (tag-set, predicate) pairs."""
    filters = req.get("filter", [])
    if isinstance(filters, str):
        filters = [filters]
    out = []
    for f in filters:
        if isinstance(f, dict):   # JSON DSL object filter (no tag form)
            out.append((frozenset(), _compile_query(f, parser)))
            continue
        m = _TAG_RE.match(f)
        tags = frozenset(m.group(1).split(",")) if m else frozenset()
        out.append((tags, parser.parse(m.group(2) if m else f)))
    return out


def _compile_query(q, parser: LuceneQueryParser) -> Column:
    """JSON Query DSL -> Column predicate (json-query-dsl.adoc): a query is
    a classic-syntax STRING, a ``{"lucene": {"df": ..., "query": ...}}``
    parser object, or a ``{"bool": {...}}`` node (BoolQParserPlugin.java:33)
    with must / filter / must_not / should lists and Lucene's matching rule:
    all must+filter match, no must_not matches, and should clauses are
    scoring-only when must/filter exist (unless ``mm`` asks for more) but
    at least mm (default 1) must match when they don't."""
    if isinstance(q, str):
        return parser.parse(q)
    if not isinstance(q, dict) or len(q) != 1:
        raise ValueError(f"unsupported JSON query object: {q!r}")
    (kind, body), = q.items()
    if kind == "lucene":
        sub = LuceneQueryParser(body.get("df", parser.default_field),
                                parser.text_fields, now=parser.now)
        return sub.parse(body["query"])
    if kind != "bool":
        raise ValueError(f"unsupported query parser {kind!r} in JSON DSL "
                         "(supported: string, lucene, bool)")

    def listify(v):
        return [v] if isinstance(v, (str, dict)) else list(v or [])

    known = set(body) - {"must", "filter", "must_not", "should", "mm"}
    if known:
        raise ValueError(f"unknown bool clause(s): {sorted(known)}")
    must = [_compile_query(c, parser)
            for c in listify(body.get("must")) + listify(body.get("filter"))]
    nots = [_compile_query(c, parser) for c in listify(body.get("must_not"))]
    should = [_compile_query(c, parser) for c in listify(body.get("should"))]
    mm = int(body.get("mm", 0 if must else 1))
    col = None
    for c in must:
        col = c if col is None else (col & c)
    if should and mm > 0:
        n = sum((F.when(c, 1).otherwise(0) for c in should), F.lit(0))
        c2 = n >= F.lit(mm)
        col = c2 if col is None else (col & c2)
    elif col is None:
        # no must/filter and mm=0: degenerate but well-defined — match all
        col = F.lit(True)
    for c in nots:
        col = col & ~c
    return col


def _domain(df: DataFrame, req: dict, parser: LuceneQueryParser,
            exclude_tags: "Sequence[str] | frozenset" = ()) -> DataFrame:
    """Apply query + filter strings as predicates (the fq/DocSet role).
    exclude_tags drops the filters carrying any of those tags — the
    multi-select faceting domain change (facet_domain's rule; excluding a
    tag widens the pushed predicate conjunction, never disables pushdown)."""
    out = df
    q = req.get("query", "*:*")
    if q and q != "*:*":
        out = out.where(_compile_query(q, parser))
    excl = set(exclude_tags)
    for tags, pred in _tagged_filters(req, parser):
        if not (tags & excl):
            out = out.where(pred)
    return out


def json_request(df: DataFrame, request: dict | str,
                 default_field: str = "text",
                 text_fields: set[str] | None = None) -> DataFrame:
    """Run the docs part of a JSON request: query/filter/fields/sort/
    offset/limit. Filters compile to pushed-down Catalyst predicates;
    sort+limit is TakeOrdered (no global sort materialization)."""
    req = json.loads(request) if isinstance(request, str) else dict(request)
    _check_keys(req, _TOP_KEYS - {"facet"}, "request")
    _check_params(req, {"NOW"}, "request")
    req = _resolve_query_refs(req, "request")
    parser = LuceneQueryParser(default_field, text_fields or {default_field},
                               now=req.get("params", {}).get("NOW"))
    out = _domain(df, req, parser)
    if "sort" in req:
        out = out.orderBy(*_sort_cols(req["sort"]))
    if "fields" in req:
        out = out.select(*req["fields"])
    offset = int(req.get("offset", 0))
    if offset:
        out = out.offset(offset)
    if "limit" in req:
        out = out.limit(int(req["limit"]))
    return out


def json_search(spark, reader, request: dict | str) -> DataFrame:
    """Ranked retrieval through a JSON request body: ``{"query": "<classic
    q string>", "limit": k, "params": {"similarity": ...}}`` funnels into
    the scored-query surface (query/scored.py — terms, ^boosts, "phrase"
    clauses, fuzzy~N, wildcards, +MUST/-MUST_NOT), returning the bm25_topk
    shape (conv_id, turn_idx, docid, score, rank).

    This is the json.query -> q param mapping of RequestUtil.java for the
    SCORED path; the unranked docs path (filter/fields/sort over a raw
    DataFrame) is `json_request`. ``filter`` strings compile to DocSets over
    the index's stored/forward fields and intersect the scored query BEFORE
    ranking (q+fq: SolrIndexSearcher.java:1254 getProcessedFilter), so a
    selective filter still returns k hits. ``offset`` pages by rank
    (start/rows). ``fields`` is the fl on the ranked path: result columns
    plus any STORED field of the index (stored attributes join the top-k by
    docid — a broadcast of k rows against the column-pruned forward table).
    ``sort`` accepts the full SortSpec (SortSpecParsing.java): omitted or
    ``score desc`` is the ranked collector; field clauses switch to the
    TopFieldCollector role (query/fieldsort.py — same match DocSet, ordering
    key moves from score to the fields, score still computed for the page
    when ``fields`` asks for it). Mixing score with field clauses raises —
    secondary-field tiebreaks under a float primary score are a documented
    non-goal (ties beyond the page cannot be resolved post-hoc).
    ``facet`` blocks compute over the ENTIRE q+fq match set (the /select
    contract: facets count the DocSet, not the returned page) via the same
    facet compiler the unranked path uses.
    """
    from solr_spark.query.scored import scored_topk

    req = json.loads(request) if isinstance(request, str) else dict(request)
    _check_keys(req, {"query", "filter", "fields", "limit", "offset",
                      "sort", "facet", "params", "queries"}, "search request")
    _check_params(req, {"NOW", "similarity"}, "search request")
    req = _resolve_query_refs(req, "search request")
    if "facet" in req:
        raise ValueError(
            "json_search returns the docs DataFrame only; a request with a "
            "facet block is the full /select contract — use json_select, "
            "which returns {'docs': ..., 'facets': {...}}")
    offset = int(req.get("offset", 0))
    limit = int(req.get("limit", 10))
    k = offset + limit
    params = req.get("params", {})
    filters = req.get("filter", [])
    if isinstance(filters, str):
        filters = [filters]
    now = params.get("NOW")
    sort = (req.get("sort") or "").strip()
    if sort and sort not in ("score desc", "score"):
        from solr_spark.query.fieldsort import field_sorted_search

        want = req.get("fields")
        page = field_sorted_search(
            spark, reader, req["query"], sort, k=limit, offset=offset,
            filters=filters, now=now, fields=want,
            with_score=bool(want) and "score" in want)
        return page.select(*want) if want else page
    if "similarity" in params:
        from solr_spark.query.bm25 import bm25_topk
        topk = bm25_topk(spark, reader, req["query"], k=k,
                         similarity=params["similarity"], filters=filters,
                         now=now)
    else:
        topk = scored_topk(spark, reader, req["query"], k=k, filters=filters,
                           now=now)
    if offset:
        # deep paging: ranks (offset, offset+limit] of the top-(offset+limit)
        # result — the start/rows contract of the reference's paging
        topk = topk.where(F.col("rank") > offset)
    if "fields" in req:
        want = list(req["fields"])
        extra = [f for f in want if f not in topk.columns]
        if extra:
            fwd = reader.forward(spark)
            unknown = [f for f in extra if f not in fwd.columns]
            if unknown:
                raise ValueError(
                    f"fields {unknown} are neither result columns "
                    f"({topk.columns}) nor stored fields "
                    f"({[c for c in fwd.columns if c != 'toks']})")
            # k rows broadcast against the column-pruned forward table;
            # rank order re-asserted after the join
            topk = (F.broadcast(topk)
                    .join(fwd.select("docid", *extra), "docid", "left")
                    .orderBy("rank"))
        topk = topk.select(*want)
    return topk


def json_select(spark, reader, request: dict | str) -> dict:
    """The full /select contract in one call: ranked (or field-sorted) docs
    PLUS facet blocks computed over the ENTIRE q+fq match set.

    Reference: handler/component/SearchHandler.java:104-118 — the component
    pipeline runs QueryComponent and FacetModule against the SAME DocSet,
    so facets count every matching doc, never just the returned page.
    Restated here: the docs page comes from json_search (scored or
    field-sorted collector), and the facet tree compiles through
    json_facets over the forward table narrowed by the same query+filter
    predicates — one column-pruned scan per facet section, the filters
    pushed down, nothing materialized per-doc.

    Returns {"docs": DataFrame, "facets": {name: DataFrame}}.
    """
    req = json.loads(request) if isinstance(request, str) else dict(request)
    # resolve named-query refs ONCE so both the docs page and the facet
    # domain see the same resolved strings
    req = _resolve_query_refs(req, "select request")
    facet_block = req.pop("facet", None)
    docs = json_search(spark, reader, req)
    facets: dict[str, DataFrame] = {}
    if facet_block:
        fwd = reader.forward_text(spark)
        from solr_spark.indexing.deletes import deletes_df

        dels = deletes_df(spark, reader.index_dir)
        if dels is not None:
            # anti-join, not an isin literal list — tombstone sets are
            # bounded pre-merge but need not fit in a plan literal
            fwd = fwd.join(dels, "docid", "left_anti")
        # the facet DocSet is the SCORED query's match set (OR / min_match
        # term semantics, same as the docs page), never the fq parser's
        # conjunctive reading of q; fq strings stay visible to the facet
        # compiler so excludeTags multi-select still re-derives domains
        q = req.get("query", "*:*")
        if q and q != "*:*":
            from solr_spark.query.fieldsort import scored_match_docids

            fwd = fwd.join(scored_match_docids(spark, reader, q), "docid")
        facets = json_facets(
            fwd, {"query": "*:*",
                  "filter": req.get("filter", []),
                  "params": {k: v for k, v in req.get("params", {}).items()
                             if k == "NOW"},
                  "facet": facet_block})
    return {"docs": docs, "facets": facets}


def json_facets(df: DataFrame, request: dict | str,
                default_field: str = "text",
                text_fields: set[str] | None = None
                ) -> dict[str, DataFrame]:
    """Interpret the ``facet`` tree of a JSON request over the request's
    query+filter domain. Returns {facet name: DataFrame} — one DataFrame
    per top-level facet, matching the response sections the reference
    emits (each is an independent single-pass aggregation plan).

    Supported facet values (FacetParser.java surface):
      * string shorthand ``"avg(col)"`` — one scalar stat row
      * ``{"type": "terms", "field": ..., "limit", "sort", "mincount",
        "allBuckets", "numBuckets", "missing", "prefix", "contains",
        "facet": {alias: "stat(col)", ...}}`` — the nested ``facet`` dict
        may also hold ONE ``{"type": "terms"}`` sub-facet (terms-in-terms
        recursion, FacetRequest.processSubs), which compiles to the
        two-exchange facet_2d plan (columns: bucket, <subname>, count)
      * ``{"type": "range", "field", "start", "end", "gap"}``
      * ``{"type": "query", "q": "..."}`` — any number of these fold into
        query_facet's single conditional-aggregation pass per facet name

    Any facet object may carry ``{"domain": {"filter": "..."}}`` to narrow
    that facet's domain without touching the docs query (json-facet-api.adoc
    "Changing the Domain"); excludeTags / blockChildren domain changes are
    served by operators.facets.facet_domain / to_children directly.
    """
    req = json.loads(request) if isinstance(request, str) else dict(request)
    _check_keys(req, _TOP_KEYS, "facet request")
    _check_params(req, {"NOW"}, "facet request")
    req = _resolve_query_refs(req, "facet request")
    parser = LuceneQueryParser(default_field, text_fields or {default_field},
                               now=req.get("params", {}).get("NOW"))
    dom = _domain(df, req, parser)
    out: dict[str, DataFrame] = {}
    for name, spec in req.get("facet", {}).items():
        if isinstance(spec, str):
            out[name] = dom.agg(_parse_metric(name, spec))
            continue
        # per-facet domain changes (FacetRequest.java Domain /
        # json-facet-api.adoc "Changing the Domain"):
        #   {"domain": {"excludeTags": [...]}} re-derives the domain WITHOUT
        #   the filters carrying those tags ({!tag=x} local param) — the
        #   multi-select faceting idiom where a field's own filter is
        #   excluded from its facet counts;
        #   {"domain": {"filter": "..."}} then narrows the result. Block
        #   joins are served by operators.facets.to_children directly.
        dspec = spec.get("domain", {})
        excl = dspec.get("excludeTags", ())
        if isinstance(excl, str):
            excl = [excl]
        fdom = _domain(df, req, parser, exclude_tags=excl) if excl else dom
        dj = dspec.get("join")
        if dj:
            # domain join (json-faceting-domain-changes.adoc "join"): the new
            # domain is every doc in the WHOLE collection whose `to` field
            # value appears among the current domain's `from` values — a
            # left-semi join against the (distinct, usually small) from-key
            # set, broadcastable under AQE
            keys = (fdom.select(F.col(dj["from"]).alias(dj["to"]))
                    .dropDuplicates())
            fdom = df.join(keys, dj["to"], "left_semi")
        dg = dspec.get("graph")
        if dg:
            # graph domain (json-faceting-domain-changes.adoc "graph" /
            # search/join/GraphQuery.java): each hop finds docs whose
            # `from` field matches the current frontier docs' `to` values,
            # up to maxDepth hops. The walk runs in VALUE space over the
            # whole collection's (from, to) pairs through the per-level
            # checkpointed BFS of operators/graph.py — seeded by the
            # current domain's to-values — then one semi-join materializes
            # the traversed docs; returnRoot (default true, the reference's
            # default) unions the original domain docs back in.
            from solr_spark.operators.graph import gather_nodes

            depth = int(dg.get("maxDepth", 20))
            roots = (fdom.select(F.col(dg["to"]).alias("node"))
                     .where(F.col("node").isNotNull()).dropDuplicates())
            reached = gather_nodes(
                df.select(F.col(dg["from"]), F.col(dg["to"])),
                roots, dg["from"], dg["to"], levels=depth)
            # gather_nodes emits levels >= 1 only; the frontier VALUES at
            # level 0 (the roots) also resolve to traversed docs. Docs at
            # DOC-hop h join on values at level h-1, so maxDepth doc hops
            # means value levels 0..maxDepth-1.
            keys = (roots.unionByName(
                        reached.where(F.col("level") <= depth - 1)
                               .select("node"))
                    .dropDuplicates()
                    .select(F.col("node").alias(dg["from"])))
            traversed = (df.join(keys, dg["from"], "left_semi")
                         .select(*df.columns))
            if bool(dg.get("returnRoot", True)):
                # subtract aligns by POSITION: fdom is re-selected to the
                # same column order before the set difference
                fdom = traversed.unionByName(
                    fdom.select(*df.columns).subtract(traversed))
            else:
                fdom = traversed
        dom_f = dspec.get("filter")
        if dom_f:
            fdom = fdom.where(parser.parse(dom_f))
        ftype = spec.get("type")
        if ftype == "terms":
            subs = {a: s for a, s in spec.get("facet", {}).items()
                    if isinstance(s, dict)}
            if subs:
                # arbitrary-depth sub-facet recursion (FacetRequest.java:353
                # processSubs — a node holds a MAP of sub-facets). The tree
                # decomposes into root-to-leaf chains; each chain compiles
                # to ONE facet_tree plan (single corpus scan, windows per
                # level over the cells table). Sibling stat strings at any
                # node are computed over THAT node's buckets. A single-chain
                # tree keeps the root key; sibling branches emit one entry
                # per "/"-joined path, sharing identical root bucket counts.
                chains = _tree_chains(name, spec)
                for path, levels in chains:
                    tree = FC.facet_tree(fdom, levels)
                    leaf_name = levels[-1].name
                    out[name if len(chains) == 1 else path] = (
                        tree.withColumnRenamed(name, "bucket")
                            .withColumnRenamed(f"{leaf_name}_count",
                                               "count"))
                continue
            stats = {a: s for a, s in spec.get("facet", {}).items()
                     if isinstance(s, str)}
            metrics = [_parse_metric(a, s) for a, s in stats.items()]
            out[name] = FC.terms_facet(
                fdom, spec["field"], limit=int(spec.get("limit", 10)),
                metrics=metrics, min_count=int(spec.get("mincount", 1)),
                sort=spec.get("sort"),
                all_buckets=bool(spec.get("allBuckets", False)),
                num_buckets=bool(spec.get("numBuckets", False)),
                missing=bool(spec.get("missing", False)),
                prefix=spec.get("prefix"), contains=spec.get("contains"))
        elif ftype == "range":
            if any(isinstance(s, dict)
                   for s in spec.get("facet", {}).values()):
                # range facet with nested sub-facets: same chain
                # decomposition the terms branch uses (_tree_chains accepts
                # range nodes at any position)
                chains = _tree_chains(name, spec)
                for path, levels in chains:
                    tree = FC.facet_tree(fdom, levels)
                    leaf_name = levels[-1].name
                    out[name if len(chains) == 1 else path] = (
                        tree.withColumnRenamed(name, "bucket")
                            .withColumnRenamed(f"{leaf_name}_count",
                                               "count"))
                continue
            if "ranges" in spec:
                # SOLR-6348 explicit range list (RangeFacetProcessor
                # `ranges`): arbitrary/overlapping ranges, canonical
                # range-string bucket keys, one conditional-agg scan.
                pairs, renames = [], []
                for a, s in spec.get("facet", {}).items():
                    m = _METRIC_RE.fullmatch(s.strip())
                    if not m or m.group(1) not in FC._METRICS:
                        raise ValueError(f"unsupported facet stat {s!r}")
                    pairs.append(m.groups())
                    renames.append((f"{m.group(1)}_{m.group(2)}", a))
                ranged = FC.list_ranges_facet(
                    fdom, spec["field"], spec["ranges"], metrics=pairs)
                for old, new in renames:
                    ranged = ranged.withColumnRenamed(old, new)
                out[name] = ranged
                continue
            metrics = [_parse_metric(a, s)
                       for a, s in spec.get("facet", {}).items()]
            ranged = FC.range_facet(fdom, spec["field"],
                                    float(spec["start"]),
                                    float(spec["gap"]), metrics=metrics)
            if "end" in spec:
                ranged = ranged.where(
                    F.col("bucket_start") < float(spec["end"]))
            out[name] = ranged
        elif ftype == "query":
            stats = spec.get("facet", {})
            if stats:
                pairs, renames = [], []
                for a, s in stats.items():
                    m = _METRIC_RE.fullmatch(str(s).strip())
                    if not m or m.group(1) not in FC._METRICS:
                        raise ValueError(f"unsupported facet stat {s!r}")
                    pairs.append(m.groups())
                    renames.append((f"{m.group(1)}_{m.group(2)}", a))
                qf = FC.query_facet_stats(
                    fdom, {name: parser.parse(spec["q"])}, metrics=pairs)
                for old, new_ in renames:
                    qf = qf.withColumnRenamed(old, new_)
                out[name] = qf
            else:
                out[name] = FC.query_facet(fdom,
                                           {name: parser.parse(spec["q"])})
        elif ftype == "heatmap":
            # facet.heatmap (spatial-search.adoc; HeatmapFacetCounter role):
            # counts per fixed-degree grid cell over the facet domain — one
            # grouped aggregation on the derived cell key
            from solr_spark.functions.geo import geo_grid_cell

            if "latField" not in spec or "lonField" not in spec:
                raise ValueError(
                    f"heatmap facet {name!r} needs latField and lonField")
            out[name] = (fdom.groupBy(
                geo_grid_cell(spec["latField"], spec["lonField"],
                              float(spec.get("gridSize", 1.0))).alias("cell"))
                .agg(F.count(F.lit(1)).alias("count")))
        else:
            raise ValueError(f"unsupported facet type {ftype!r} for {name!r}")
    return out


__all__ = ["json_request", "json_search", "json_facets"]
