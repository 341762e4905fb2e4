"""User-facing search features layered on the executors: faceted
result counts and snippet (keyword-in-context) extraction.

These are the Solr/Elasticsearch-style conveniences a full-text
engine is expected to ship around its core top-k (the reference is a
parser-only library — the engine surface is ours; see SURVEY.md §0).
Everything is declarative DataFrame ops with exact DuckDB twins in
__spark_entry__.oracle_sql (ft_facets / ft_snippet gates).

Scale notes (100 TB):
  * facet_counts: the match set (doc_id, score) joins doclens on
    doc_id — a shuffle of MATCHING docs only, then a partial+final
    aggregate on the low-cardinality facet key. The full corpus is
    never shuffled.
  * snippets: computed only for the k rows of the final page, after
    TakeOrderedAndProject — the text column is fetched for k docs,
    not for every match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _drop_deleted(ix, df: DataFrame) -> DataFrame:
    """Anti-join the index's tombstone set (if any) onto a frame
    with a doc_id column — keeps every postings-reading helper
    consistent with search/match_count ('both executors exclude
    tombstoned docs from every result')."""
    dd = getattr(ix, "deleted_df", None)
    if dd is not None:
        df = df.join(F.broadcast(dd), "doc_id", "left_anti")
    return df


def facet_counts(
    executor,
    query: str,
    facet_col: str = "lang",
) -> DataFrame:
    """Facet the FULL match set of `query` by a metadata column:
    -> (facet_col, n_docs, max_score rounded 4). Counts all matches
    (k=None), not just the first page — the way search UIs show
    per-language / per-repo buckets next to the top-10."""
    matches = executor.search(query, k=None)
    meta = executor.ix.doclens.select("doc_id", facet_col)
    return (
        matches.join(meta, "doc_id")
        .groupBy(facet_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.max("score"), 4).alias("max_score"),
        )
    )


def terms_agg(
    executor,
    query: str,
    group_col: str = "lang",
    size: int = 10,
) -> DataFrame:
    """ES `terms` aggregation with metric SUB-aggregations over the
    full match set: buckets of `group_col` carrying doc_count plus
    avg/max score and avg doc length — the "facets + stats per
    bucket" shape search UIs and analytics dashboards ask for.
    -> (group_col, doc_count, avg_score, max_score, avg_doc_len)
    ordered doc_count desc then key (ES bucket order), top `size`
    buckets.

    Scale: the match set (doc_id, score) joins doclens on doc_id —
    only MATCHING docs shuffle — then one partial+final aggregate on
    the low-cardinality bucket key; `size` cuts the result, not the
    aggregation (same as ES shard_size semantics)."""
    matches = executor.search(query, k=None)
    meta = executor.ix.doclens.select("doc_id", group_col, "doc_len")
    return (
        matches.join(meta, "doc_id")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.max("score"), 4).alias("max_score"),
            F.round(F.avg("doc_len"), 4).alias("avg_doc_len"),
        )
        .orderBy(F.desc("doc_count"), F.asc(group_col))
        .limit(size)
    )


def search_with_snippets(
    executor,
    docs: DataFrame,
    query: str,
    needle: str,
    k: int = 10,
    radius: int = 20,
    width: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """Top-k search plus a deterministic keyword-in-context snippet:
    `width` chars of the original text starting `radius` chars before
    the first (case-insensitive) occurrence of `needle`. The index
    deliberately stores no raw text (postings + doclens metadata
    only), so the caller supplies the source `docs(doc_id, text)`
    table — joined AFTER the top-k, so text is fetched for k rows,
    never for the whole match set. pos=0 (needle absent, e.g. a
    fuzzy/regex match) falls back to the document head.
    -> (doc_id, score, pos, snippet)."""
    top = executor.search(query, k=k)
    texts = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    pos = F.locate(needle.lower(), F.lower(F.col("text")))
    start = F.greatest(pos - radius, F.lit(1))
    return (
        top.join(texts, "doc_id")
        .select(
            "doc_id",
            "score",
            pos.alias("pos"),
            F.substring(F.col("text"), start, width).alias("snippet"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def paginate(
    executor,
    query: str,
    page_size: int = 10,
    cursor=None,
) -> DataFrame:
    """Cursor ("search after") pagination over the total order
    (rounded-4 score desc, doc_id asc): pass the last row of the
    previous page as `cursor=(score, doc_id)` to get the next page.

    This is the deep-paging pattern that survives at scale: each page
    is filter + TakeOrderedAndProject over the match set — no global
    sort and no OFFSET, which would materialize and skip every
    preceding row on some executor. Rounding the sort key to 4
    decimals makes the cursor comparison exact across engines (the
    raw doubles are bit-stable here, but a cursor serialized through
    JSON by a real client would not be).
    -> (doc_id, score) page rows."""
    m = executor.search(query, k=None).select(
        "doc_id", F.round("score", 4).alias("score")
    )
    if cursor is not None:
        cs, cd = cursor
        m = m.filter(
            (F.col("score") < cs)
            | ((F.col("score") == cs) & (F.col("doc_id") > cd))
        )
    return m.orderBy(F.desc("score"), F.asc("doc_id")).limit(page_size)


def more_like_this(
    executor,
    docs: DataFrame,
    doc_id: int,
    n_terms: int = 5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lucene-style More-Like-This: select the target document's
    `n_terms` highest tf*idf terms (tie-break lexicographic), run
    them as a BM25 disjunction, exclude the document itself, return
    top-k. The target's text is one driver-side row; idf comes from
    the planner's dictionary (planning a disjunction of the doc's
    distinct tokens — no posting data is read to build the query).
    The k+1-then-exclude trick keeps the distributed top-k exact: at
    most one row (the doc itself) is ever removed.
    -> (doc_id, score)."""
    from collections import Counter

    from lucille_spark import plans as P

    row = (
        docs.filter(F.col(id_col) == doc_id).select(text_col).collect()
    )
    if not row:
        raise KeyError(f"doc_id {doc_id} not found")
    # analyze the seed doc with the INDEX's analyzer (stats.json)
    tf = Counter(executor.ix.planner.tokenize(row[0][0]))
    node = executor.ix.plan(" ".join(sorted(tf)))
    pterms = (
        list(node.should)
        if isinstance(node, P.PBool)
        else [node]
        if isinstance(node, P.PTerm)
        else []
    )
    scored = sorted(
        ((tf[t.term] * t.idf, t.term) for t in pterms),
        key=lambda x: (-x[0], x[1]),
    )
    top_terms = [t for _, t in scored[:n_terms]]
    query = " OR ".join(top_terms)
    out = executor.search(query, k=k + 1).filter(
        F.col("doc_id") != doc_id
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def suggest(index, term: str, max_dist: int = 1, n: int = 5) -> DataFrame:
    """Did-you-mean spell suggestion: dictionary terms within OSA
    edit distance `max_dist` of `term`, ranked (distance asc,
    document frequency desc, term asc). Uses the same fuzzy
    expansion machinery as Fuzzy queries (vectorized numpy DP on the
    driver dictionary; length-band + levenshtein pushdown on the big
    dictionary), so it works on both dictionary strategies. The
    candidate set is tiny, so ranking is driver-side.
    -> (suggestion, dist, df)."""
    import numpy as np

    from lucille_spark.index.reader import _lev_batch

    cands = index.dictionary.expand_fuzzy(
        term, max_dist, transpositions=True
    )
    if not cands:
        return index.spark.createDataFrame(
            [], "suggestion string, dist long, df long"
        )
    dfs = index.dictionary.lookup_df(cands)
    carr = np.array(cands)
    dist = np.full(len(cands), max_dist, dtype=np.int64)
    for e in range(max_dist - 1, -1, -1):
        dist[_lev_batch(carr, term, e, True)] = e
    ranked = sorted(
        ((int(dist[i]), -int(dfs.get(c, 0)), c) for i, c in enumerate(cands))
    )[:n]
    rows = [(c, d, -negdf) for d, negdf, c in ranked]
    return index.spark.createDataFrame(
        rows, "suggestion string, dist long, df long"
    )


def explain_search(index, query: str) -> dict:
    """Operational explain: what a query will touch before running
    it. Driver-side only — plans the query, reports the physical
    tree shape, term/expansion counts, positional/universe needs,
    and (when the file-term index is active) how many segment files
    the scan will open vs the total. The numbers the on-call person
    wants when a query is slow."""
    from lucille_spark import plans as P
    from lucille_spark.pushdown import file_prune_bounds

    node = index.plan(query)
    counts: dict = {}

    def walk(n) -> None:
        counts[type(n).__name__] = counts.get(type(n).__name__, 0) + 1
        if isinstance(n, P.PBool):
            for c in n.must + n.should + n.must_not:
                walk(c)
        elif isinstance(n, P.PDisMax):
            for c in n.children:
                walk(c)
        elif isinstance(n, (P.PNot, P.PBoost)):
            walk(n.child)

    walk(node)
    exact, intervals = file_prune_bounds(node)
    info = {
        "plan_nodes": counts,
        "n_terms": len(P.collect_terms(node)),
        "n_exact_terms": len(exact),
        "n_intervals": len(intervals),
        "needs_positions": P.needs_positions(node),
        "needs_universe": P.needs_universe(node),
    }
    fidx = getattr(index, "_fidx", None)
    if fidx and "segments" in fidx:
        ix = fidx["segments"]
        sel = ix.select(list(exact), list(intervals))
        info["segment_files_total"] = len(ix.entries)
        info["segment_files_scanned"] = len(sel)
    return info


def multi_field(query, fields: dict, default_field: str = "content"):
    """MultiFieldQueryParser-style rewrite (Lucene
    queryparser.classic.MultiFieldQueryParser semantics): every leaf
    that is NOT already field-scoped becomes a disjunction of the
    same leaf scoped to each field, with an optional per-field boost
    — ``spark`` with {"content": 1.0, "title": 2.0} becomes
    ``(spark OR title:spark^2.0)``. Scores are the SUM of the
    matching per-field BM25 clauses (Lucene builds the per-field
    queries as SHOULD clauses of one BooleanQuery). Explicitly
    scoped subtrees (``path:foo``) are left untouched, as are
    boolean structure, NOT/+/-, boosts, and minimum-match.

    `fields` maps field name -> boost weight; `default_field` maps
    to the bare (unscoped) leaf so content queries keep their exact
    single-field plan. Returns a rewritten AST — feed it to either
    executor's search(); with `fields` naming indexed full-text
    fields (build(indexed_cols=...)), each clause scores with its
    field's own BM25 norms.
    """
    from lucille_spark import ast
    from lucille_spark.parser import parse

    if isinstance(query, str):
        query = parse(query)

    def leaf_alt(leaf, field: str, weight: float):
        sub = leaf if field == default_field else ast.Field(field, leaf)
        if weight != 1.0:
            sub = ast.Boost(sub, float(weight))
        return sub

    def rw(n):
        if isinstance(n, ast.Field):
            return n  # explicit scope wins — do not multiply
        if isinstance(n, ast.TermQuery):
            alts = [leaf_alt(n, f, w) for f, w in fields.items()]
            if len(alts) == 1:
                return alts[0]
            return ast.Group(ast.Or(tuple(alts)))
        if isinstance(n, ast.Or):
            return ast.Or(tuple(rw(c) for c in n.qs))
        if isinstance(n, ast.And):
            return ast.And(tuple(rw(c) for c in n.qs))
        if isinstance(n, ast.MinimumMatch):
            return ast.MinimumMatch(tuple(rw(c) for c in n.qs), n.num)
        if isinstance(n, ast.Not):
            return ast.Not(rw(n.q))
        if isinstance(n, ast.UnaryPlus):
            return ast.UnaryPlus(rw(n.q))
        if isinstance(n, ast.UnaryMinus):
            return ast.UnaryMinus(rw(n.q))
        if isinstance(n, ast.Group):
            return ast.Group(rw(n.q))
        if isinstance(n, ast.Boost):
            return ast.Boost(rw(n.q), n.boost)
        return n

    return rw(query)


def span_position_range(
    index, term_text: str, start: int, end: int, k: int = 10
) -> DataFrame:
    """Lucene SpanPositionRangeQuery: like span_first but with BOTH
    bounds — qualifying occurrences have position in [start, end).
    span_first == span_position_range(start=0). Same plan: one
    file-pruned term-pushed scan, position filter as an array HOF in
    codegen, tf = qualifying count. -> (doc_id, score) top-k."""
    if not (0 <= int(start) < int(end)):
        raise ValueError("span_position_range: need 0 <= start < end")
    return _span_positions(index, term_text, int(start), int(end), k)


def span_first(index, term_text: str, end: int, k: int = 10) -> DataFrame:
    """Lucene SpanFirstQuery: docs where the (analyzed) term occurs
    within the first `end` positions, scored like the term but with
    tf = the number of QUALIFYING occurrences (position < end) —
    title-ish boosting without a separate field. The position filter
    is an array HOF over the flat postings' position list, all in
    codegen; the scan is file-pruned and term-pushed like any term
    query. -> (doc_id, score) top-k."""
    return _span_positions(index, term_text, 0, int(end), k)


def _span_positions(
    index, term_text: str, start: int, end: int, k: int
) -> DataFrame:
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col

    node = index.plan(term_text)
    if isinstance(node, P.PMatchNone):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    assert isinstance(node, P.PTerm), "span queries take a single term"
    src = getattr(index, "flat_for", None)
    flat = src([node.term]) if src else index.flat
    rows = _drop_deleted(index, flat.filter(F.col("term") == node.term))
    tf2 = F.size(
        F.filter(
            F.col("positions"),
            lambda p: (p >= F.lit(int(start))) & (p < F.lit(int(end))),
        )
    )
    avgdl = node.avgdl or float(index.stats["avg_dl"])
    return (
        rows.select(
            "doc_id",
            tf2.alias("_tf"),
            F.col("doc_len"),
        )
        .filter(F.col("_tf") > 0)
        .select(
            "doc_id",
            _score_col(
                node.sim, F.col("_tf"), F.col("doc_len"), node.idf,
                avgdl, node.tw,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_not(
    index,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
) -> DataFrame:
    """Lucene SpanNotQuery: occurrences of `include` that are NOT
    within `pre` positions before / `post` positions after any
    occurrence of `exclude` ("apple" but not near "pie"). Scored
    like the include term with tf = the QUALIFYING occurrence count
    (the span_first contract). pre=post=0 means only exact
    position collisions remove an occurrence.

    Plan: one file-pruned scan of the two terms' postings, ONE
    groupBy(doc_id) pairing the position arrays, the overlap filter
    is nested array HOFs in codegen. Docs without the exclude term
    keep every include occurrence (left join semantics via the
    _nt count). -> (doc_id, score) top-k."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col

    node = index.plan(include)
    if isinstance(node, P.PMatchNone):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    assert isinstance(node, P.PTerm), "span_not takes single terms"
    exc_node = index.plan(exclude)
    exc_term = (
        exc_node.term if isinstance(exc_node, P.PTerm) else None
    )
    terms = [node.term] + ([exc_term] if exc_term else [])
    src = getattr(index, "flat_for", None)
    flat = src(terms) if src else index.flat
    flat = _drop_deleted(index, flat.filter(F.col("term").isin(terms)))
    g = flat.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))
        ).alias("pm"),
        F.max("doc_len").alias("doc_len"),
    )
    inc = F.col("pm")[node.term]
    exc = F.coalesce(
        F.col("pm")[exc_term] if exc_term else F.lit(None),
        F.array().cast("array<int>"),
    )
    lo, hi = int(pre), int(post)
    keep = F.filter(
        inc,
        lambda p: ~F.exists(
            exc, lambda e: (e >= p - F.lit(lo)) & (e <= p + F.lit(hi))
        ),
    )
    avgdl = node.avgdl or float(index.stats["avg_dl"])
    return (
        g.filter(inc.isNotNull())
        .select("doc_id", F.size(keep).alias("_tf"), "doc_len")
        .filter(F.col("_tf") > 0)
        .select(
            "doc_id",
            _score_col(
                node.sim, F.col("_tf"), F.col("doc_len"), node.idf,
                avgdl, node.tw,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def field_stats(
    executor,
    query,
    field: str,
    percentiles: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """ES `stats` + `percentiles` aggregations over the FULL match
    set of `query` for a numeric stored field: count, min, max, avg,
    sum plus exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`). Only matching doc ids shuffle; the
    aggregation is one partial+final pass.
    -> one row (n, min, max, avg, sum, p<P>...)."""
    matches = executor.search(query, k=None).select("doc_id")
    meta = executor.ix.doclens.select(
        "doc_id", F.col(field).cast("double").alias("_v")
    )
    j = matches.join(meta, "doc_id")
    aggs = [
        F.count("*").alias("n"),
        F.min("_v").alias("min"),
        F.max("_v").alias("max"),
        F.round(F.avg("_v"), 4).alias("avg"),
        F.round(F.sum("_v"), 4).alias("sum"),
    ]
    for p in percentiles:
        aggs.append(
            F.round(F.expr(f"percentile(_v, {float(p)})"), 4).alias(
                f"p{int(round(p * 100))}"
            )
        )
    return j.agg(*aggs)


def sort_by(
    executor,
    query,
    field: str,
    ascending: bool = True,
    k: int = 10,
    numeric: bool = False,
    after=None,
) -> DataFrame:
    """ES `sort` clause: order the match set by a STORED field
    instead of relevance (date/price/length listings). The field
    joins from doclens after matching — only matching doc ids
    shuffle — and the result is a TakeOrderedAndProject on
    (field, doc_id), never a global sort. `numeric=True` compares
    the stored value as a number (Lucene points semantics).

    `after` is ES `search_after` — the DEEP-pagination shape (the
    `from` offset re-ranks the whole prefix; this filters it out
    before the sort, so page 10 000 costs the same as page 1):
    `(value,)` keeps rows strictly past `value` in sort order;
    `(value, doc_id)` additionally skips ties up to the tie-break
    cursor. The cursor filter is a plain predicate, evaluated
    before TakeOrderedAndProject. -> (doc_id, <field>) top-k, ties
    broken by doc_id asc."""
    matches = executor.search(query, k=None).select("doc_id")
    col = F.col(field)
    if numeric:
        col = col.cast("double")
    meta = executor.ix.doclens.select("doc_id", col.alias(field))
    key = F.asc(field) if ascending else F.desc(field)
    j = matches.join(meta, "doc_id")
    if after is not None:
        av = after[0]
        past = (
            F.col(field) > F.lit(av)
            if ascending
            else F.col(field) < F.lit(av)
        )
        if len(after) > 1:
            past = past | (
                (F.col(field) == F.lit(av))
                & (F.col("doc_id") > int(after[1]))
            )
        j = j.filter(past)
    return j.orderBy(key, F.asc("doc_id")).limit(k)


def match_count(executor, query) -> DataFrame:
    """ES `_count` endpoint: how many docs match, no page, no
    ranking. Evaluates the plan and aggregates — Catalyst eliminates
    the top-k sort entirely (no global ordering is ever built), so
    this is a pushed-filter scan + a count, the cheapest possible
    shape. -> DataFrame(n long), one row."""
    node = executor.ix.plan(query)
    df = executor.evaluate(node)
    dd = getattr(executor.ix, "deleted_df", None)
    if dd is not None:
        df = df.join(F.broadcast(dd), "doc_id", "left_anti")
    return df.agg(F.count("*").alias("n"))


def term_vector(index, doc_id: int) -> DataFrame:
    """Lucene/ES `_termvectors`: one document's (term, tf, positions)
    from the flat postings. The postings layout is term-sorted, so a
    doc_id filter cannot file-prune — acceptable for a debug/API
    call (parquet still row-group-skips on the doc_id min/max within
    each term run); a forward index would be the serving-scale
    answer. -> (term, tf, positions csv) in term order."""
    return (
        _drop_deleted(
            index, index.flat.filter(F.col("doc_id") == int(doc_id))
        )
        .select(
            "term",
            "tf",
            F.array_join(F.col("positions"), ",").alias("positions"),
        )
        .orderBy("term")
    )


_FSCORE_MODIFIERS = {
    "none": lambda c: c,
    "log1p": lambda c: F.log1p(c),
    "sqrt": lambda c: F.sqrt(c),
    "reciprocal": lambda c: F.lit(1.0) / c,
}


def function_score(
    executor,
    query,
    factor_col: str,
    modifier: str = "log1p",
    weight: float = 1.0,
    mode: str = "multiply",
    k: int = 10,
) -> DataFrame:
    """ES `function_score` with a `field_value_factor`: rescale the
    relevance score by a per-document numeric signal (recency,
    popularity, length, ...) — final = bm25 <mode> weight *
    modifier(factor). `mode` is "multiply" or "sum"; `modifier` one
    of none | log1p | sqrt | reciprocal. The factor joins from
    doclens (the per-doc metadata table) AFTER matching, so only the
    match set shuffles; the modifier arithmetic is all codegen.
    -> (doc_id, score) top-k in (score desc, doc_id asc) order."""
    fn = _FSCORE_MODIFIERS[modifier]
    matches = executor.search(query, k=None)
    meta = executor.ix.doclens.select(
        "doc_id", F.col(factor_col).cast("double").alias("_fv")
    )
    joined = matches.join(meta, "doc_id")
    factor = F.lit(float(weight)) * fn(F.col("_fv"))
    combined = (
        F.col("score") * factor
        if mode == "multiply"
        else F.col("score") + factor
    )
    return (
        joined.select("doc_id", combined.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_rrf(
    executor,
    emb_df: DataFrame,
    query,
    query_vec,
    k: int = 10,
    k0: int = 60,
    depth: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid lexical + vector retrieval fused with Reciprocal Rank
    Fusion (Cormack et al. 2009 — the ES/OpenSearch hybrid-search
    default): take the top-`depth` BM25 page and the top-`depth`
    cosine page, then rrf(d) = sum over lists of 1/(k0 + rank_d),
    missing-from-a-list contributes 0. Ranks are 1-based positions
    in each list's own (score desc, id asc) order.

    Scale shape: both retrievals are already top-k-pruned
    (TakeOrderedAndProject / WAND); ranking and fusing happen on
    2*depth rows — the window runs on a single tiny partition, and
    the join is a broadcast of page-sized sets. -> (doc_id, score)
    top-k by (rrf desc, doc_id asc)."""
    from pyspark.sql import Window

    from lucille_spark.ops.similarity import cosine_topk

    w_lex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        executor.search(query, k=depth)
        .withColumn("r", F.row_number().over(w_lex))
        .select("doc_id", "r")
    )
    w_vec = Window.orderBy(F.desc("cosine"), F.asc(id_col))
    vec = (
        cosine_topk(emb_df, vec_col, query_vec, k=depth, id_col=id_col)
        .withColumn("r", F.row_number().over(w_vec))
        .select(F.col(id_col).alias("doc_id"), "r")
    )
    kk = float(k0)
    fused = (
        lex.select("doc_id", (F.lit(1.0) / (F.lit(kk) + F.col("r"))).alias("c"))
        .unionAll(
            vec.select(
                "doc_id", (F.lit(1.0) / (F.lit(kk) + F.col("r"))).alias("c")
            )
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("score"))
    )
    return fused.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def significant_terms(
    executor,
    query,
    docs: DataFrame,
    k_terms: int = 10,
    sample: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_count: int = 2,
    background_filter=None,
    heuristic: str = "jlh",
    include_negatives: bool = True,
) -> DataFrame:
    """Elasticsearch `significant_terms` over a sampler aggregation:
    terms unusually frequent in the top-`sample` matches of `query`
    relative to the whole corpus, scored with a pluggable ES
    significance `heuristic`:

    * ``jlh`` (ES default) — (fg% - bg%) * fg%/bg%, fg% = share of
      sampled matching docs containing the term, bg% = df/N from
      the dictionary; positive-signal terms only.
    * ``chi_square`` / ``mutual_information`` — ES's
      NXYSignificanceHeuristic 2x2 contingency table between term
      presence and subset membership with background_is_superset
      semantics (the background cells subtract the foreground:
      N11 = fg, N10 = bg - fg, N01 = nf - fg,
      N00 = (N - nf) - (bg - fg)): chi2 = N*(N11*N00 - N01*N10)^2
      / (N1_*N0_*N_1*N_0); MI = sum of Nxy/N * log2(N*Nxy /
      (Nx_*N_y)) over the four cells (empty cells contribute 0).
      With ``include_negatives=False``, terms whose foreground rate
      is below their background rate are dropped (ES's flag).
    * ``percentage`` — fg_count / bg_count (no background
      subtraction, matching ES PercentageScore).

    -> (term, fg_count, bg_count, score) in (score desc, term asc)
    order.

    Scale shape (the ES 'sampler' pattern, deliberately): the
    foreground is the top-k PAGE, not the full match set — its
    `sample` doc ids broadcast into a join against `docs`, whose
    text is re-analyzed in-plan with the index's own analyzer
    (vectorized expr, no UDF). Nothing rescans the postings: the
    background model is the prebuilt dictionary df. Cost is
    O(sample docs tokenized) + one small aggregation regardless of
    corpus size."""
    from lucille_spark.analysis import get_tokenize_expr

    ix = executor.ix
    top = executor.search(query, k=sample).select(id_col)
    n_fg = top.count()
    if n_fg == 0:
        return ix.spark.createDataFrame(
            [], "term string, fg_count long, bg_count long, score double"
        )
    tok = get_tokenize_expr(ix.stats.get("analyzer", "standard"))
    fg = (
        docs.join(F.broadcast(top), id_col)
        .select(F.explode(F.array_distinct(tok(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("fg_count"))
    )
    if background_filter is None:
        n = float(ix.stats["n_docs"])
        bg = ix.terms_df.select(
            "term", F.col("df").alias("bg_count")
        )
    else:
        # ES background_filter: the background model is the
        # FILTER's match set, re-analyzed like the foreground (ES
        # recomputes frequencies the same way). Cost is
        # O(filter-match docs tokenized) — use bounded filters at
        # corpus scale; the unfiltered path stays on the prebuilt
        # dictionary df.
        bgm = executor.search(background_filter, k=None).select(
            id_col
        )
        n = float(bgm.count())
        if n == 0:
            return ix.spark.createDataFrame(
                [],
                "term string, fg_count long, bg_count long, "
                "score double",
            )
        bg = (
            docs.join(bgm, id_col)
            .select(
                F.explode(
                    F.array_distinct(tok(text_col))
                ).alias("term")
            )
            .groupBy("term")
            .agg(F.count("*").alias("bg_count"))
        )
    fgp = F.col("fg_count") / F.lit(float(n_fg))
    bgp = F.col("bg_count") / F.lit(n)
    joined = fg.join(bg, "term").filter(
        F.col("fg_count") >= min_doc_count
    )
    if heuristic == "jlh":
        scored = joined.withColumn(
            "score", (fgp - bgp) * fgp / bgp
        ).filter(F.col("score") > 0)
    elif heuristic == "percentage":
        scored = joined.withColumn(
            "score", F.col("fg_count") / F.col("bg_count")
        )
    elif heuristic in ("chi_square", "mutual_information"):
        n11 = F.col("fg_count").cast("double")
        n10 = (F.col("bg_count") - F.col("fg_count")).cast("double")
        n01 = F.lit(float(n_fg)) - n11
        n00 = F.lit(n - float(n_fg)) - n10
        nn = F.lit(n)
        n1_, n0_ = n11 + n10, n01 + n00
        n_1, n_0 = n11 + n01, n10 + n00
        if heuristic == "chi_square":
            # a zero marginal (term in every doc / no doc, or an
            # empty complement) carries no signal: score 0 rather
            # than a division by zero
            den = n1_ * n0_ * n_1 * n_0
            score = F.when(
                den > 0,
                nn * F.pow(n11 * n00 - n01 * n10, F.lit(2.0)) / den,
            ).otherwise(F.lit(0.0))
        else:

            def mi_cell(nxy, nx, ny):
                return F.when(
                    nxy > 0,
                    nxy / nn * F.log2(nn * nxy / (nx * ny)),
                ).otherwise(F.lit(0.0))

            score = (
                mi_cell(n11, n1_, n_1)
                + mi_cell(n10, n1_, n_0)
                + mi_cell(n01, n0_, n_1)
                + mi_cell(n00, n0_, n_0)
            )
        scored = joined.withColumn("score", score)
        if not include_negatives:
            scored = scored.filter(n11 / n_1 >= n10 / n_0)
    else:
        raise ValueError(
            f"unknown significance heuristic {heuristic!r} (use "
            "jlh / chi_square / mutual_information / percentage)"
        )
    return scored.orderBy(
        F.desc("score"), F.asc("term")
    ).limit(k_terms)


def dis_max(index, queries, tie: float = 0.0):
    """Lucene DisjunctionMaxQuery over already-planned subqueries:
    matches the union of `queries` (strings, ASTs, or PNodes); per
    doc, score = max(matching clause scores) + tie * (sum of the
    others). Returns a physical PDisMax — feed it to either
    executor's search() (both accept pre-built plans). tie=0 is the
    pure "best clause wins" semantics; tie=1 degenerates to Boolean
    OR sum scoring."""
    from lucille_spark import plans as P

    kids = tuple(index.plan(q) for q in queries)
    return P.PDisMax(kids, float(tie))


def best_fields(
    index,
    query,
    fields: dict,
    tie: float = 0.0,
    default_field: str = "content",
):
    """Elasticsearch `multi_match type=best_fields`: the WHOLE query
    is scoped to each field (via the single-field multi_field
    rewrite, so per-field boosts and indexed-field norms apply) and
    the per-field variants combine under dis_max — a doc matching
    the query well in ONE field outranks a doc matching it weakly
    in many (contrast multi_field alone = most_fields sum)."""
    alts = [
        multi_field(query, {f: w}, default_field=default_field)
        for f, w in fields.items()
    ]
    return dis_max(index, alts, tie)


def bm25f_topk(
    index, query_text: str, weights: dict, k: int = 10,
    operator: str = "or",
):
    """True BM25F (Robertson & Zaragoza's simple BM25F): per query
    term, field tfs merge with field weights BEFORE the saturation
    curve —

        tf~ = sum_f w_f * tf_f,   dl~ = sum_f w_f * len_f,
        avgdl~ = sum_f w_f * avgdl_f,
        score = sum_t idf_u(t) * tf~ / (tf~ + k1*(1-b + b*dl~/avgdl~))

    with idf_u over the UNION df (docs containing t in ANY weighted
    field, computed in-plan). `operator="and"` (ES combined_fields
    operator) gates the result on EVERY distinct query term matching
    in at least one field — one extra count in the existing per-doc
    aggregation, scores unchanged. This differs from `multi_field`, which
    scores each field separately and sums AFTER saturation — BM25F is
    the principled model when a term in both title and body should
    saturate jointly.

    `weights` maps "content" and/or indexed full-text fields (built
    with indexed_cols=...) to weights; field lengths come from the
    doclens len_<field> columns the build records. Declarative plan:
    one union of pushed-filter postings scans, one (doc, term)
    aggregation, a tiny broadcast df join, one doclens join, one
    final per-doc sum into TakeOrderedAndProject — everything in
    whole-stage codegen, query-term count only affects the IN-list.
    -> (doc_id, score) desc."""
    from pyspark.sql import functions as F

    from lucille_spark.scoring import B, K1

    ix = index
    terms = ix.planner.tokenize(query_text)
    if not terms:
        return ix.spark.createDataFrame([], "doc_id long, score double")
    qcnt: dict = {}
    for t in terms:
        qcnt[t] = qcnt.get(t, 0) + 1
    uniq = sorted(qcnt)

    avgdl_w = 0.0
    parts = []
    all_keys = []
    for f, w in weights.items():
        if f == ix.planner.default_field:
            avgdl_w += w * float(ix.stats["avg_dl"])
            keys = uniq
            base = F.col("term")
        else:
            if f not in ix.planner.indexed_fields:
                raise ValueError(f"{f!r} is not an indexed field")
            avgdl_w += w * float(ix.planner.indexed_fields[f])
            keys = [f + ":" + t for t in uniq]
            base = F.substring(F.col("term"), len(f) + 2, 1_000_000)
        all_keys.extend(keys)
        rows = ix.flat_for(keys).filter(F.col("term").isin(keys))
        parts.append(
            rows.select(
                "doc_id",
                base.alias("base"),
                (F.col("tf").cast("double") * F.lit(float(w))).alias(
                    "wtf"
                ),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    g = u.groupBy("doc_id", "base").agg(F.sum("wtf").alias("tfw"))
    dfu = g.groupBy("base").agg(F.count(F.lit(1)).alias("dfu"))

    dl_cols = []
    for f, w in weights.items():
        col = (
            F.col("doc_len")
            if f == ix.planner.default_field
            else F.col(f"len_{f}")
        )
        dl_cols.append(col.cast("double") * F.lit(float(w)))
    dlw = sum(dl_cols[1:], dl_cols[0])
    dl = ix.doclens.select("doc_id", dlw.alias("dlw"))

    n = int(ix.stats["n_docs"])
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.col("dfu") + F.lit(0.5))
        / (F.col("dfu") + F.lit(0.5))
    )
    qmap = F.create_map(
        *[F.lit(x) for t in qcnt for x in (t, float(qcnt[t]))]
    )
    per_term = (
        g.join(F.broadcast(dfu), "base")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                qmap[F.col("base")].cast("double")
                * idf
                * F.col("tfw")
                / (
                    F.col("tfw")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dlw") / F.lit(avgdl_w)
                    )
                )
            ).alias("s"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.sum("s").alias("score"),
        F.count(F.lit(1)).alias("_m"),
    )
    if str(operator).lower() == "and":
        # per_term is one row per (doc, distinct term): m == n_terms
        # iff every query term matched in some weighted field
        scored = scored.filter(F.col("_m") == len(uniq))
    scored = scored.drop("_m")
    return (
        _drop_deleted(ix, scored)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def expand_synonyms(query, synonyms: dict):
    """Query-time synonym expansion: rewrite every Term whose text has
    an entry in `synonyms` into a parenthesized disjunction of the
    term and its synonyms — ``table`` with {"table": ["row"]} becomes
    ``(table OR row)`` — then return the rewritten AST (feed it to
    either executor's search(); SparkIndex.plan accepts ASTs).

    Semantics are documented as QUERY-EXPANSION (each synonym scores
    as its own BM25 term inside an OR), not Lucene SynonymQuery's
    blended-df single-term scoring — the expansion is therefore
    exactly equivalent to the user having typed the disjunction, and
    shares the OR oracle. Rewrite happens on the AST via traverse_q
    (reference Query.scala:40 — the traversal the reference ships for
    exactly this kind of leaf rewriting); Phrase/Prefix/Field terms
    are left untouched.
    """
    from lucille_spark import ast
    from lucille_spark.parser import parse

    if isinstance(query, str):
        query = parse(query)

    def rw(leaf):
        if isinstance(leaf, ast.Term):
            alts = synonyms.get(leaf.value)
            if alts:
                return ast.Group(
                    ast.Or((leaf,) + tuple(ast.Term(a) for a in alts))
                )
        return leaf

    return query.traverse_q(rw)


def collapse_topk(
    executor,
    query: str,
    group_col: str = "lang",
    k: int = 3,
    group_size: int = 2,
) -> DataFrame:
    """Result grouping / field collapse (Lucene grouping module,
    Elasticsearch `collapse`): rank GROUPS by their best document,
    return the top-`group_size` docs inside each of the top-`k`
    groups. Within a group docs order by (score desc, doc_id asc);
    groups order by their head doc's (score desc, doc_id asc) — all
    ties deterministic.

    Scale (100 TB): the match set joins doclens on doc_id (matching
    docs only), then ONE window shuffle partitioned by the group key
    computes within-group ranks; the group-ranking window runs over
    at most one row per group (the heads) — low cardinality by
    construction, so the unpartitioned window is a few thousand rows
    on the driver-side stage, never the corpus.

    -> (group_col, grp_rank, doc_rank, doc_id, score) with score
    rounded to 4 (hash-stable for the driver gate).
    """
    from pyspark.sql import Window

    matches = executor.search(query, k=None)
    meta = executor.ix.doclens.select("doc_id", group_col)
    j = matches.join(meta, "doc_id")
    w_in = Window.partitionBy(group_col).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = j.withColumn("doc_rank", F.row_number().over(w_in)).filter(
        F.col("doc_rank") <= group_size
    )
    heads = ranked.filter(F.col("doc_rank") == 1).select(
        group_col,
        F.col("score").alias("_hs"),
        F.col("doc_id").alias("_hd"),
    )
    w_g = Window.orderBy(F.desc("_hs"), F.asc("_hd"))
    top_groups = (
        heads.withColumn("grp_rank", F.row_number().over(w_g))
        .filter(F.col("grp_rank") <= k)
        .select(group_col, "grp_rank")
    )
    return ranked.join(F.broadcast(top_groups), group_col).select(
        group_col,
        "grp_rank",
        "doc_rank",
        "doc_id",
        F.round("score", 4).alias("score"),
    )


def explain_doc(executor, query: str, k: int = 10) -> DataFrame:
    """Lucene `IndexSearcher.explain` parity for flat term booleans:
    the per-(doc, term) BM25 breakdown behind each top-k score —

        contrib = idf * tf / (tf + k1*(1-b + b*dl/avgdl))

    -> (doc_id, term, tf, doc_len, idf, contrib, score) for every
    query term present in each of the top-k docs, ordered
    (doc_id, term). `idf` carries any query-time boost folded in
    (exactly what the scorer used); `score` repeats the doc's total.

    Supported: queries whose plan is a flat AND/OR of (possibly
    boosted) scoring terms — the same class the pruned WAND kernel
    accepts (exec_wand._flat_terms). Raises ValueError otherwise.

    Scale: the top-k frame (k rows) is broadcast against the
    file-pruned postings scan of the query's terms — no shuffle of
    the match set; everything else is scalar arithmetic in codegen.
    Tombstones: the inner join against executor.search's top-k (which
    is delete-filtered) keeps tombstoned docs out of the breakdown.
    """
    from lucille_spark.exec_wand import _flat_terms
    from lucille_spark.scoring import B, K1

    ix = executor.ix
    node = ix.plan(query)
    flat = _flat_terms(node)
    if flat is None:
        raise ValueError(
            "explain_doc supports flat AND/OR-of-terms queries only"
        )
    _, pterms = flat
    avgdl = float(ix.stats["avg_dl"])
    idf_map = F.create_map(
        *[x for t in pterms for x in (F.lit(t.term), F.lit(t.idf))]
    )
    adl_map = F.create_map(
        *[
            x
            for t in pterms
            for x in (F.lit(t.term), F.lit(t.avgdl or avgdl))
        ]
    )
    topk = executor.search(query, k=k).select(
        "doc_id", F.round("score", 4).alias("score")
    )
    src = getattr(ix, "flat_for", None)
    post = (
        src([t.term for t in pterms], ())
        if src is not None
        else ix.flat
    )
    post = post.filter(F.col("term").isin([t.term for t in pterms]))
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    idf = idf_map[F.col("term")]
    adl = adl_map[F.col("term")]
    contrib = idf * tf / (
        tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / adl)
    )
    return (
        post.join(F.broadcast(topk), "doc_id")
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("doc_len").cast("long").alias("doc_len"),
            F.round(idf, 6).alias("idf"),
            F.round(contrib, 4).alias("contrib"),
            "score",
        )
        .orderBy("doc_id", "term")
    )


def facet_ranges(
    executor,
    query: str,
    numeric_col: str,
    edges: list,
) -> DataFrame:
    """Numeric range facets over the FULL match set (Lucene facet
    module's LongRangeFacetCounts / ES range aggregation): buckets
    are [edges[i], edges[i+1]) half-open, labeled by their index.
    Docs outside [edges[0], edges[-1]) fall in no bucket; empty
    buckets are omitted (join semantics — the UI treats absent as 0).

    Scale: like facet_counts — the match set joins doclens on doc_id
    (matching docs only), bucket assignment is a scalar expression in
    codegen, and the aggregate runs partial map-side into at most
    len(edges)-1 rows. -> (bucket, lo, hi, n_docs).
    """
    lo, hi = edges[0], edges[-1]
    matches = executor.search(query, k=None)
    meta = executor.ix.doclens.select("doc_id", numeric_col)
    v = F.col(numeric_col).cast("double")
    bucket = F.when(
        (v >= F.lit(float(lo))) & (v < F.lit(float(hi))),
        F.array_max(
            F.array(
                *[
                    F.when(v >= F.lit(float(e)), F.lit(i)).otherwise(
                        F.lit(-1)
                    )
                    for i, e in enumerate(edges[:-1])
                ]
            )
        ),
    )
    edge_lo = F.create_map(
        *[
            x
            for i, e in enumerate(edges[:-1])
            for x in (F.lit(i), F.lit(float(e)))
        ]
    )
    edge_hi = F.create_map(
        *[
            x
            for i, e in enumerate(edges[1:])
            for x in (F.lit(i), F.lit(float(e)))
        ]
    )
    return (
        matches.join(meta, "doc_id")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            edge_lo[F.col("bucket")].alias("lo"),
            edge_hi[F.col("bucket")].alias("hi"),
            "n_docs",
        )
    )


def rescore(
    executor,
    query: str,
    rescore_query: str,
    window: int = 50,
    k: int = 10,
    weight: float = 2.0,
) -> DataFrame:
    """Two-phase ranking (the Elasticsearch rescorer / Lucene
    QueryRescorer): a cheap first-pass query ranks the top-`window`
    candidates, then an expensive `rescore_query` (typically a phrase
    or proximity) adjusts ONLY those candidates:

        combined = first_pass_score + weight * rescore_score

    with 0 contribution where the rescore query misses. Final order
    (combined desc, doc_id asc) limited to k. DataFrame-executor
    feature (drives its declarative evaluate()).

    Scale: the candidate page is `window` rows and is broadcast into
    the rescore join, and the rescore plan's postings scan stays
    term-filtered + file-pruned — the expensive query shape is priced
    against its own postings once, never against the corpus-sized
    first-pass match set. -> (doc_id, score).
    """
    cand = executor.search(query, k=window).select("doc_id", "score")
    node = executor.ix.plan(rescore_query)
    rs = executor.evaluate(node).select(
        "doc_id", F.col("score").alias("_rs")
    )
    return (
        F.broadcast(cand)
        .join(rs, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("score")
                + F.lit(float(weight)) * F.coalesce("_rs", F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def mine_hard_negatives(
    executor,
    train_queries: dict,
    k: int = 10,
    n_pos: int = 1,
) -> DataFrame:
    """BM25 hard-negative mining (the DPR / RocketQA training-data
    recipe): for each training query, the top-`n_pos` hits are
    labeled positives and ranks n_pos+1..k are HARD negatives — the
    lexically-confusable docs a dense retriever most needs to learn
    to reject. Rides the batched serving path (`search_many`: ONE
    Spark job / one segment scan for the whole query batch), which is
    exactly the shape for mining millions of training queries at
    100 TB — micro-batch the query stream, one job per batch.

    -> (query_id, doc_id, rank, score, label) with rank 1-based per
    query in (score desc, doc_id asc) order.
    """
    from pyspark.sql import Window

    res = executor.search_many(train_queries, k=k).select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    # rank over the ROUNDED score so downstream consumers (and the
    # driver oracle) see a stable order even where raw doubles differ
    # past the 4th decimal; doc_id breaks ties deterministically
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return res.withColumn("rank", F.row_number().over(w)).select(
        "query_id",
        "doc_id",
        "rank",
        "score",
        F.when(F.col("rank") <= n_pos, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    )


def rm3_expansion_terms(
    executor,
    query_text: str,
    fb_docs: int = 10,
    fb_terms: int = 10,
) -> list:
    """Relevance-model (RM3, Lavrenko & Croft / Anserini) expansion
    terms from pseudo-relevance feedback: run the original query,
    take the top-`fb_docs` page, and weight every term of those docs

        w(t) = sum_{d in top} tf(t, d) / dl(d) * score(d)

    (the doc's BM25 score stands in for its query likelihood). The
    top-`fb_terms` by (w rounded to 9 desc, term asc) — original
    query terms excluded — come back as [(term, w)]. The rounding
    makes the cutoff reproducible across engines where float-sum
    order differs past ~1e-12.

    Scale: reading the feedback docs' term vectors needs a
    doc-keyed access path into the term-sorted postings; the flat
    table is PARTITIONED BY SHARD, so the scan first prunes to the
    <= fb_docs shards holding the page (partition pruning — a
    driver-side filter on tiny collected values, the same protocol
    class as the pagination cursor), then the broadcast doc_id join
    drops everything but the page's rows. The per-term aggregate is
    map-side partial into dictionary-sized rows, and only fb_terms
    rows reach the driver.
    """
    ix = executor.ix
    orig = set(ix.planner.tokenize(query_text))
    topk = executor.search(query_text, k=fb_docs).select(
        "doc_id", F.col("score").alias("_s")
    )
    page = topk.join(
        ix.doclens.select("doc_id", "shard"), "doc_id"
    ).collect()
    shards = sorted({r["shard"] for r in page})
    topk = executor.ix.spark.createDataFrame(
        [(r["doc_id"], r["_s"]) for r in page],
        "doc_id long, _s double",
    )
    w = (
        ix.flat.filter(F.col("shard").isin(shards))
        .join(F.broadcast(topk), "doc_id")
        .filter(~F.col("term").isin(list(orig)))
        .groupBy("term")
        .agg(
            F.sum(
                F.col("tf").cast("double")
                / F.col("doc_len").cast("double")
                * F.col("_s")
            ).alias("w")
        )
        .orderBy(F.desc(F.round("w", 9)), F.asc("term"))
        .limit(fb_terms)
    )
    return [(r["term"], float(r["w"])) for r in w.collect()]


def rm3_search(
    executor,
    query_text: str,
    fb_docs: int = 10,
    fb_terms: int = 10,
    orig_weight: float = 0.5,
    k: int = 10,
):
    """RM3 pseudo-relevance-feedback search: original bag-of-words
    terms keep weight `orig_weight` each; the feedback expansion
    terms share (1 - orig_weight) in proportion to their relevance-
    model weight (w / sum(w)). The expanded query is an OR of boosted
    Term nodes — plain engine AST, so it runs on EITHER executor
    (boosts fold into idf on the WAND path and still prune).
    -> the executor's (doc_id, score) top-k for the expanded query.
    """
    from lucille_spark import ast

    terms = executor.ix.planner.tokenize(query_text)
    exp = rm3_expansion_terms(executor, query_text, fb_docs, fb_terms)
    total = sum(w for _, w in exp) or 1.0
    clauses = [
        ast.Boost(ast.Term(t), float(orig_weight)) for t in terms
    ] + [
        ast.Boost(
            ast.Term(t), float((1.0 - orig_weight) * w / total)
        )
        for t, w in exp
    ]
    if len(clauses) == 1:
        return executor.search(clauses[0], k=k)
    return executor.search(ast.Or(tuple(clauses)), k=k)


def remove_stopwords(query, stopwords):
    """Query-time stopword removal (Lucene StopFilter semantics at
    the query layer): drop Term clauses whose value is in
    `stopwords` from boolean lists, preserving the reference AST's
    >=2-children invariant by unwrapping a single survivor. A query
    that is ENTIRELY stopwords returns None (Lucene's
    BooleanQuery-with-no-clauses — match nothing; callers decide the
    UX). Non-Term leaves (phrases, prefixes, fields, ranges) are
    never touched — removing words inside a phrase would change its
    meaning, which is an analyzer decision, not a query rewrite.
    Structural nodes (And/Or/Group/Boost/Not/...) rebuild around
    surviving children.
    """
    from lucille_spark import ast

    sw = set(stopwords)

    def rw(n):
        if isinstance(n, ast.Term):
            return None if n.value in sw else n
        if isinstance(n, (ast.And, ast.Or)):
            kids = [rw(c) for c in n.qs]
            kids = [c for c in kids if c is not None]
            if not kids:
                return None
            if len(kids) == 1:
                return kids[0]
            return type(n)(tuple(kids))
        if isinstance(n, ast.Group):
            inner = rw(n.q)
            return None if inner is None else ast.Group(inner)
        if isinstance(n, ast.Boost):
            inner = rw(n.q)
            return None if inner is None else ast.Boost(inner, n.boost)
        if isinstance(n, ast.Not):
            inner = rw(n.q)
            return None if inner is None else ast.Not(inner)
        if isinstance(n, ast.UnaryPlus):
            inner = rw(n.q)
            return None if inner is None else ast.UnaryPlus(inner)
        if isinstance(n, ast.UnaryMinus):
            inner = rw(n.q)
            return None if inner is None else ast.UnaryMinus(inner)
        if isinstance(n, ast.MinimumMatch):
            kids = [rw(c) for c in n.qs]
            kids = [c for c in kids if c is not None]
            if not kids:
                return None
            # Lucene adjusts minimumNumberShouldMatch down as optional
            # clauses vanish, floored at 1
            m = max(1, min(n.num, len(kids)))
            if len(kids) == 1:
                return kids[0]
            return ast.MinimumMatch(tuple(kids), m)
        if isinstance(n, ast.Field):
            inner = rw(n.q)
            return None if inner is None else ast.Field(n.field, inner)
        return n

    if isinstance(query, str):
        from lucille_spark.parser import parse

        query = parse(query)
    return rw(query)


def span_near(
    index, term_texts, slop: int = 0, in_order: bool = True, k: int = 10
) -> DataFrame:
    """Lucene SpanNearQuery: docs where all (analyzed) terms occur
    with total span <= len(terms) + slop - 1 positions, in query
    order (`in_order=True`) or in ANY order (`in_order=False` — the
    piece plain phrase-with-slop can't express). Scored like a
    sloppy phrase: tf = 1, idf from the min member df (the PPhrase
    contract), so ordered span_near ranks identically to
    `"a b"~slop`.

    A slot may be a LIST of alternatives (Lucene SpanOrQuery inside
    SpanNearQuery): `["spark", ["batch", "window"]]` matches spark
    near batch-or-window; the slot's positions are the union of its
    members' and its df is the MAX member df (the SynonymQuery
    convention), with the pseudo-df still the min over slots.

    Scale: ONE scan of the span terms' postings + ONE
    groupBy(doc_id) building per-term position arrays; the
    window-existence check is nested array `exists` HOFs in
    whole-stage codegen (positions per doc are short — bounded by
    per-doc tf). Same shuffle shape as the phrase operator.
    -> (doc_id, score) top-k."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col

    if any(isinstance(t, (list, tuple)) for t in term_texts):
        return _span_near_or(
            index, term_texts, slop, in_order, k
        )
    quoted = '"' + " ".join(term_texts) + '"'
    if slop:
        quoted += f"~{slop}"
    node = index.plan(quoted)
    if isinstance(node, P.PMatchNone):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    assert isinstance(node, P.PPhrase), "span_near needs >= 2 terms"
    m = len(node.terms)
    max_span = m - 1 + slop  # max(pos) - min(pos) allowed
    distinct = sorted(set(node.terms))
    src = getattr(index, "flat_for", None)
    flat = src(distinct) if src else index.flat
    flat = flat.filter(F.col("term").isin(distinct))
    g = (
        _drop_deleted(index, flat)
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm"),
            F.max("doc_len").alias("doc_len"),
            F.count("*").alias("_nt"),
        )
        .filter(F.col("_nt") == len(distinct))
    )
    pos = [F.col("pm")[t] for t in node.terms]

    def window_exists(chosen):
        i = len(chosen)
        if i == m:
            span = F.greatest(*chosen) - F.least(*chosen)
            ok = span <= F.lit(max_span)
            if in_order:
                for a, b in zip(chosen, chosen[1:]):
                    ok = ok & (a < b)
            return ok
        return F.exists(pos[i], lambda p: window_exists(chosen + [p]))

    j = g.filter(window_exists([]))
    avgdl = node.avgdl or float(index.stats["avg_dl"])
    return (
        j.select(
            "doc_id",
            _score_col(
                node.sim, F.lit(1), F.col("doc_len"), node.idf,
                avgdl, node.tw,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _span_near_or(index, term_texts, slop, in_order, k) -> DataFrame:
    """span_near with SpanOr slots: each slot is a string or a list
    of alternative strings. Slot positions = union of the member
    position arrays; slot df = max member df (SynonymQuery
    convention); pseudo-df = min over slots (the PPhrase contract,
    so a plain slot degenerates to span_near exactly)."""
    from lucille_spark.exec_df import _score_col

    planner = index.planner
    slots: list = []
    for t in term_texts:
        alts = list(t) if isinstance(t, (list, tuple)) else [t]
        toks: list = []
        for a in alts:
            at = planner.tokenize(a)
            if len(at) != 1:
                raise ValueError(
                    f"span slot alternative {a!r} must analyze to "
                    f"one token (got {at})"
                )
            toks.append(at[0])
        slots.append(sorted(set(toks)))
    m = len(slots)
    if m < 2:
        raise ValueError("span_near needs >= 2 slots")
    all_terms = sorted({t for s in slots for t in s})
    dfs = planner.dict.lookup_df(all_terms)
    slot_dfs = [
        max((dfs.get(t, 0) for t in s), default=0) for s in slots
    ]
    if any(d == 0 for d in slot_dfs):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    cfs = planner._cfs(all_terms)
    df_proxy = min(slot_dfs)
    cf_proxy = min(
        max((cfs.get(t, 1) for t in s), default=1) for s in slots
    )
    w, tw = planner._weight(df_proxy, cf_proxy)

    live = [t for t in all_terms if dfs.get(t, 0) > 0]
    src = getattr(index, "flat_for", None)
    flat = src(live) if src else index.flat
    flat = flat.filter(F.col("term").isin(live))
    g = (
        _drop_deleted(index, flat)
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm"),
            F.max("doc_len").alias("doc_len"),
        )
    )
    empty = F.array().cast("array<int>")

    def slot_pos(members):
        arrs = [
            F.coalesce(F.col("pm")[t], empty) for t in members
        ]
        u = arrs[0]
        for a in arrs[1:]:
            u = F.concat(u, a)
        return F.array_distinct(u)

    g = g.select(
        "doc_id", "doc_len",
        *[slot_pos(s).alias(f"sp{i}") for i, s in enumerate(slots)],
    )
    for i in range(m):
        g = g.filter(F.size(F.col(f"sp{i}")) > 0)
    pos = [F.col(f"sp{i}") for i in range(m)]
    max_span = m - 1 + slop

    def window_exists(chosen):
        i = len(chosen)
        if i == m:
            span = F.greatest(*chosen) - F.least(*chosen)
            ok = span <= F.lit(max_span)
            if in_order:
                for a, b in zip(chosen, chosen[1:]):
                    ok = ok & (a < b)
            return ok
        return F.exists(pos[i], lambda p: window_exists(chosen + [p]))

    j = g.filter(window_exists([]))
    avgdl = float(index.stats["avg_dl"])
    return (
        j.select(
            "doc_id",
            _score_col(
                planner.similarity, F.lit(1), F.col("doc_len"), w,
                avgdl, tw,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def top_hits(
    executor, query, group_field: str, n_per_group: int = 3
) -> DataFrame:
    """Elasticsearch `top_hits` aggregation: bucket the FULL match
    set by a metadata field and keep the n best-scoring docs per
    bucket (the "show me the top 3 results per language/source"
    query — sampling representative docs per slice at corpus
    scale).

    Scale: match set only (never the corpus) shuffles once on the
    group key for the window rank; skew bounded by n_per_group
    output rows per bucket. -> (group value, rank, doc_id, score)
    ordered by (group, rank)."""
    from pyspark.sql import Window

    res = executor.search(query, k=None, with_meta=True)
    w = Window.partitionBy(group_field).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        res.select(group_field, "doc_id", "score")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= n_per_group)
        .select(group_field, "rank", "doc_id", F.round("score", 4).alias("score"))
        .orderBy(group_field, "rank")
    )


def constant_score(executor, query, boost: float = 1.0, k=None) -> DataFrame:
    """Lucene/ES `constant_score`: every doc in the match set gets
    exactly `boost` — filter semantics with a fixed score (no idf/tf
    influence, no per-doc float drift; the standard wrapper for
    filter legs of hybrid queries). Ties broken by doc_id, so top-k
    is the k lowest ids of the match set."""
    df = executor.search(query, k=None).select(
        "doc_id", F.lit(float(boost)).alias("score")
    )
    df = df.orderBy(F.asc("doc_id"))
    return df.limit(k) if k is not None else df


def boosting_query(
    executor, positive, negative, negative_boost: float = 0.5, k: int = 10
) -> DataFrame:
    """Elasticsearch `boosting` query: match + score by `positive`;
    docs ALSO matching `negative` keep their rank presence but have
    their score multiplied by `negative_boost` (demotion without
    exclusion — the middle ground between OR and AND NOT).

    Scale: two match sets, one left join on doc_id (the negative leg
    reduces to (doc_id) rows — no payload shuffle).
    -> (doc_id, score) top-k."""
    pos = executor.search(positive, k=None)
    neg = (
        executor.search(negative, k=None)
        .select("doc_id")
        .withColumn("_neg", F.lit(True))
    )
    return (
        pos.join(neg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("_neg").isNotNull(),
                F.col("score") * F.lit(float(negative_boost)),
            )
            .otherwise(F.col("score"))
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def cardinality_agg(executor, query, field: str):
    """Elasticsearch `cardinality` aggregation: approximate distinct
    count of a metadata field over the FULL match set, via the
    mergeable HyperLogLog register table (ops/sketch.py) — the same
    sketch a 100 TB deployment stores per partition and merges, so
    "distinct sources matching <query>" costs one match-set scan +
    a 256-row aggregate, never a shuffle of the field values.
    -> one row (n_buckets_set, raw_estimate, estimate)."""
    from lucille_spark.ops.sketch import approx_distinct

    res = executor.search(query, k=None, with_meta=True).select(field)
    return approx_distinct(res, field)


def match_phrase_prefix(
    index, text: str, k: int = 10, max_expansions: int = 50
) -> DataFrame:
    """ES `match_phrase_prefix` — MULTI-WORD search-as-you-type:
    the fixed leading tokens must appear as an exact phrase, and the
    in-flight LAST token matches any dictionary completion ("spark
    bat" hits "spark batch ..."). Lucene MultiPhraseQuery semantics
    with `max_expansions` cap (lexicographic-first, like Lucene's
    term-enum order). Scored BM25 with tf = number of qualifying
    phrase starts and idf from the min of the fixed terms' dfs and
    the UNION df of the expansions (a MultiPhrase position counts
    once no matter how many completions land there).

    Scale: expansions resolve on the driver dictionary (no postings
    touched), then ONE file-pruned scan of the involved terms + ONE
    groupBy(doc_id) — the phrase shuffle shape; the start/completion
    intersection is array HOFs in codegen. -> (doc_id, score) top-k."""
    from lucille_spark import ast as A
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col
    from lucille_spark.scoring import idf as _idf

    toks = index.planner.tokenize(text)
    if len(toks) < 2:
        raise ValueError(
            "match_phrase_prefix needs >= 2 tokens; use "
            "autocomplete.search_as_you_type for single-term input"
        )
    fixed, pre = toks[:-1], toks[-1]
    exp_node = index.planner.plan(A.Prefix(pre))
    if isinstance(exp_node, P.PMatchNone):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    exp_terms = sorted(
        exp_node.terms
        if isinstance(exp_node, P.PExpand)
        else [exp_node.term]
    )[: int(max_expansions)]
    n_fixed = len(fixed)
    all_terms = sorted(set(fixed) | set(exp_terms))
    src = getattr(index, "flat_for", None)
    flat = src(all_terms) if src else index.flat
    flat = flat.filter(F.col("term").isin(all_terms))
    is_exp = F.col("term").isin(list(exp_terms))
    fixed_set = sorted(set(fixed))
    g = (
        _drop_deleted(index, flat)
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col("term").isin(fixed_set),
                        F.struct("term", "positions"),
                    )
                )
            ).alias("pm"),
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.when(is_exp, F.col("positions")))
                )
            ).alias("ppos"),
            F.max("doc_len").alias("doc_len"),
            F.size(
                F.collect_set(
                    F.when(F.col("term").isin(fixed_set), F.col("term"))
                )
            ).alias("_nf"),
        )
        .filter(
            (F.col("_nf") == len(fixed_set)) & (F.size("ppos") > 0)
        )
    )
    def _shifted(colref, off: int):
        # single-arg lambda only: a second parameter would be bound
        # to the ARRAY INDEX by Spark
        return F.transform(colref, lambda p: p - F.lit(off))

    starts = F.col("pm")[fixed[0]]
    for i in range(1, n_fixed):
        starts = F.array_intersect(
            starts, _shifted(F.col("pm")[fixed[i]], i)
        )
    # a start qualifies when SOME completion sits right after the
    # fixed run; count distinct qualifying starts (MultiPhrase tf)
    tfq = F.size(
        F.array_intersect(
            starts,
            F.transform(F.col("ppos"), lambda p: p - F.lit(n_fixed)),
        )
    )
    j = g.select("doc_id", "doc_len", tfq.alias("_tf")).filter(
        F.col("_tf") > 0
    )
    # dfs: fixed terms exact; expansions as a UNION df — one tiny
    # aggregate over the already-pruned flat postings
    dfr = (
        flat.select(
            "term",
            "doc_id",
            is_exp.alias("_e"),
        )
        .groupBy()
        .agg(
            *[
                F.countDistinct(
                    F.when(F.col("term") == t, F.col("doc_id"))
                ).alias(f"df{i}")
                for i, t in enumerate(fixed_set)
            ],
            F.countDistinct(
                F.when(F.col("_e"), F.col("doc_id"))
            ).alias("dfu"),
        )
        .collect()[0]
    )
    df_min = min(
        [int(dfr[f"df{i}"]) for i in range(len(fixed_set))]
        + [int(dfr["dfu"])]
    )
    n_docs = int(index.stats["n_docs"])
    w = _idf(df_min, n_docs)
    avgdl = float(index.stats["avg_dl"])
    return (
        j.select(
            "doc_id",
            _score_col(
                "bm25", F.col("_tf"), F.col("doc_len"), w, avgdl
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def get_docs(index, ids) -> DataFrame:
    """ES `_mget`: fetch stored per-doc fields (doc_len + every meta
    column) for an explicit id list. The IN-list pushes into the
    doclens parquet scan (partition + row-group pruning), so this is
    a point lookup, not a table scan. Tombstoned docs are excluded
    like every other read. -> (doc_id, doc_len, <meta...>) by id."""
    ids = [int(i) for i in ids]
    df = index.doclens.drop("shard").filter(F.col("doc_id").isin(ids))
    return _drop_deleted(index, df).orderBy("doc_id")


def random_score(executor, query, seed: int = 0, k: int = 10) -> DataFrame:
    """ES `function_score` random_score: a DETERMINISTIC
    pseudo-random score per (seed, doc) — md5-hash based, uniform in
    [0, 1) — so sampled result pages are stable across retries,
    pagination, and engines (Spark's rand() is neither seeded per
    doc nor reproducible across partitionings; a hash of the doc id
    is). The standard trick for serving a shuffled-but-consistent
    sample of a match set. -> (doc_id, score) top-k."""
    matches = executor.search(query, k=None)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(str(int(seed))), F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        matches.select(
            "doc_id",
            F.round(h / F.lit(float(1 << 32)), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rank_eval(
    executor, query, judgments: DataFrame, k: int = 10
) -> DataFrame:
    """ES `_rank_eval`: standard IR metrics for one query against a
    graded judgment set — precision@k, recall@k, MRR and NDCG@k
    (binary or graded relevance; gain = 2^grade - 1, the ES/trec
    convention). `judgments` is a (doc_id, grade) DataFrame; docs
    absent from it count as grade 0. This is the regression harness
    a relevance team runs after every analyzer/similarity change.

    Scale: the ranking is the ordinary top-k job; judgments join
    broadcast onto k rows; the metric reduction is one aggregate
    over k rows plus one over the judgment set (its only shuffle).
    -> one row (n_judged, n_relevant, p_at_k, recall_at_k, mrr,
    ndcg_at_k) rounded to 4."""
    from pyspark.sql import Window

    j = judgments.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("grade").cast("int").alias("grade"),
    )
    top = executor.search(query, k=k).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
    )
    scored = top.join(F.broadcast(j), "doc_id", "left").select(
        "rank", F.coalesce("grade", F.lit(0)).alias("grade")
    )
    gain = F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0)
    logr = F.log2(F.col("rank") + F.lit(1.0))
    per_rank = scored.agg(
        F.sum((F.col("grade") > 0).cast("int")).alias("_hits"),
        F.max(
            F.when(F.col("grade") > 0, F.lit(1.0) / F.col("rank"))
        ).alias("_mrr"),
        F.sum(gain / logr).alias("_dcg"),
        F.count(F.lit(1)).alias("_k_eff"),
    )
    # ideal DCG: the judgment set's grades sorted desc, first k
    jr = j.filter(F.col("grade") > 0)
    ideal = (
        jr.select(
            F.col("grade"),
            F.row_number()
            .over(Window.orderBy(F.desc("grade"), F.asc("doc_id")))
            .alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0))
                / F.log2(F.col("rank") + F.lit(1.0))
            ).alias("_idcg")
        )
    )
    totals = jr.agg(F.count(F.lit(1)).alias("n_relevant"))
    n_j = j.agg(F.count(F.lit(1)).alias("n_judged"))
    row = (
        per_rank.crossJoin(ideal).crossJoin(totals).crossJoin(n_j)
    )
    return row.select(
        "n_judged",
        "n_relevant",
        F.round(F.col("_hits") / F.lit(float(k)), 4).alias("p_at_k"),
        F.round(
            F.when(
                F.col("n_relevant") > 0,
                F.col("_hits") / F.col("n_relevant").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("recall_at_k"),
        F.round(F.coalesce(F.col("_mrr"), F.lit(0.0)), 4).alias("mrr"),
        F.round(
            F.when(
                F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg")
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("ndcg_at_k"),
    )


def ltr_features(executor, query, k: int = 50) -> DataFrame:
    """Learning-to-rank feature export: for the top-k candidates of
    `query`, one row of standard reranker-training features — BM25
    score, doc length, how many query terms matched (and coverage),
    tf aggregates, and idf aggregates over the MATCHED terms. This
    is the feature table you join with click/judgment labels to
    train a second-stage model; mine_hard_negatives composes for
    the negatives side.

    Scale: candidates come from the ordinary top-k job; features
    from ONE term-filtered scan of the candidates' postings (semi
    join on k ids — no corpus shuffle) plus one tiny df aggregate.
    -> (doc_id, score, doc_len, n_matched, coverage, sum_tf,
    max_tf, idf_sum, idf_max) in (score desc, doc_id) order."""
    from lucille_spark import plans as P
    from lucille_spark.scoring import idf as _idf

    node = executor.ix.plan(query)
    terms = sorted(set(P.collect_terms(node)))
    if not terms:
        raise ValueError("ltr_features needs at least one scored term")
    top = executor.search(query, k=k).select("doc_id", "score")
    src = getattr(executor.ix, "flat_for", None)
    flat = src(terms) if src else executor.ix.flat
    flat = flat.filter(F.col("term").isin(terms))
    n_docs = int(executor.ix.stats["n_docs"])
    dfr = (
        flat.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .collect()
    )
    idf_map = {r["term"]: _idf(int(r["_df"]), n_docs) for r in dfr}
    im = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf_map.get(t, 0.0)))]
    )
    feats = (
        flat.join(F.broadcast(top.select("doc_id")), "doc_id", "left_semi")
        .select(
            "doc_id",
            "doc_len",
            "tf",
            im[F.col("term")].alias("_idf"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("doc_len").alias("doc_len"),
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("tf").alias("sum_tf"),
            F.max("tf").alias("max_tf"),
            F.round(F.sum("_idf"), 4).alias("idf_sum"),
            F.round(F.max("_idf"), 4).alias("idf_max"),
        )
    )
    return (
        top.join(feats, "doc_id")
        .select(
            "doc_id",
            F.round("score", 4).alias("score"),
            "doc_len",
            F.col("n_matched").cast("int").alias("n_matched"),
            F.round(
                F.col("n_matched") / F.lit(float(len(terms))), 4
            ).alias("coverage"),
            F.col("sum_tf").cast("long").alias("sum_tf"),
            F.col("max_tf").cast("int").alias("max_tf"),
            "idf_sum",
            "idf_max",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def highlight_positions(index, query, doc_ids) -> DataFrame:
    """Positional highlighting from the INDEX (no raw text needed):
    for each requested doc, the token positions where each scored
    query term occurs — the offsets a UI maps back onto its stored
    copy of the document. Comes straight off the flat postings for
    the query's terms semi-joined to the id list (point lookup, no
    corpus scan); expansions (prefix/fuzzy/...) highlight every
    matching term. -> (doc_id, term, positions array<int>) ordered."""
    from lucille_spark import plans as P

    node = index.plan(query)
    terms = sorted(set(P.collect_terms(node)))
    if not terms:
        return index.spark.createDataFrame(
            [], "doc_id long, term string, positions array<int>"
        )
    ids = [int(i) for i in doc_ids]
    src = getattr(index, "flat_for", None)
    flat = src(terms) if src else index.flat
    return (
        _drop_deleted(
            index,
            flat.filter(
                F.col("term").isin(terms) & F.col("doc_id").isin(ids)
            ),
        )
        .select("doc_id", "term", "positions")
        .orderBy("doc_id", "term")
    )


def highlight_fragments(
    executor,
    docs_df: DataFrame,
    query,
    k: int = 10,
    frag_tokens: int = 4,
    tag_open: str = "<em>",
    tag_close: str = "</em>",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES highlight with actual text FRAGMENTS (the plain
    highlighter): for each top-k hit, a snippet of the document
    around the FIRST matched-term occurrence — ±`frag_tokens`
    analyzed tokens with the hit wrapped in `tag_open`/`tag_close`.
    The index stores no raw text, so fragments come from the SOURCE
    table: the k-row hit page broadcasts against `docs_df`, the text
    is re-analyzed inline with the index's analyzer (codegen HOFs —
    tokens align with the indexed positions by construction), and
    the snippet is a slice of that token stream (fragments are over
    the ANALYZED tokens, i.e. case-folded — the plain highlighter's
    behavior on a normalized field). Deterministic hit choice: the
    smallest token position over all matched terms (expansions
    included). Only the k hit rows of `docs_df` are ever read past
    the scan — no corpus shuffle. -> (doc_id, score, term,
    position, fragment) one row per hit."""
    ix = executor.ix
    topk = executor.search(query, k=k)
    ids = [int(r["doc_id"]) for r in topk.select("doc_id").collect()]
    if not ids:
        return ix.spark.createDataFrame(
            [],
            "doc_id long, score double, term string, position int, "
            "fragment string",
        )
    pos = highlight_positions(ix, query, ids)
    out = _fragments_for_page(
        ix, topk, pos, docs_df, frag_tokens, tag_open, tag_close,
        text_col, id_col,
    )
    return out.select(
        "doc_id", "score", "term", "position", "fragment"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def _fragments_for_page(
    ix,
    page: DataFrame,
    pos: DataFrame,
    docs_df: DataFrame,
    frag_tokens: int,
    tag_open: str,
    tag_close: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared fragment kernel: page (doc_id, score, ...) + per-term
    positions (doc_id, term, positions) + the source table -> page
    columns plus (term, position, fragment). Inner-joins the page,
    so docs matching only non-positional clauses drop out."""
    from lucille_spark.analysis import get_tokenize_expr

    first = (
        pos.select(
            "doc_id",
            F.explode("positions").alias("p"),
            F.col("term"),
        )
        .groupBy("doc_id")
        .agg(F.min(F.struct("p", "term")).alias("hit"))
        .select(
            "doc_id",
            F.col("hit.p").cast("int").alias("position"),
            F.col("hit.term").alias("term"),
        )
    )
    tok_expr = get_tokenize_expr(
        (ix.stats or {}).get("analyzer", "standard")
    )
    docs = docs_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tok_expr(text_col).alias("_toks"),
    )
    w = int(frag_tokens)
    j = page.join(F.broadcast(first), "doc_id").join(docs, "doc_id")
    start = F.greatest(F.lit(1), F.col("position") + 1 - w)
    frag = F.slice(
        F.col("_toks"), start, F.col("position") + 1 + w - start + 1
    )
    hit_idx = F.col("position") + 2 - start  # 1-based index in frag
    marked = F.transform(
        frag,
        lambda t, i: F.when(
            i + 1 == hit_idx,
            F.concat(F.lit(tag_open), t, F.lit(tag_close)),
        ).otherwise(t),
    )
    return j.select(
        *page.columns,
        "term",
        "position",
        F.concat_ws(" ", marked).alias("fragment"),
    )


def export_matches(
    executor, query, path: str, with_meta: bool = True
) -> int:
    """Bulk export: write the FULL match set (score + stored meta)
    of `query` to parquet in one distributed job — the labeling /
    downstream-pipeline handoff shape (never .collect() a large
    match set to the driver). Returns the exported row count read
    back from the written files' metadata."""
    df = executor.search(query, k=None, with_meta=with_meta)
    df.write.mode("overwrite").parquet(path)
    return executor.ix.spark.read.parquet(path).count()


def scan_matches(
    executor,
    query,
    batch_size: int = 1000,
    after=None,
    with_meta: bool = False,
) -> DataFrame:
    """ES scroll / point-in-time slice: walk the FULL match set in
    doc_id order, `batch_size` docs at a time — every matching doc
    exactly once, relevance order NOT required (that's the scroll
    contract; use `paginate` for score-ordered deep paging). Pass
    the last doc_id of the previous batch as `after`.

    Scale: each batch is match-set filter (doc_id > after) +
    TakeOrderedAndProject — no OFFSET materialization, no global
    sort, and the doc_id predicate prunes doclens/postings row
    groups (doc ids are file-contiguous by construction). For a
    one-shot bulk handoff prefer export_matches (one job, no
    round-trips). -> (doc_id, score[, meta...]) batch rows."""
    m = executor.search(query, k=None, with_meta=with_meta)
    if after is not None:
        m = m.filter(F.col("doc_id") > int(after))
    return m.orderBy("doc_id").limit(batch_size)


def terms_set(
    executor,
    terms,
    msm_field,
    k: int = 10,
) -> DataFrame:
    """ES `terms_set` query: a boolean OR whose minimum-should-match
    is PER-DOCUMENT, read from a stored numeric field
    (`minimum_should_match_field`; a Column expression over doclens
    columns is also accepted — the `minimum_should_match_script`
    analogue) — the "match at least as many skills as the posting
    requires" shape. Scored like a bool should (sum of matching BM25
    clauses) over docs whose matched-clause count reaches their own
    threshold.

    Plan: ONE file-pruned postings scan of the term set + one
    groupBy(doc_id) computing the score sum and the distinct-term
    count together, then a doclens join for (dl at scoring time
    already folded, msm field) and the per-doc filter — the same
    single-scan shape as every other flat boolean, plus one column.
    -> (doc_id, score, n_matched) top-k."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col

    from lucille_spark import ast as A

    ix = executor.ix
    uniq = sorted(set(str(t) for t in terms))
    if not uniq:
        raise ValueError("terms_set: empty term list")
    # build the AST directly — terms are LITERAL (ES terms_set does
    # not parse them), so query metacharacters never reach the parser
    qnode = (
        A.Term(uniq[0])
        if len(uniq) == 1
        else A.Or.of(*[A.Term(t) for t in uniq])
    )
    node = ix.plan(qnode)
    pterms = (
        [c for c in node.should if isinstance(c, P.PTerm)]
        if isinstance(node, P.PBool)
        else [node]
        if isinstance(node, P.PTerm)
        else []
    )
    if not pterms:  # every term unknown -> empty result
        return ix.spark.createDataFrame(
            [], "doc_id long, score double, n_matched int"
        )
    wmap = F.create_map(
        *[
            x
            for t in pterms
            for x in (F.lit(t.term), F.lit(float(t.idf)))
        ]
    )
    keys = [t.term for t in pterms]
    avgdl = float(ix.stats["avg_dl"])
    msm_col = (
        F.col(msm_field)
        if isinstance(msm_field, str)
        else F.lit(int(msm_field))
        if isinstance(msm_field, int)
        else msm_field
    )
    dl = ix.doclens.select(
        "doc_id",
        F.col("doc_len").alias("_dl"),
        msm_col.cast("int").alias("_msm"),
    )
    rows = (
        ix.flat_for(keys)
        .filter(F.col("term").isin(keys))
        .join(dl, "doc_id")
    )
    scored = rows.select(
        "doc_id",
        "_msm",
        "term",
        _score_col(
            "bm25",
            F.col("tf"),
            F.col("_dl"),
            wmap[F.col("term")],
            avgdl,
        ).alias("_s"),
    )
    agg = scored.groupBy("doc_id", "_msm").agg(
        F.sum("_s").alias("score"),
        F.count_distinct("term").cast("int").alias("n_matched"),
    )
    out = agg.filter(F.col("n_matched") >= F.col("_msm")).select(
        "doc_id", "score", "n_matched"
    )
    out = _drop_deleted(ix, out)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rank_feature(
    executor,
    field: str,
    fn: str = "saturation",
    pivot: float = None,
    scaling_factor: float = 1.0,
    exponent: float = 1.0,
    boost: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """ES `rank_feature` query: rank every live document by a static
    per-document numeric signal (pagerank, url_length, freshness
    score, ...) through one of ES's three monotone shapes —
    saturation  boost * v / (v + pivot)
    log         boost * ln(scaling_factor + v)
    sigmoid     boost * v^e / (v^e + pivot^e)
    (elasticsearch rank-feature query docs; the signal column lives
    in doclens meta, so this is a scan of the per-doc METADATA table
    only — never the postings, never raw text).
    -> (doc_id, score) top-k, tombstone-aware."""
    ix = executor.ix
    v = F.col(field).cast("double")
    if fn == "saturation":
        if pivot is None:
            raise ValueError("rank_feature saturation: pivot required")
        s = v / (v + F.lit(float(pivot)))
    elif fn == "log":
        s = F.log(F.lit(float(scaling_factor)) + v)
    elif fn == "sigmoid":
        if pivot is None:
            raise ValueError("rank_feature sigmoid: pivot required")
        e = float(exponent)
        s = F.pow(v, e) / (F.pow(v, e) + F.lit(float(pivot) ** e))
    else:
        raise ValueError(f"rank_feature: unknown function {fn!r}")
    out = ix.doclens.filter(v.isNotNull()).select(
        "doc_id", (F.lit(float(boost)) * s).alias("score")
    )
    out = _drop_deleted(ix, out)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def distance_feature(
    executor,
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """ES `distance_feature` query over a numeric/date-epoch field:
    score = boost * pivot / (pivot + |value - origin|) — closeness to
    an origin point decays hyperbolically with the pivot as the
    half-score distance. Same metadata-table-only plan shape as
    rank_feature. -> (doc_id, score) top-k."""
    ix = executor.ix
    v = F.col(field).cast("double")
    dist = F.abs(v - F.lit(float(origin)))
    s = F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)
    out = ix.doclens.filter(v.isNotNull()).select(
        "doc_id", (F.lit(float(boost)) * s).alias("score")
    )
    out = _drop_deleted(ix, out)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _decay_col(
    field: str,
    origin: float,
    scale: float,
    offset: float,
    decay: float,
    fn: str,
):
    """decay_fn(field) as a Column (the ES decay spec: evaluates to
    `decay` exactly at distance `scale` past `offset`). Shared by
    decay_score and function_score_multi so both paths compute with
    the SAME python-derived double literals."""
    import math as _m

    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    v = F.col(field).cast("double")
    dist = F.greatest(
        F.lit(0.0), F.abs(v - F.lit(float(origin))) - F.lit(float(offset))
    )
    if fn == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * _m.log(decay))
        return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    if fn == "exp":
        lam = _m.log(decay) / float(scale)
        return F.exp(F.lit(lam) * dist)
    if fn == "linear":
        s = float(scale) / (1.0 - decay)
        return F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    raise ValueError(f"decay_score: unknown function {fn!r}")


def decay_score(
    executor,
    query,
    field: str,
    origin: float,
    scale: float,
    offset: float = 0.0,
    decay: float = 0.5,
    fn: str = "gauss",
    mode: str = "multiply",
    weight: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """ES `function_score` decay functions (gauss / exp / linear)
    over a numeric per-document field: the relevance score of
    `query` is combined (boost_mode `mode`: multiply | sum) with
    weight * decay_fn(value), where with
    d = max(0, |value - origin| - offset):

      gauss   exp(-d^2 / (2 sigma^2)),  sigma^2 = -scale^2 / (2 ln decay)
      exp     exp(lambda * d),          lambda  = ln(decay) / scale
      linear  max(0, (s - d) / s),      s       = scale / (1 - decay)

    (the ES decay-function spec: the function evaluates to `decay`
    exactly at distance `scale` past the offset). The field joins
    from doclens AFTER matching — only the match set shuffles, and
    the decay arithmetic is all codegen. -> (doc_id, score) top-k
    in (score desc, doc_id asc) order, tombstone-aware (the match
    side already excludes deletes)."""
    ix = executor.ix
    dfac = _decay_col(field, origin, scale, offset, decay, fn)
    v = F.col(field).cast("double")
    matches = executor.search(query, k=None)
    meta = ix.doclens.filter(v.isNotNull()).select(
        "doc_id", dfac.alias("_decay")
    )
    joined = matches.join(meta, "doc_id")
    factor = F.lit(float(weight)) * F.col("_decay")
    combined = (
        F.col("score") * factor
        if mode == "multiply"
        else F.col("score") + factor
    )
    return (
        joined.select("doc_id", combined.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def function_score_multi(
    executor,
    query,
    functions,
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    max_boost: float = None,
    min_score: float = None,
    k: int = 10,
) -> DataFrame:
    """ES `function_score` with a full `functions` LIST: each entry
    is {filter?: <AST query>, weight?: w} plus at most one function
    kind — field_value_factor {field, factor, modifier, missing} /
    gauss|exp|linear {field: {origin, scale, offset, decay}} /
    random_score {seed} (the deterministic md5 uniform of
    random_score) / nothing (weight-only). A function contributes
    weight * fn(doc) when its filter matches the doc (no filter =
    always), else nothing.

    Per-doc combination follows the ES spec exactly: the matching
    functions' values combine under `score_mode` (multiply | sum |
    avg | max | min | first — first = the first MATCHING function in
    list order); docs matched by NO function keep factor 1.0; the
    total is capped at `max_boost`, then combined with the query
    score under `boost_mode` (multiply | sum | replace | avg | max |
    min). `min_score` drops docs below it.

    Scale shape: ONE postings scan for the query (k=None match set),
    one doclens join for the fields the functions read, ONE
    additional match-set scan per filtered function (each filter is
    a query; metadata-only filters touch only doclens). All factor
    arithmetic and the score_mode combination run as codegen array
    HOFs — no UDFs, no extra shuffle beyond the filter joins'.
    -> (doc_id, score) top-k in (score desc, doc_id asc) order."""
    ix = executor.ix
    df = executor.search(query, k=None).withColumnRenamed(
        "score", "_qs"
    )
    fields = set()
    for fn in functions:
        fvf = fn.get("field_value_factor")
        if fvf:
            fields.add(fvf["field"])
        for dk in ("gauss", "exp", "linear"):
            if dk in fn:
                fields.add(next(iter(fn[dk])))
    if fields:
        meta = ix.doclens.select(
            "doc_id",
            *[
                F.col(f_).cast("double").alias(f_)
                for f_ in sorted(fields)
            ],
        )
        df = df.join(meta, "doc_id", "left")
    fac_cols = []
    for i, fn in enumerate(functions):
        w = float(fn.get("weight", 1.0))
        fvf = fn.get("field_value_factor")
        if fvf is not None:
            mod = _FSCORE_MODIFIERS[fvf.get("modifier", "none")]
            v = F.col(fvf["field"])
            if "missing" in fvf:
                v = F.coalesce(v, F.lit(float(fvf["missing"])))
            base = mod(F.lit(float(fvf.get("factor", 1.0))) * v)
        elif any(dk in fn for dk in ("gauss", "exp", "linear")):
            dk = next(d for d in ("gauss", "exp", "linear") if d in fn)
            (fld, params), = fn[dk].items()
            base = _decay_col(
                fld,
                float(params["origin"]),
                float(params["scale"]),
                float(params.get("offset", 0.0)),
                float(params.get("decay", 0.5)),
                dk,
            )
        elif "random_score" in fn:
            seed = int(fn["random_score"].get("seed", 0))
            h = F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(str(seed)), F.lit(":"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            base = h / F.lit(float(1 << 32))
        else:
            base = F.lit(1.0)
        col_i = F.lit(w) * base
        flt = fn.get("filter")
        if flt is not None:
            flag = executor.search(flt, k=None).select(
                "doc_id", F.lit(True).alias(f"_m{i}")
            )
            df = df.join(flag, "doc_id", "left")
            col_i = F.when(F.col(f"_m{i}"), col_i)
        df = df.withColumn(f"_f{i}", col_i)
    arr = F.array(*[F.col(f"_f{i}") for i in range(len(functions))])
    live = F.filter(arr, lambda x: x.isNotNull())
    nlive = F.size(live)
    if score_mode == "multiply":
        combined = F.aggregate(
            live, F.lit(1.0), lambda a, x: a * x
        )
    elif score_mode == "sum":
        combined = F.aggregate(
            live, F.lit(0.0), lambda a, x: a + x
        )
    elif score_mode == "avg":
        combined = (
            F.aggregate(live, F.lit(0.0), lambda a, x: a + x) / nlive
        )
    elif score_mode == "max":
        combined = F.array_max(live)
    elif score_mode == "min":
        combined = F.array_min(live)
    elif score_mode == "first":
        combined = F.element_at(live, 1)
    else:
        raise ValueError(f"score_mode {score_mode!r}")
    factor = F.when(nlive == 0, F.lit(1.0)).otherwise(combined)
    if max_boost is not None:
        factor = F.least(factor, F.lit(float(max_boost)))
    qs = F.col("_qs")
    if boost_mode == "multiply":
        score = qs * factor
    elif boost_mode == "sum":
        score = qs + factor
    elif boost_mode == "replace":
        score = factor
    elif boost_mode == "avg":
        score = (qs + factor) / F.lit(2.0)
    elif boost_mode == "max":
        score = F.greatest(qs, factor)
    elif boost_mode == "min":
        score = F.least(qs, factor)
    else:
        raise ValueError(f"boost_mode {boost_mode!r}")
    out = df.select("doc_id", score.alias("score"))
    if min_score is not None:
        out = out.filter(F.col("score") >= float(min_score))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_SCRIPT_MATH = {
    "Math.log10(": "log10(",
    "Math.log(": "ln(",
    "Math.sqrt(": "sqrt(",
    "Math.abs(": "abs(",
    "Math.max(": "greatest(",
    "Math.min(": "least(",
    "Math.pow(": "power(",
    "Math.exp(": "exp(",
}


def script_score(
    executor,
    query,
    source: str,
    params: dict = None,
    k: int = 10,
    min_score: float = None,
) -> DataFrame:
    """ES `script_score` query, restricted to the painless subset
    real scoring scripts use: `_score`, `doc['field'].value` over
    stored numeric fields, `params.<name>`, numeric literals,
    arithmetic / comparison operators, parens, and the Math.*
    functions (log, log10, sqrt, abs, max, min, pow, exp). The
    script is TRANSLATED to a Catalyst expression — anything outside
    the subset raises ValueError, never an arbitrary passthrough.

    The query's matches keep their BM25 score as `_score`; doc
    fields join from doclens AFTER matching (only the match set
    shuffles); the script arithmetic is whole-stage codegen.
    `min_score` drops docs below it (the ES knob). -> (doc_id,
    score) top-k in (score desc, doc_id asc) order."""
    import re as _re2

    ix = executor.ix
    fields = sorted(set(
        _re2.findall(r"doc\['([A-Za-z0-9_]+)'\]\.value", source)
    ))
    expr = source
    for f_ in fields:
        expr = expr.replace(f"doc['{f_}'].value", f"`{f_}`")
    for pname in sorted(params or {}, key=len, reverse=True):
        expr = expr.replace(
            f"params.{pname}", repr(float(params[pname]))
        )
    for painless, sqlfn in _SCRIPT_MATH.items():
        expr = expr.replace(painless, sqlfn)
    expr = _re2.sub(r"\b_score\b", "`_score`", expr)
    residue = _re2.sub(
        r"`[A-Za-z0-9_]+`"
        r"|\b(ln|log10|sqrt|abs|greatest|least|power|exp)\b"
        r"|\d+(\.\d+)?",
        "",
        expr,
    )
    if not _re2.fullmatch(r"[\s(),+\-*/%<>=!]*", residue):
        raise ValueError(
            f"script_score: unsupported script {source!r} "
            f"(residue {residue!r})"
        )
    matches = executor.search(query, k=None).withColumnRenamed(
        "score", "_score"
    )
    if fields:
        meta = ix.doclens.select(
            "doc_id",
            *[F.col(f_).cast("double").alias(f_) for f_ in fields],
        )
        matches = matches.join(meta, "doc_id")
    out = matches.select(
        "doc_id", F.expr(expr).cast("double").alias("score")
    )
    if min_score is not None:
        out = out.filter(F.col("score") >= float(min_score))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def pinned(executor, ids, organic, k: int = 10) -> DataFrame:
    """ES `pinned` query: the given document ids rank first, in the
    given order, ahead of the organic query's BM25 ranking (with the
    pinned docs removed from the organic tail). Pinned docs score
    like ES: a huge constant minus their position, so the output is
    still one (doc_id, score) frame ordered by score.

    Plan: organic top-(k) via the normal executor path + an IN-list
    point lookup for the pins (row-group pruned via get_docs) — the
    pin list is a query constant, never corpus-sized.
    -> (doc_id, score) top-k, tombstone-aware."""
    ids = [int(i) for i in ids]
    seen = set()
    uniq = [i for i in ids if not (i in seen or seen.add(i))]
    org = executor.search(organic, k=k + len(uniq))
    org = org.filter(~F.col("doc_id").isin(uniq)) if uniq else org
    if not uniq:
        return org.limit(k)
    ix = executor.ix
    spark = ix.spark
    # _PIN_BASE mirrors ES's pinned-doc score block (a float32 max
    # fragment): any pinned doc outranks any BM25 score
    rank_rows = [(int(i), _PIN_BASE - r) for r, i in enumerate(uniq)]
    ranks = spark.createDataFrame(rank_rows, "doc_id long, score double")
    live = get_docs(ix, uniq).select("doc_id")
    pins = ranks.join(F.broadcast(live), "doc_id")
    out = pins.unionByName(org)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_PIN_BASE = 1.0e9


def complete(
    index,
    prefix: str,
    n: int = 5,
    fuzziness: int = 0,
    prefix_length: int = 1,
) -> DataFrame:
    """ES completion-suggester analogue over the term dictionary:
    dictionary terms starting with `prefix`, ranked by document
    frequency (desc, term asc) — the "weight" of a dictionary-backed
    completion. Rides the same prefix expansion as Prefix queries
    (ordered dictionary slice / pushdown bounds), so no postings and
    no corpus scan are touched. -> (suggestion, df) top-n.

    `fuzziness > 0` is the ES completion `fuzzy` option: a term also
    completes when its SAME-LENGTH leading window is within
    `fuzziness` plain-Levenshtein edits of the typed prefix, with the
    first `prefix_length` characters required to match exactly (ES
    default 1 — which also bounds the candidate set to one leading-
    character dictionary slice, never the whole dictionary). Exact-
    prefix completions outrank fuzzy ones (ES behavior), then df
    desc, term asc. Fuzzy output adds an `edits` column.
    -> (suggestion, df[, edits]) top-n."""
    fuzziness = int(fuzziness)
    prefix = str(prefix)
    if fuzziness <= 0:
        cands = index.dictionary.expand_prefix(prefix)
        if not cands:
            return index.spark.createDataFrame(
                [], "suggestion string, df long"
            )
        dfs = index.dictionary.lookup_df(cands)
        ranked = sorted((-int(d), t) for t, d in dfs.items())[:n]
        return index.spark.createDataFrame(
            [(t, -nd) for nd, t in ranked], "suggestion string, df long"
        )
    import numpy as np

    from lucille_spark.index.reader import _lev, _lev_batch

    pl = max(0, int(prefix_length))
    cands = np.asarray(
        index.dictionary.expand_prefix(prefix[:pl]), dtype=object
    )
    if cands.size == 0:
        return index.spark.createDataFrame(
            [], "suggestion string, df long, edits int"
        )
    # leading windows of prefix length (fixed-width astype truncates)
    wins = cands.astype(f"U{len(prefix)}")
    keep = _lev_batch(wins, prefix, fuzziness)
    cands = cands[keep].tolist()
    if not cands:
        return index.spark.createDataFrame(
            [], "suggestion string, df long, edits int"
        )
    eds = {
        t: _lev(t[: len(prefix)], prefix)
        for t in cands
    }
    dfs = index.dictionary.lookup_df(sorted(cands))
    ranked = sorted(
        (eds[t] > 0, -int(d), t) for t, d in dfs.items()
    )[:n]
    return index.spark.createDataFrame(
        [(t, -nd, int(eds[t])) for _, nd, t in ranked],
        "suggestion string, df long, edits int",
    )


def terms_enum(
    index,
    string: str = "",
    field: str = "content",
    size: int = 10,
    search_after: "str | None" = None,
    case_insensitive: bool = False,
) -> DataFrame:
    """ES `_terms_enum` API: enumerate index terms of a FIELD that
    start with `string`, in term order, paginated by `search_after`
    (the last term of the previous page). Unlike `complete` (df-
    ranked suggestions), this is the raw lexicographic dictionary
    walk ES uses for low-latency "index-backed autocomplete" over
    keyword fields.

    Runs on the terms TABLE, not the driver dictionary: the prefix
    becomes a (>= lo, < hi) range predicate on the `term` column, so
    the parquet scan prunes by row-group min/max stats — at a 10^9-
    term dictionary the scan touches the few row groups containing
    the prefix run, never the table. `case_insensitive=True` matches
    ES's flag; the analyzer lowercases at build, so it only affects
    the INPUT casing. Non-default fields read the shared dictionary's
    "<field>:" prefix rows. -> (term, df) in term order, `size`
    rows."""
    s = str(string).lower() if case_insensitive else str(string)
    pre = s if field == "content" else f"{field}:{s}"
    t = index.terms_df.select("term", "df")
    # range predicate (pushdown-friendly), not startswith: lo <= term
    # < prefix+MAXCHAR, mirroring the driver dictionary's slice walk
    t = t.filter(F.col("term") >= pre).filter(
        F.col("term") < pre + "￿"
    )
    if search_after is not None:
        sa = (
            str(search_after)
            if field == "content"
            else f"{field}:{search_after}"
        )
        t = t.filter(F.col("term") > sa)
    if field != "content":
        t = t.select(
            F.expr(f"substring(term, {len(field) + 2})").alias("term"),
            "df",
        )
    else:
        # indexed-field rows share the dictionary under "<field>:tok"
        # keys; ':' never occurs in an analyzer token, so this residual
        # (on top of the pushed range) is exact
        t = t.filter(~F.col("term").contains(":"))
    return t.orderBy("term").limit(int(size))


def phrase_suggest(
    index,
    text: str,
    max_dist: int = 1,
    per_token: int = 5,
    n: int = 5,
) -> DataFrame:
    """ES phrase-suggester ("did you mean") analogue: correct a
    multi-word query by re-ranking candidate phrases with an
    add-one-smoothed BIGRAM language model estimated from the index
    itself.

    score(w1..wm) = ln((cf(w1)+1)/(N+V))
                  + sum_i ln((c(w_{i-1} w_i)+1)/(cf(w_{i-1})+V))

    where cf = collection frequency (dictionary), N = total tokens,
    V = vocabulary size (stats), and c(a b) = adjacent-occurrence
    count, computed DISTRIBUTED from the positional postings of the
    candidate terms only: one file-pruned scan of those postings, a
    position self-join restricted to candidate pairs, one groupBy —
    never a corpus-wide bigram table. Candidates per slot come from
    the same fuzzy dictionary expansion as Fuzzy queries (top
    `per_token` by df desc, term asc; the token itself when OOV).
    -> (suggestion, score) top-n (score desc, suggestion asc)."""
    from itertools import product

    from lucille_spark.analysis import tokenize

    toks = tokenize(str(text))
    if not toks:
        return index.spark.createDataFrame(
            [], "suggestion string, score double"
        )
    # per-slot candidate terms (driver-side, vocabulary-sized work)
    slots = []
    for t in toks:
        cands = index.dictionary.expand_fuzzy(
            t, max_dist, transpositions=True
        )
        if cands:
            dfs = index.dictionary.lookup_df(cands)
            ranked = sorted((-int(d), c) for c, d in dfs.items())
            slots.append([c for _, c in ranked[:per_token]])
        else:
            slots.append([t])  # OOV: keep the user's token
    cfs = index.dictionary.lookup_cf(
        sorted(set(c for s in slots for c in s))
    )
    n_total = index.doclens.agg(
        F.sum("doc_len").alias("n")
    ).collect()[0]["n"]
    vocab = int(index.stats["n_terms"])

    # distributed bigram counts, candidate pairs only
    bigrams = {}
    if len(slots) > 1:
        terms = sorted(set(c for s in slots for c in s))
        src = getattr(index, "flat_for", None)
        flat = src(terms) if src else index.flat
        pos = (
            _drop_deleted(index, flat)
            .filter(F.col("term").isin(terms))
            .select(
                "doc_id", "term",
                F.explode("positions").alias("p"),
            )
        )
        l = pos.select(
            F.col("doc_id"), F.col("term").alias("t1"),
            F.col("p").alias("p1"),
        )
        r = pos.select(
            F.col("doc_id"), F.col("term").alias("t2"),
            F.col("p").alias("p2"),
        )
        pairs = set()
        for a, b in zip(slots, slots[1:]):
            pairs |= set(product(a, b))
        pair_col = F.concat_ws("\x00", "t1", "t2")
        want = [f"{a}\x00{b}" for a, b in pairs]
        counts = (
            l.join(r, "doc_id")
            .filter(F.col("p2") == F.col("p1") + 1)
            .filter(pair_col.isin(want))
            .groupBy("t1", "t2")
            .count()
            .collect()
        )
        bigrams = {(row.t1, row.t2): int(row["count"]) for row in counts}

    import math

    out = []
    for combo in product(*slots):
        s = math.log(
            (cfs.get(combo[0], 0) + 1.0) / (n_total + vocab)
        )
        for a, b in zip(combo, combo[1:]):
            s += math.log(
                (bigrams.get((a, b), 0) + 1.0)
                / (cfs.get(a, 0) + vocab)
            )
        out.append((" ".join(combo), s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return index.spark.createDataFrame(
        out[:n], "suggestion string, score double"
    )


def geo_distance_search(
    executor,
    query,
    lat: float,
    lon: float,
    radius_km: float,
    lat_field: str = "lat",
    lon_field: str = "lon",
    k: int = 10,
    sort: str = "distance",
) -> DataFrame:
    """ES geo_distance filter over the match set of `query` (pass
    None / "match_all" semantics by giving a MatchAll query): docs
    within `radius_km` of (lat, lon), ordered by distance asc
    (`sort="distance"`, the ES _geo_distance sort) or by relevance
    (`sort="score"`). The geo point lives as two numeric doc-value
    meta columns on doclens; the radius becomes a bounding-box
    prefilter (plain comparisons -> zonemap pruning) with the exact
    haversine as residual, so the geo side never scans more row
    groups than the rectangle. -> (doc_id, dist_km, score) top-k."""
    from lucille_spark.ops import geo as G

    matches = executor.search(query, k=None).select("doc_id", "score")
    meta = executor.ix.doclens.select(
        "doc_id",
        F.col(lat_field).cast("double").alias(lat_field),
        F.col(lon_field).cast("double").alias(lon_field),
    )
    meta = G.geo_distance(
        meta, lat_field, lon_field, lat, lon, radius_km
    ).select("doc_id", "dist_km")
    out = matches.join(meta, "doc_id")
    key = (
        [F.asc("dist_km"), F.asc("doc_id")]
        if sort == "distance"
        else [F.desc("score"), F.asc("doc_id")]
    )
    return out.orderBy(*key).limit(k).select("doc_id", "dist_km", "score")


def geo_bbox_search(
    executor,
    query,
    top: float,
    left: float,
    bottom: float,
    right: float,
    lat_field: str = "lat",
    lon_field: str = "lon",
    k: int = 10,
) -> DataFrame:
    """ES geo_bounding_box filter over the match set: constant-score
    geo predicate AND the scored query, ranked by relevance. The box
    is four pushdown-able comparisons on the doclens meta scan
    (antimeridian-crossing boxes wrap, per ES). -> (doc_id, score)."""
    from lucille_spark.ops import geo as G

    matches = executor.search(query, k=None).select("doc_id", "score")
    meta = executor.ix.doclens.select(
        "doc_id",
        F.col(lat_field).cast("double").alias(lat_field),
        F.col(lon_field).cast("double").alias(lon_field),
    )
    meta = G.geo_bounding_box(
        meta, lat_field, lon_field, top, left, bottom, right
    ).select("doc_id")
    return (
        matches.join(meta, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def geo_polygon_search(
    executor,
    query,
    vertices,
    lat_field: str = "lat",
    lon_field: str = "lon",
    k: int = 10,
) -> DataFrame:
    """ES geo_polygon filter over the match set: ray-cast
    point-in-polygon (ops/geo.point_in_polygon) AND the scored
    query, ranked by relevance. The polygon test is a fused codegen
    column program on the doclens meta scan. -> (doc_id, score)."""
    from lucille_spark.ops import geo as G

    matches = executor.search(query, k=None).select("doc_id", "score")
    meta = executor.ix.doclens.select(
        "doc_id",
        F.col(lat_field).cast("double").alias(lat_field),
        F.col(lon_field).cast("double").alias(lon_field),
    )
    inside = G.geo_polygon(
        meta, lat_field, lon_field, vertices
    ).select("doc_id")
    return (
        matches.join(inside, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# ES join fields (parent-child) and nested objects
# ---------------------------------------------------------------------------
# ES implements both by storing related rows as separate Lucene docs
# in the same segment; here the children live as their own corpus /
# index (parent-child) or as a plain child-row DataFrame (nested),
# keyed by the parent doc id. At 100 TB that is exactly the shape you
# want: child postings never co-shuffle with parent postings — the
# only join is (matching child ids -> parent ids), a match-set-sized
# aggregation, never corpus x corpus.

_CHILD_SCORE_AGG = {
    "sum": F.sum,
    "max": F.max,
    "avg": F.avg,
    "min": F.min,
}


def has_child(
    parent_executor,
    child_executor,
    child_query,
    parent_field: str = "parent_id",
    score_mode: str = "none",
    min_children: int = 1,
    k: int = 10,
):
    """ES `has_child`: parents having >= `min_children` children that
    match `child_query`, scored by the children. The child query runs
    on the CHILD index (its own BM25 stats, like ES's per-type
    statistics); each child carries its parent id as a stored meta
    column; one groupBy(parent) aggregates the child scores
    (`score_mode` sum/max/avg/min, or `none` -> constant 1.0 filter
    semantics). Tombstoned parents are excluded.
    -> (doc_id, score) top-k parents."""
    cm = child_executor.search(child_query, k=None).select("doc_id", "score")
    pmeta = child_executor.ix.doclens.select(
        "doc_id", F.col(parent_field).cast("long").alias("_parent")
    )
    j = cm.join(pmeta, "doc_id")
    if score_mode == "none":
        g = j.groupBy("_parent").agg(F.count(F.lit(1)).alias("_nc"))
        g = g.withColumn("score", F.lit(1.0))
    else:
        agg = _CHILD_SCORE_AGG[score_mode]
        g = j.groupBy("_parent").agg(
            F.count(F.lit(1)).alias("_nc"),
            agg("score").alias("score"),
        )
    out = g.filter(F.col("_nc") >= int(min_children)).select(
        F.col("_parent").alias("doc_id"), "score"
    )
    out = _drop_deleted(parent_executor.ix, out)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def has_parent(
    parent_executor,
    child_executor,
    parent_query,
    parent_field: str = "parent_id",
    score: bool = True,
    k: int = 10,
):
    """ES `has_parent`: children whose parent matches `parent_query`,
    each child scored with its parent's relevance (`score=True`) or a
    constant 1.0. The parent match set (k=None, never the corpus)
    broadcasts onto the child doclens meta — one semi-join-shaped
    plan, no posting co-shuffle. -> (doc_id, score) top-k children."""
    pm = parent_executor.search(parent_query, k=None).select(
        F.col("doc_id").alias("_parent"), "score"
    )
    cmeta = child_executor.ix.doclens.select(
        "doc_id", F.col(parent_field).cast("long").alias("_parent")
    )
    j = cmeta.join(F.broadcast(pm), "_parent")
    s = F.col("score") if score else F.lit(1.0)
    out = j.select("doc_id", s.alias("score"))
    out = _drop_deleted(child_executor.ix, out)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def nested_query(
    executor,
    query,
    nested: DataFrame,
    parent_col: str,
    pred,
    score_mode: str = "none",
    score_col: str = None,
    k: int = 10,
):
    """ES `nested`: the predicate must hold WITHIN one nested object —
    ES stores each nested object as a hidden child doc precisely so a
    per-doc filter gets that semantics, and each row of `nested` is
    one object here, so `pred` (a Column over the nested row) is
    evaluated object-at-a-time by construction (never the cross-object
    false positive a flattened array would give). Parents keep their
    `query` BM25 score; with score_mode sum/max/avg/min the per-parent
    aggregate of `score_col` over MATCHING objects is added (bool-must
    composition). -> (doc_id, score) top-k."""
    qm = executor.search(query, k=None).select("doc_id", "score")
    hits = nested.where(pred).select(
        F.col(parent_col).cast("long").alias("doc_id"),
        *( [F.col(score_col).cast("double").alias("_cs")]
           if score_mode != "none" else [] ),
    )
    if score_mode == "none":
        out = qm.join(hits.select("doc_id").distinct(), "doc_id", "left_semi")
    else:
        agg = _CHILD_SCORE_AGG[score_mode]
        g = hits.groupBy("doc_id").agg(agg("_cs").alias("_cagg"))
        out = qm.join(g, "doc_id").select(
            "doc_id", (F.col("score") + F.col("_cagg")).alias("score")
        )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def cross_fields(
    index,
    query_text: str,
    weights: dict,
    tie: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """ES `multi_match` type=cross_fields (Lucene BlendedTermQuery):
    the fields act as ONE field per TERM — a first name in `first` and
    a last name in `last` should score like one field containing both.
    Per analyzed term t the document frequencies are BLENDED across
    the queried fields (df~ = max over fields, Lucene's blend), each
    field's tf scores against that shared idf with its own length
    norm and weight, and the per-term score is the max across fields
    plus `tie` x the rest (the dismax combination); terms then sum.
    This is what distinguishes cross_fields from best_fields (per-
    FIELD dismax, unblended stats) and most_fields (per-field sum).

    Plan: ONE pushed-filter postings scan for every (field, term)
    pair (field terms live under the "<field>:<term>" namespace, so
    it is a single IN-list), per-(field, term) dfs aggregated in-plan
    and blended with a groupBy-max, per-field avgdl/weight as tiny
    map literals — whole-stage codegen, two match-set-sized
    aggregations, TakeOrderedAndProject. -> (doc_id, score) desc."""
    ix = index
    terms = ix.planner.tokenize(query_text)
    if not terms:
        return ix.spark.createDataFrame([], "doc_id long, score double")
    qcnt: dict = {}
    for t in terms:
        qcnt[t] = qcnt.get(t, 0) + 1
    uniq = sorted(qcnt)

    all_keys = []
    fmeta = {}  # field -> (weight, avgdl)
    for f, w in weights.items():
        if f == ix.planner.default_field:
            fmeta[f] = (float(w), float(ix.stats["avg_dl"]))
            all_keys.extend(uniq)
        else:
            if f not in ix.planner.indexed_fields:
                raise ValueError(f"{f!r} is not an indexed field")
            fmeta[f] = (float(w), float(ix.planner.indexed_fields[f]))
            all_keys.extend(f + ":" + t for t in uniq)

    rows = ix.flat_for(all_keys).filter(F.col("term").isin(all_keys))
    default = ix.planner.default_field
    # analyzer tokens never contain ':', so the namespace split is
    # unambiguous
    fld = F.when(
        F.col("term").contains(":"), F.substring_index("term", ":", 1)
    ).otherwise(F.lit(default))
    base = F.when(
        F.col("term").contains(":"), F.substring_index("term", ":", -1)
    ).otherwise(F.col("term"))
    rows = rows.select(
        "doc_id",
        fld.alias("fld"),
        base.alias("base"),
        F.col("tf").cast("double").alias("tf"),
        F.col("doc_len").cast("double").alias("dl"),
    )

    # blended df: per (field, base) doc counts -> max across fields
    dff = rows.groupBy("fld", "base").agg(
        F.count(F.lit(1)).alias("df_f")
    )
    dfb = dff.groupBy("base").agg(F.max("df_f").alias("dfb"))

    from lucille_spark.scoring import B, K1

    n = int(ix.stats["n_docs"])
    wmap = F.create_map(
        *[F.lit(x) for f, (w, _) in fmeta.items() for x in (f, w)]
    )
    amap = F.create_map(
        *[F.lit(x) for f, (_, a) in fmeta.items() for x in (f, a)]
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.col("dfb") + F.lit(0.5))
        / (F.col("dfb") + F.lit(0.5))
    )
    s = (
        idf
        * F.col("tf")
        / (
            F.col("tf")
            + F.lit(K1)
            * (
                F.lit(1.0 - B)
                + F.lit(B) * F.col("dl") / amap[F.col("fld")]
            )
        )
        * wmap[F.col("fld")]
    )
    per_ft = rows.join(F.broadcast(dfb), "base").select(
        "doc_id", "base", s.alias("s")
    )
    qmap = F.create_map(
        *[F.lit(x) for t in qcnt for x in (t, float(qcnt[t]))]
    )
    per_t = per_ft.groupBy("doc_id", "base").agg(
        F.max("s").alias("mx"), F.sum("s").alias("sm")
    )
    contrib = qmap[F.col("base")].cast("double") * (
        F.col("mx") + F.lit(float(tie)) * (F.col("sm") - F.col("mx"))
    )
    scored = per_t.select("doc_id", contrib.alias("c")).groupBy(
        "doc_id"
    ).agg(F.sum("c").alias("score"))
    return (
        _drop_deleted(ix, scored)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def sorted_topk(
    executor,
    query,
    k: int = 10,
    ascending: bool = True,
    fields=(),
) -> DataFrame:
    """Early-terminated sort serving on an index built with
    BuildConfig(index_sort=<field>): doc-id order IS sort-field order
    corpus-wide, so "match + ORDER BY field LIMIT k" is just the k
    smallest (ascending) or largest (descending) MATCHING doc ids.
    Contrast with sort_by(): no field values join before the cut and
    no ordering on a data column — the plan is a pushed-filter match
    + TakeOrderedAndProject on doc_id (a monotone, already-clustered
    key: parquet row groups are doc_id ranges, so at 100 TB each
    shard's scan terminates after its first qualifying row groups).
    `fields` joins stored meta onto the K-ROW page afterwards
    (broadcast of k rows into the doclens scan).
    -> (doc_id, *fields) in sort order."""
    ix = executor.ix
    srt = (ix.stats or {}).get("index_sort")
    if not srt:
        raise ValueError(
            "sorted_topk needs an index built with index_sort="
            "<field> (stats.json records none)"
        )
    m = executor.search(query, k=None).select("doc_id")
    key = F.asc("doc_id") if ascending else F.desc("doc_id")
    page = m.orderBy(key).limit(k)
    if not fields:
        return page
    meta = ix.doclens.select("doc_id", *fields)
    return meta.join(F.broadcast(page), "doc_id").orderBy(key)


def common_terms(
    executor,
    text: str,
    cutoff_frequency: float = 0.01,
    low_freq_operator: str = "or",
    high_freq_operator: str = "or",
    minimum_should_match: int = None,
    k: int = 10,
) -> DataFrame:
    """Lucene CommonTermsQuery (org.apache.lucene.queries.
    CommonTermsQuery; ES `common` query): split the analyzed query
    terms by document frequency at `cutoff_frequency` (a fraction of
    maxDoc when < 1.0, an absolute df otherwise). LOW-frequency
    terms drive matching (joined by `low_freq_operator`, with
    `minimum_should_match` applying to the low group under "or");
    HIGH-frequency ("common") terms never gate the match set — they
    only ADD score on documents that already match, which is the
    point: the stopword-ish terms' huge posting lists are
    intersected against the low-df candidates instead of unioned
    into a corpus-sized result. When every term is common, the
    high group becomes the query under `high_freq_operator`
    (Lucene's fallback).

    Composition is pure AST — Or((UnaryPlus(low), *high)) is the
    planner's MUST + scoring-SHOULD shape — so both executors, file
    pruning and WAND bounds apply unchanged. The df split itself is
    a driver-side dictionary lookup (term-count-sized, no postings
    touched). -> (doc_id, score) top-k."""
    from lucille_spark import ast as A
    from lucille_spark.analysis import get_search_analyzer

    ix = executor.ix
    toks = get_search_analyzer(
        (ix.stats or {}).get("analyzer", "standard")
    )(str(text))
    if not toks:
        return ix.spark.createDataFrame([], "doc_id long, score double")
    dfs = ix.dictionary.lookup_df(sorted(set(toks)))
    n = int(ix.stats["n_docs"])
    thr = (
        float(cutoff_frequency) * n
        if float(cutoff_frequency) < 1.0
        else float(cutoff_frequency)
    )
    low = [t for t in toks if int(dfs.get(t, 0)) <= thr]
    high = [t for t in toks if int(dfs.get(t, 0)) > thr]

    def _part(terms, op, mm=None):
        nodes = tuple(A.Term(t) for t in terms)
        if len(nodes) == 1:
            return nodes[0]
        if str(op).lower() == "and":
            return A.And(nodes)
        if mm is not None and int(mm) > 1:
            return A.MinimumMatch(nodes, int(mm))
        return A.Or(nodes)

    if low and high:
        q = A.Or(
            (
                A.UnaryPlus(
                    _part(low, low_freq_operator, minimum_should_match)
                ),
            )
            + tuple(A.Term(t) for t in high)
        )
    elif low:
        q = _part(low, low_freq_operator, minimum_should_match)
    else:
        q = _part(high, high_freq_operator)
    return executor.search(q, k=k)


# ------------------------------------------------------------------
# runtime fields (ES `runtime_mappings`): per-request computed
# fields over stored doc values, via the same painless arithmetic
# subset script_score translates
# ------------------------------------------------------------------

def _runtime_cols(ix, mappings: dict):
    """Translate an ES runtime_mappings section into {name: Column}
    over the per-doc metadata table (doclens). Each script uses the
    script_score subset: doc['field'].value refs (stored numeric
    fields, incl. doc_len), params.*, arithmetic and Math.*.
    Anything outside raises ValueError — never a raw passthrough."""
    import re as _re2

    out = {}
    for name, spec in mappings.items():
        script = spec.get("script") or {}
        source = (
            script.get("source") if isinstance(script, dict) else script
        )
        if not source:
            raise ValueError(f"runtime field {name!r}: needs a script")
        params = (
            script.get("params") or {} if isinstance(script, dict) else {}
        )
        fields = sorted(set(
            _re2.findall(r"doc\['([A-Za-z0-9_]+)'\]\.value", source)
        ))
        expr = source
        for f_ in fields:
            expr = expr.replace(f"doc['{f_}'].value", f"`{f_}`")
        for pname in sorted(params, key=len, reverse=True):
            expr = expr.replace(
                f"params.{pname}", repr(float(params[pname]))
            )
        for painless, sqlfn in _SCRIPT_MATH.items():
            expr = expr.replace(painless, sqlfn)
        residue = _re2.sub(
            r"`[A-Za-z0-9_]+`"
            r"|\b(ln|log10|sqrt|abs|greatest|least|power|exp)\b"
            r"|\d+(\.\d+)?",
            "",
            expr,
        )
        if not _re2.fullmatch(r"[\s(),+\-*/%<>=!]*", residue):
            raise ValueError(
                f"runtime field {name!r}: unsupported script "
                f"{source!r} (residue {residue!r})"
            )
        missing = [
            f_ for f_ in fields if f_ not in ix.doclens.columns
        ]
        if missing:
            raise ValueError(
                f"runtime field {name!r}: not stored: {missing}"
            )
        out[name] = (fields, F.expr(expr).cast("double"))
    return out


def runtime_sort(
    executor,
    query,
    mappings: dict,
    sort_field: str,
    ascending: bool = True,
    k: int = 10,
    fields: tuple = (),
) -> DataFrame:
    """Order a query's match set by an ES RUNTIME field — a
    per-request computed column (runtime_mappings) rather than a
    stored one. The match set (doc_id, score) joins the per-doc
    metadata it needs (match-set-sized, never the corpus), the
    runtime expression is whole-stage codegen, and the ordering is
    TakeOrderedAndProject — no global sort. Extra runtime `fields`
    are returned alongside. -> (doc_id, <sort_field>, *fields)."""
    cols = _runtime_cols(executor.ix, mappings)
    if sort_field not in cols:
        raise ValueError(
            f"sort field {sort_field!r} is not a runtime field; "
            f"have {sorted(cols)}"
        )
    want = [sort_field] + [f_ for f_ in fields if f_ != sort_field]
    need = sorted(set(
        sf for name in want for sf in cols[name][0]
    ))
    m = executor.search(query, k=None).select("doc_id")
    meta = executor.ix.doclens.select(
        "doc_id", *[F.col(c).cast("double").alias(c) for c in need]
    )
    j = m.join(meta, "doc_id")
    out = j.select(
        "doc_id", *[cols[name][1].alias(name) for name in want]
    )
    key = (
        F.asc(sort_field) if ascending else F.desc(sort_field)
    )
    return out.orderBy(key, F.asc("doc_id")).limit(k)


def _span_group(index, terms):
    """One file-pruned scan of `terms` postings -> one row per doc
    holding a term->positions map + doc_len. The shared shuffle
    shape of every positional span operator (same as the phrase
    path: exec_df.py's single-groupBy contract)."""
    distinct = sorted(set(terms))
    src = getattr(index, "flat_for", None)
    flat = src(distinct) if src else index.flat
    flat = flat.filter(F.col("term").isin(distinct))
    return (
        _drop_deleted(index, flat)
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm"),
            F.max("doc_len").alias("doc_len"),
        )
    )


def span_containing(
    index,
    big,
    little: str,
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
) -> DataFrame:
    """Lucene SpanContainingQuery (ES `span_containing`): big spans
    — a span_near over `big` terms with `slop`/`in_order` — that
    CONTAIN an occurrence of `little` (least(span) <= p <=
    greatest(span)). Returns the big spans, so it scores exactly
    like the big span_near: tf = 1, pseudo-df = min big member df
    (the PPhrase contract) — `span_containing(big, little)` is the
    score-identical subset of `span_near(big)` on docs where a
    little occurrence falls inside a qualifying window.

    Scale: ONE scan of big+little postings, ONE groupBy(doc_id);
    the containment check is nested array-`exists` HOFs in
    whole-stage codegen. -> (doc_id, score) top-k."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col

    quoted = '"' + " ".join(big) + '"'
    if slop:
        quoted += f"~{slop}"
    node = index.plan(quoted)
    lit_node = index.plan(little)
    if isinstance(node, P.PMatchNone) or isinstance(
        lit_node, P.PMatchNone
    ):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    assert isinstance(node, P.PPhrase), "span_containing: big >= 2 terms"
    assert isinstance(lit_node, P.PTerm), "span_containing: little = 1 term"
    m = len(node.terms)
    max_span = m - 1 + slop
    g = _span_group(index, list(node.terms) + [lit_node.term])
    pos = [F.col("pm")[t] for t in node.terms]
    for t in set(node.terms) | {lit_node.term}:
        g = g.filter(F.col("pm")[t].isNotNull())
    lp = F.col("pm")[lit_node.term]

    def window_exists(chosen):
        i = len(chosen)
        if i == m:
            lo, hi = F.least(*chosen), F.greatest(*chosen)
            ok = (hi - lo) <= F.lit(max_span)
            if in_order:
                for a, b in zip(chosen, chosen[1:]):
                    ok = ok & (a < b)
            return ok & F.exists(
                lp, lambda p: (p >= lo) & (p <= hi)
            )
        return F.exists(pos[i], lambda p: window_exists(chosen + [p]))

    avgdl = node.avgdl or float(index.stats["avg_dl"])
    return (
        g.filter(window_exists([]))
        .select(
            "doc_id",
            _score_col(
                node.sim, F.lit(1), F.col("doc_len"), node.idf,
                avgdl, node.tw,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_within(
    index,
    little: str,
    big,
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
) -> DataFrame:
    """Lucene SpanWithinQuery (ES `span_within`): occurrences of
    `little` that fall INSIDE some qualifying big span (span_near
    over `big` with `slop`/`in_order`). Returns the little spans, so
    it scores like the little term with tf = the QUALIFYING
    occurrence count (the span_first/span_not contract) and the
    little term's idf/norms.

    Same plan shape as span_containing: one scan, one
    groupBy(doc_id), nested codegen HOFs. -> (doc_id, score) top-k."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import _score_col

    lit_node = index.plan(little)
    quoted = '"' + " ".join(big) + '"'
    if slop:
        quoted += f"~{slop}"
    node = index.plan(quoted)
    if isinstance(node, P.PMatchNone) or isinstance(
        lit_node, P.PMatchNone
    ):
        return index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    assert isinstance(node, P.PPhrase), "span_within: big >= 2 terms"
    assert isinstance(lit_node, P.PTerm), "span_within: little = 1 term"
    m = len(node.terms)
    max_span = m - 1 + slop
    g = _span_group(index, list(node.terms) + [lit_node.term])
    pos = [F.col("pm")[t] for t in node.terms]
    for t in set(node.terms) | {lit_node.term}:
        g = g.filter(F.col("pm")[t].isNotNull())
    lp = F.col("pm")[lit_node.term]

    def covers(p, chosen):
        i = len(chosen)
        if i == m:
            lo, hi = F.least(*chosen), F.greatest(*chosen)
            ok = (hi - lo) <= F.lit(max_span)
            if in_order:
                for a, b in zip(chosen, chosen[1:]):
                    ok = ok & (a < b)
            return ok & (p >= lo) & (p <= hi)
        return F.exists(
            pos[i], lambda q_: covers(p, chosen + [q_])
        )

    tf = F.size(F.filter(lp, lambda p: covers(p, [])))
    avgdl = lit_node.avgdl or float(index.stats["avg_dl"])
    return (
        g.select("doc_id", tf.alias("_tf"), "doc_len")
        .filter(F.col("_tf") > 0)
        .select(
            "doc_id",
            _score_col(
                lit_node.sim, F.col("_tf"), F.col("doc_len"),
                lit_node.idf, avgdl, lit_node.tw,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_multi_expand(
    index, match, max_expansions: int = 50
):
    """ES `span_multi` (SpanMultiTermQueryWrapper): expand a
    multi-term query on the DRIVER dictionary (no postings touched),
    capped lexicographic-first like Lucene's term enum — the
    match_phrase_prefix expansion contract. `match` is a plain
    prefix string, or any expanding AST leaf (Prefix / WildCard /
    TermRegex / Fuzzy — whatever the planner resolves to PExpand).
    The result is a list of concrete terms to use as a SpanOr slot
    of `span_near` (slot positions = union, slot df = max member
    df, the engine's SpanOr convention — Lucene's wrapper rewrites
    to a constant-score union; ours keeps the span scoring
    contract instead so a 1-term expansion degenerates to the exact
    span). Raises if a string prefix analyzes away."""
    from lucille_spark import ast as A
    from lucille_spark import plans as P

    if isinstance(match, str):
        toks = index.planner.tokenize(match)
        if len(toks) != 1:
            raise ValueError(
                f"span_multi prefix {match!r} must analyze to one "
                "token"
            )
        match = A.Prefix(toks[0])
    node = index.planner.plan(match)
    if isinstance(node, P.PMatchNone):
        return []
    terms = (
        node.terms if isinstance(node, P.PExpand) else [node.term]
    )
    return sorted(terms)[: int(max_expansions)]


# ------------------------------------------------------------------
# ES Graph explore API (term co-occurrence graph over a query's
# significant vocabulary)
# ------------------------------------------------------------------

def graph_explore(
    executor,
    query,
    docs: DataFrame,
    vertices_k: int = 5,
    connections_k: int = 10,
    sample: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_count: int = 2,
) -> dict:
    """ES `_graph/explore` analogue: VERTICES are the query's
    JLH-significant terms (exactly `significant_terms` — the same
    sampler + background-dictionary model), CONNECTIONS are
    co-occurrence document counts between vertex pairs within the
    sampled page, canonical (a < b) order, strongest first.

    Scale: sample-bounded end to end — the page's `sample` doc ids
    broadcast into one re-analysis join (vectorized expr, no UDF);
    the vertex list is a k-term driver collect broadcast back; the
    pair fan-out is O(sample x vertices_k^2) worst case (array
    intersection first, so docs containing no vertex emit nothing).
    Nothing rescans postings or the corpus.
    -> {"vertices": (term, fg_count, bg_count, score),
        "connections": (a, b, n)}."""
    from lucille_spark.analysis import get_tokenize_expr

    verts = significant_terms(
        executor, query, docs,
        k_terms=vertices_k, sample=sample,
        text_col=text_col, id_col=id_col,
        min_doc_count=min_doc_count,
    )
    vlist = [r["term"] for r in verts.select("term").collect()]
    ix = executor.ix
    spark = ix.spark
    if not vlist:
        empty = spark.createDataFrame(
            [], "a string, b string, n long"
        )
        return {"vertices": verts, "connections": empty}
    top = executor.search(query, k=sample).select(id_col)
    tok = get_tokenize_expr(ix.stats.get("analyzer", "standard"))
    present = (
        docs.join(F.broadcast(top), id_col)
        .select(
            F.array_intersect(
                F.array_distinct(tok(text_col)),
                F.array(*[F.lit(v) for v in vlist]),
            ).alias("_vs")
        )
        .filter(F.size("_vs") >= 2)
    )
    pairs = (
        present.select(
            F.explode("_vs").alias("a"), F.col("_vs")
        )
        .select("a", F.explode("_vs").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    conns = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(int(connections_k))
    )
    return {"vertices": verts, "connections": conns}
