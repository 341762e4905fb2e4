"""Physical tree -> ONE Spark SQL statement: the plan builder behind
every exec_df.DataFrameExecutor entry point (search, search_many,
warmup, evaluate).

Why one statement: building a declarative plan operator by operator
from the driver costs one py4j round trip per operator/expression —
a boolean query like `table AND (batch OR window) AND NOT stream` is
~660 driver round trips, ~300-400 ms of pure plan construction
(measured; the execution itself is comparable). Rendering the whole
plan as a single SQL string and calling `spark.sql(...)` once moves
parsing/analysis into ONE JVM call: the py4j cost is O(1) in query
complexity.

Shapes: all PTerm clauses of a boolean fold into ONE postings scan
(per-term constants come from map literals), unioned with the other
clauses and combined by a single aggregate; a phrase is one scan plus
one groupBy building a term->positions map per doc, matched with
higher-order array functions; a synonym set sums tf per doc in one
aggregate. Scores follow the scoring.py formulas with the same casts,
literals (float literals render as CAST('<repr>' AS DOUBLE), the
exact IEEE double) and operator order as exec_df._score_col, so rows
are rank-identical to the numpy oracle (tests/test_sqlgen.py) and the
420 DuckDB oracle gates run through this module.
"""

from __future__ import annotations

from typing import List, Optional

from lucille_spark import plans as P
from lucille_spark.scoring import B, K1, MU


def _q(s: str) -> str:
    """SQL single-quoted string literal with full escaping (terms
    come from arbitrary corpus text: quotes, backslashes, control
    chars all occur in a code corpus)."""
    out = []
    for ch in s:
        o = ord(ch)
        if ch == "'":
            out.append("\\'")
        elif ch == "\\":
            out.append("\\\\")
        elif o < 0x20 or o == 0x7F:
            out.append(f"\\u{o:04X}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def _d(x) -> str:
    """Exact DOUBLE literal. A bare SQL decimal literal (0.25) is
    DECIMAL in Spark; CAST('<repr>' AS DOUBLE) constant-folds to the
    bit-identical double of `x`."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _in_list(terms) -> str:
    return "(" + ", ".join(_q(t) for t in terms) + ")"


# --------------------------------------------------------- scoring


def _bm25_sql(tf: str, dl: str, idf_val: float, avgdl) -> str:
    adl = avgdl if isinstance(avgdl, str) else _d(avgdl)
    tff = f"CAST({tf} AS DOUBLE)"
    return (
        f"{_d(idf_val)} * {tff} / ({tff} + {_d(K1)} * ({_d(1.0 - B)}"
        f" + {_d(B)} * CAST({dl} AS DOUBLE) / {adl}))"
    )


def _score_sql(sim: str, tf: str, dl: str, w, avgdl, tw=0.0) -> str:
    """Similarity-dispatched score expression (the SQL rendering of
    exec_df._score_col): `w`/`avgdl`/`tw` accept a float or an SQL
    expression string (per-term map lookups)."""
    if sim == "bm25":
        if isinstance(w, str):
            return f"{w} * {_bm25_sql(tf, dl, 1.0, avgdl)}"
        return _bm25_sql(tf, dl, float(w), avgdl)
    tff = f"CAST({tf} AS DOUBLE)"
    dld = f"CAST({dl} AS DOUBLE)"
    if sim == "tfidf":
        shape = f"SQRT({tff}) / SQRT(GREATEST({dld}, {_d(1.0)}))"
    elif sim == "lmd":
        twc = tw if isinstance(tw, str) else _d(float(tw))
        raw = (
            f"LOG1P({tff} * {twc})"
            f" + LN({_d(MU)} / ({dld} + {_d(MU)}))"
        )
        shape = f"GREATEST({raw}, {_d(0.0)})"
    elif sim == "lmjm":
        twc = tw if isinstance(tw, str) else _d(float(tw))
        shape = f"LOG1P({twc} * {tff} / GREATEST({dld}, {_d(1.0)}))"
    else:
        raise ValueError(f"unknown similarity {sim!r}")
    if not isinstance(w, str) and float(w) == 1.0:
        return shape
    return f"{w if isinstance(w, str) else _d(float(w))} * ({shape})"


def _map_lookup(d: dict, cast: str) -> str:
    """Per-term constant: a map literal indexed by the term column,
    cast to `cast` (NULL for terms outside the map)."""
    if not d:
        return f"CAST(NULL AS {cast})"
    ks = list(d)
    if cast.lower() in ("int", "integer"):
        vals = ", ".join(str(int(d[k])) for k in ks)
    else:
        vals = ", ".join(_d(d[k]) for k in ks)
    keys = ", ".join(_q(k) for k in ks)
    return (
        f"CAST(map_from_arrays(array({keys}), array({vals}))"
        f"[term] AS {cast})"
    )


# ----------------------------------------------- expansion predicate


def expand_condition_sql(node: P.PExpand, col: str = "term") -> str:
    """pushdown.expand_condition rendered as SQL (same predicate
    selection rules, same residuals)."""
    from lucille_spark.pushdown import IN_THRESHOLD

    src = node.source
    kind = src[0] if src else None
    if kind == "prefix":
        return f"startswith({col}, {_q(src[1])})"
    if kind == "range":
        _, lo, hi, lo_inc, hi_inc = src
        conds = ["true"]
        if lo is not None:
            conds.append(f"{col} {'>=' if lo_inc else '>'} {_q(lo)}")
        if hi is not None:
            conds.append(f"{col} {'<=' if hi_inc else '<'} {_q(hi)}")
        return "(" + " AND ".join(conds) + ")"
    if len(node.terms) <= IN_THRESHOLD or kind is None:
        if not node.terms:
            return "false"
        return f"{col} IN {_in_list(node.terms)}"
    if kind in ("wildcard", "regex"):
        _, lit_prefix, rx = src
        cond = f"{col} RLIKE {_q('^(?:' + rx + ')$')}"
        if lit_prefix:
            cond = f"startswith({col}, {_q(lit_prefix)}) AND {cond}"
        else:
            sfx = P.regex_literal_suffix(rx)
            if sfx:
                cond = f"endswith({col}, {_q(sfx)}) AND {cond}"
            else:
                for s in P.regex_required_substrings(rx):
                    cond = f"contains({col}, {_q(s)}) AND {cond}"
        return f"({cond})"
    if kind == "fuzzy":
        term, max_e = src[1], src[2]
        transpositions = src[3] if len(src) > 3 else False
        if transpositions:
            if not node.terms:
                return "false"
            return f"{col} IN {_in_list(node.terms)}"
        return (
            f"(ABS(LENGTH({col}) - {len(term)}) <= {int(max_e)}"
            f" AND levenshtein({col}, {_q(term)}) <= {int(max_e)})"
        )
    if not node.terms:
        return "false"
    return f"{col} IN {_in_list(node.terms)}"


# --------------------------------------------------------- compiler


class SqlCompiler:
    """Renders a PNode to a SELECT producing (doc_id, score). The
    `flat` / `doclens` view names are provided by the caller
    (exec_df registers them, the postings view file-pruned per
    query)."""

    def __init__(self, flat_view: str, doclens_view: str, avgdl: float):
        self.flat = flat_view
        self.doclens = doclens_view
        self.avgdl = avgdl

    # every method returns SQL selecting columns (doc_id, score)
    def node(self, node: P.PNode) -> str:
        if isinstance(node, P.PMatchNone):
            return (
                f"SELECT doc_id, {_d(1.0)} AS score"
                f" FROM {self.doclens} WHERE false"
            )
        if isinstance(node, P.PMatchAll):
            return (
                f"SELECT doc_id, {_d(1.0)} AS score FROM {self.doclens}"
            )
        if isinstance(node, P.PTerm):
            score = _score_sql(
                node.sim, "tf", "doc_len", node.idf,
                node.avgdl or self.avgdl, node.tw,
            )
            return (
                f"SELECT doc_id, {score} AS score FROM {self.flat}"
                f" WHERE term = {_q(node.term)}"
            )
        if isinstance(node, P.PExpand):
            cond = expand_condition_sql(node)
            return (
                f"SELECT doc_id, {_d(1.0)} AS score FROM"
                f" (SELECT DISTINCT doc_id FROM {self.flat}"
                f" WHERE {cond})"
            )
        if isinstance(node, P.PPhrase):
            return self._phrase(node)
        if isinstance(node, P.PSynonym):
            return self._synonym(node)
        if isinstance(node, P.PMetaFilter):
            return self._meta(node)
        if isinstance(node, P.PNot):
            child = self.node(node.child)
            return (
                f"SELECT d.doc_id, {_d(1.0)} AS score FROM"
                f" (SELECT doc_id FROM {self.doclens}) d"
                f" LEFT ANTI JOIN ({child}) c ON d.doc_id = c.doc_id"
            )
        if isinstance(node, P.PBoost):
            child = self.node(node.child)
            return (
                f"SELECT doc_id, score * {_d(node.factor)} AS score"
                f" FROM ({child})"
            )
        if isinstance(node, P.PBool):
            return self._bool(node)
        if isinstance(node, P.PDisMax):
            return self._dismax(node)
        raise TypeError(type(node).__name__)

    def _dismax(self, node: P.PDisMax) -> str:
        parts = " UNION ALL ".join(
            f"SELECT doc_id, score FROM ({self.node(c)})"
            for c in node.children
        )
        return (
            f"SELECT doc_id, (mx + {_d(float(node.tie))} * (sm - mx))"
            f" AS score FROM (SELECT doc_id, MAX(score) AS mx,"
            f" SUM(score) AS sm FROM ({parts}) GROUP BY doc_id)"
        )

    def _bool(self, node: P.PBool) -> str:
        term_must = [c for c in node.must if isinstance(c, P.PTerm)]
        term_should = [c for c in node.should if isinstance(c, P.PTerm)]
        rest_must = [c for c in node.must if not isinstance(c, P.PTerm)]
        rest_should = [
            c for c in node.should if not isinstance(c, P.PTerm)
        ]
        parts: List[str] = []
        sims = {t.sim for t in term_must + term_should}
        if len(term_must) + len(term_should) >= 2 and len(sims) == 1:
            parts.append(self._terms_scan(term_must, term_should))
        else:
            rest_must = list(node.must)
            rest_should = list(node.should)
        for c in rest_must:
            parts.append(
                f"SELECT doc_id, score, 1 AS m_cnt, 0 AS s_cnt"
                f" FROM ({self.node(c)})"
            )
        for c in rest_should:
            parts.append(
                f"SELECT doc_id, score, 0 AS m_cnt, 1 AS s_cnt"
                f" FROM ({self.node(c)})"
            )
        if not parts:
            return (
                f"SELECT doc_id, {_d(1.0)} AS score"
                f" FROM {self.doclens} WHERE false"
            )
        u = " UNION ALL ".join(parts)
        conds = ["true"]
        if node.must:
            conds.append(f"n_must = {len(node.must)}")
        min_should = (
            node.min_should if node.must else max(node.min_should, 1)
        )
        if node.should and min_should > 0:
            conds.append(f"n_should >= {min_should}")
        out = (
            f"SELECT doc_id, score FROM (SELECT doc_id,"
            f" SUM(score) AS score, SUM(m_cnt) AS n_must,"
            f" SUM(s_cnt) AS n_should FROM ({u}) GROUP BY doc_id)"
            f" WHERE {' AND '.join(conds)}"
        )
        for i, mn in enumerate(node.must_not):
            out = (
                f"SELECT t.doc_id, t.score FROM ({out}) t LEFT ANTI"
                f" JOIN ({self.node(mn)}) mn{i}"
                f" ON t.doc_id = mn{i}.doc_id"
            )
        return out

    def _terms_scan(
        self, term_must: List[P.PTerm], term_should: List[P.PTerm]
    ) -> str:
        idf: dict = {}
        adl: dict = {}
        twm: dict = {}
        m_cnt: dict = {}
        s_cnt: dict = {}
        for t in term_must:
            idf[t.term] = t.idf
            adl[t.term] = t.avgdl or self.avgdl
            twm[t.term] = t.tw
            m_cnt[t.term] = m_cnt.get(t.term, 0) + 1
        for t in term_should:
            idf[t.term] = t.idf
            adl[t.term] = t.avgdl or self.avgdl
            twm[t.term] = t.tw
            s_cnt[t.term] = s_cnt.get(t.term, 0) + 1
        sim = (term_must + term_should)[0].sim
        w = {
            t: idf[t] * (m_cnt.get(t, 0) + s_cnt.get(t, 0))
            for t in idf
        }
        terms = sorted(idf)
        b_expr = _score_sql(
            sim, "tf", "doc_len", 1.0,
            f"COALESCE({_map_lookup(adl, 'double')}, {_d(self.avgdl)})",
            f"COALESCE({_map_lookup(twm, 'double')}, {_d(0.0)})",
        )
        return (
            f"SELECT doc_id, ({b_expr}) * {_map_lookup(w, 'double')}"
            f" AS score,"
            f" COALESCE({_map_lookup(m_cnt, 'int')}, 0) AS m_cnt,"
            f" COALESCE({_map_lookup(s_cnt, 'int')}, 0) AS s_cnt"
            f" FROM {self.flat} WHERE term IN {_in_list(terms)}"
        )

    def _synonym(self, node: P.PSynonym) -> str:
        terms = sorted(set(node.terms))
        score = _score_sql(
            node.sim, "tf_s", "doc_len", node.idf,
            node.avgdl or self.avgdl, node.tw,
        )
        return (
            f"SELECT doc_id, {score} AS score FROM (SELECT doc_id,"
            f" SUM(tf) AS tf_s, MAX(doc_len) AS doc_len FROM"
            f" {self.flat} WHERE term IN {_in_list(terms)}"
            f" GROUP BY doc_id)"
        )

    def _phrase(self, node: P.PPhrase) -> str:
        m = len(node.terms)
        distinct = sorted(set(node.terms))
        pos_cols = ", ".join(
            f"pm[{_q(t)}] AS pos{i}" for i, t in enumerate(node.terms)
        )
        g = (
            f"SELECT doc_id, doc_len, {pos_cols} FROM (SELECT doc_id,"
            f" map_from_entries(collect_list(struct(term, positions)))"
            f" AS pm, MAX(doc_len) AS doc_len, COUNT(*) AS _nt FROM"
            f" {self.flat} WHERE term IN {_in_list(distinct)}"
            f" GROUP BY doc_id) WHERE _nt = {len(distinct)}"
        )
        if node.slop == 0:
            starts = "pos0"
            for i in range(1, m):
                starts = (
                    f"array_intersect({starts},"
                    f" transform(pos{i}, p -> p - {i}))"
                )
            body = (
                f"SELECT doc_id, doc_len, size({starts}) AS tf_p"
                f" FROM ({g})"
            )
            body = f"SELECT * FROM ({body}) WHERE tf_p > 0"
        else:
            max_gap = m - 1 + node.slop

            def chain(level: int, prev: str, bound: str) -> str:
                if level == m:
                    return "true"
                inner = chain(level + 1, f"q{level}", bound)
                return (
                    f"exists(pos{level}, q{level} -> q{level} > {prev}"
                    f" AND q{level} <= {bound} AND {inner})"
                )

            matched = (
                f"exists(pos0, p1 -> {chain(1, 'p1', f'p1 + {max_gap}')})"
            )
            body = (
                f"SELECT doc_id, doc_len, 1 AS tf_p FROM ({g})"
                f" WHERE {matched}"
            )
        score = _score_sql(
            node.sim, "tf_p", "doc_len", node.idf,
            node.avgdl or self.avgdl, node.tw,
        )
        return f"SELECT doc_id, {score} AS score FROM ({body})"

    def _meta(self, node: P.PMetaFilter) -> str:
        f = node.field
        if node.kind in ("num_eq", "num_range"):
            ncol = f"CAST({f} AS DOUBLE)"
            if node.kind == "num_eq":
                cond = f"{ncol} = {_d(node.value[0])}"
            else:
                lo, hi = node.value
                lo_inc, hi_inc = node.inclusive
                conds = [f"{ncol} IS NOT NULL"]
                if lo is not None:
                    conds.append(
                        f"{ncol} {'>=' if lo_inc else '>'} {_d(lo)}"
                    )
                if hi is not None:
                    conds.append(
                        f"{ncol} {'<=' if hi_inc else '<'} {_d(hi)}"
                    )
                cond = " AND ".join(conds)
            return (
                f"SELECT doc_id, {_d(1.0)} AS score FROM"
                f" {self.doclens} WHERE {cond}"
            )
        col = f"lower(CAST({f} AS STRING))"
        if node.kind == "eq":
            cond = f"{col} = {_q(node.value[0])}"
        elif node.kind == "prefix":
            cond = f"startswith({col}, {_q(node.value[0])})"
        elif node.kind == "regex":
            cond = f"{col} RLIKE {_q('^(?:' + node.value[0] + ')$')}"
        elif node.kind == "range":
            lo, hi = node.value
            lo_inc, hi_inc = node.inclusive
            conds = ["true"]
            if lo is not None:
                conds.append(f"{col} {'>=' if lo_inc else '>'} {_q(lo)}")
            if hi is not None:
                conds.append(f"{col} {'<=' if hi_inc else '<'} {_q(hi)}")
            cond = " AND ".join(conds)
        else:
            raise ValueError(node.kind)
        return (
            f"SELECT doc_id, {_d(1.0)} AS score FROM {self.doclens}"
            f" WHERE {cond}"
        )


def compile_search(
    node: P.PNode,
    flat_view: str,
    doclens_view: str,
    avgdl: float,
    k: Optional[int],
    deletes_view: Optional[str] = None,
    doc_boosts=None,
    meta_cols: Optional[List[str]] = None,
) -> str:
    """Full search() statement: root node + doc-boost CASE + delete
    anti-join + (score DESC, doc_id ASC) ordering + LIMIT k + the
    optional meta join — one string, one spark.sql call."""
    c = SqlCompiler(flat_view, doclens_view, avgdl)
    sql = c.node(node)
    if doc_boosts:
        case = _d(1.0)
        for lo, hi, fct in doc_boosts:
            case = (
                f"CASE WHEN doc_id >= {int(lo)} AND doc_id < {int(hi)}"
                f" THEN {_d(float(fct))} ELSE {case} END"
            )
        sql = f"SELECT doc_id, score * ({case}) AS score FROM ({sql})"
    if deletes_view:
        # small-by-contract delete set -> broadcast anti-join, no
        # shuffle of the match set
        sql = (
            f"SELECT /*+ BROADCAST(dd) */ t.doc_id, t.score FROM"
            f" ({sql}) t LEFT ANTI JOIN"
            f" (SELECT doc_id FROM {deletes_view}) dd"
            f" ON t.doc_id = dd.doc_id"
        )
    order = " ORDER BY score DESC, doc_id ASC"
    limit = f" LIMIT {int(k)}" if k is not None else ""
    sql = f"SELECT doc_id, score FROM ({sql}){order}{limit}"
    if meta_cols is not None:
        # broadcast the K-row result side, stream doclens (a left
        # join would make the corpus the build side at scale); every
        # result id exists in doclens, so inner == left. k=None keeps
        # the un-hinted join and lets AQE pick from actual sizes.
        mc = ", ".join(f"m.{c_}" for c_ in meta_cols)
        hint = "/*+ BROADCAST(r) */ " if k is not None else ""
        sql = (
            f"SELECT {hint}m.doc_id, r.score{', ' + mc if mc else ''}"
            f" FROM {doclens_view} m JOIN ({sql}) r"
            f" ON m.doc_id = r.doc_id{order}"
        )
    return sql
