"""Physical query planning: Lucene AST -> resolved scoring tree.

The planner runs driver-side. It analyzes query text with the shared
analyzer, resolves every multi-term construct (Prefix / WildCard /
Regex / Range / Fuzzy) against the term dictionary into concrete
term lists, looks up global df for every scoring term, and emits a
small *physical tree* of frozen dataclasses. The tree is what every
executor interprets:

  * :mod:`lucille_spark.eval_local` — numpy evaluator (oracle + the
    per-shard WAND/exhaustive kernel inside ``applyInPandas``)
  * :mod:`lucille_spark.exec_df` — pure-DataFrame evaluator

Keeping resolution on the driver means executors never see the
dictionary (it is broadcast-free: only the handful of query terms
and their idf travel in the serialized plan), and partition pruning
can use the exact resolved term set.

AST semantics implemented here (engine Layer B; the reference is a
parser only — node meanings per SURVEY.md §2.1/§7.3):
  * Or children: UnaryPlus -> MUST, Not/UnaryMinus -> MUST_NOT,
    rest SHOULD; if any MUST exists SHOULD becomes optional, else
    >=1 SHOULD must match (Lucene BooleanQuery semantics).
  * And children: all non-negative MUST; Not/UnaryMinus MUST_NOT.
  * Standalone Not/UnaryMinus: complement, constant score 1.0.
  * Field(f, q): f in the corpus metadata fields -> exact-match
    filter on that column (constant score); any other field name
    (title, name, ...) scores against content (FIXTURES.md §3 note).
  * A Term whose text analyzes to multiple tokens becomes a
    slop-0 phrase; to zero tokens -> matches nothing.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from lucille_spark import ast
from lucille_spark.analysis import (
    get_analyzer,
    get_normalizer,
    get_regex_normalizer,
    get_search_analyzer,
)
from lucille_spark.scoring import idf as _idf

# --------------------------------------------------------------- nodes


class PNode:
    __slots__ = ()


@dataclass(frozen=True)
class PTerm(PNode):
    """Single scoring term; idf resolved at plan time. `avgdl`
    overrides the corpus-global average doc length for BM25 length
    normalization — set for terms of an INDEXED FIELD (per-field
    norms, like Lucene's per-field avgFieldLength); None = use the
    executor's global avgdl."""

    term: str
    idf: float  # the multiplicative weight W of the similarity
    avgdl: Optional[float] = None
    # similarity extras (scoring.py): `tw` is the inside-the-log term
    # weight for LM Dirichlet (0 when unused); `sim` names the
    # formula so every evaluator dispatches identically.
    tw: float = 0.0
    sim: str = "bm25"


@dataclass(frozen=True)
class PExpand(PNode):
    """Multi-term expansion (prefix/wildcard/regex/range/fuzzy):
    docs containing >=1 of `terms`; constant score 1.0.

    `source` carries the original primitive so executors can use a
    pushdown-friendly predicate on the `term` string column instead of
    shipping the enumerated IN-list into the plan (see
    lucille_spark.pushdown.expand_condition):
      ('prefix', p)                       -> StartsWith (parquet-prunable)
      ('range', lo, hi, lo_inc, hi_inc)   -> term range (parquet-prunable)
      ('wildcard', lit_prefix, regex)     -> StartsWith + rlike residual
      ('regex', lit_prefix, regex)        -> StartsWith + rlike residual
      ('fuzzy', term, max_edits)          -> length band + levenshtein
    Small expansions still use the exact IN-list (parquet pushes In
    filters); large ones switch to the predicate form."""

    terms: Tuple[str, ...]
    kind: str  # 'prefix' | 'wildcard' | 'regex' | 'range' | 'fuzzy'
    source: Tuple = ()


@dataclass(frozen=True)
class PPhrase(PNode):
    """Ordered positional match. slop=0: exact adjacency, tf = number
    of phrase occurrences. slop>0: ordered terms with total span
    <= len(terms)+slop-1, tf = 1. Scored as pseudo-term with
    idf computed from min member df (global)."""

    terms: Tuple[str, ...]
    slop: int
    idf: float
    avgdl: Optional[float] = None  # per-field norm; see PTerm.avgdl
    tw: float = 0.0  # see PTerm.tw (lmd: from min member cf)
    sim: str = "bm25"


@dataclass(frozen=True)
class PSynonym(PNode):
    """Lucene SynonymQuery (SynonymQuery.java): the member terms are
    scored as ONE pseudo-term — per-doc tf = SUM of member tfs,
    docFreq = MAX member df (so idf is blended, not summed), one
    score per doc. This is what an ES `match` query emits for
    single-token synonyms from a synonym_graph filter; it avoids the
    score inflation of query-expansion (where each synonym scores
    with its own idf and a doc containing both gets both)."""

    terms: Tuple[str, ...]
    idf: float  # from the blended (max) df
    avgdl: Optional[float] = None  # per-field norm; see PTerm.avgdl
    tw: float = 0.0
    sim: str = "bm25"


@dataclass(frozen=True)
class PMetaFilter(PNode):
    """Exact / pattern match on a metadata column; constant score.
    'num_eq'/'num_range' compare NUMERICALLY (planner emits them for
    meta columns the build recorded as numeric — Lucene points
    semantics: year:[2020 TO 2024] means 2020 <= year <= 2024, not a
    lexicographic string range)."""

    field: str
    kind: str  # 'eq' | 'prefix' | 'regex' | 'range' | 'num_eq' | 'num_range'
    value: Tuple[Optional[str], ...]  # eq/prefix/regex: (v,); range: (lo, hi)
    inclusive: Tuple[bool, bool] = (True, True)


@dataclass(frozen=True)
class PBool(PNode):
    """Lucene BooleanQuery: MUST + SHOULD + MUST_NOT with
    minimum-should-match. Covers And / Or / MinimumMatch."""

    must: Tuple[PNode, ...]
    should: Tuple[PNode, ...]
    must_not: Tuple[PNode, ...]
    min_should: int  # applies to `should` only


@dataclass(frozen=True)
class PDisMax(PNode):
    """Lucene DisjunctionMaxQuery: matches the UNION of children;
    score = max(matching child scores) + tie * (sum of the other
    matching child scores). tie=0 -> pure best clause; tie=1 ->
    identical to a SHOULD-only PBool sum. Not part of lucille's
    grammar (no parser production) — engine surface for
    Elasticsearch `multi_match type=best_fields` / `dis_max`,
    constructed via search_features.dis_max / best_fields."""

    children: Tuple[PNode, ...]
    tie: float = 0.0


@dataclass(frozen=True)
class PNot(PNode):
    """Standalone complement: all docs not matching child; const 1.0."""

    child: PNode


@dataclass(frozen=True)
class PBoost(PNode):
    child: PNode
    factor: float


@dataclass(frozen=True)
class PMatchNone(PNode):
    pass


@dataclass(frozen=True)
class PMatchAll(PNode):
    """All docs (e.g. ``[* TO *]``); constant score 1.0."""


# --------------------------------------------------------- dictionary


class TermDictionary:
    """Driver-side view of the term dictionary. Implementations:
    in-memory (oracle) and parquet-backed with pushed filters
    (index.reader.SparkIndex)."""

    def lookup_df(self, terms: Sequence[str]) -> Dict[str, int]:
        raise NotImplementedError

    def lookup_cf(self, terms: Sequence[str]) -> Dict[str, int]:
        """Collection frequency (total tf across the corpus) — needed
        only by the LM Dirichlet similarity; the dictionary's `cf`
        column is recorded at build."""
        raise NotImplementedError

    def expand_prefix(self, prefix: str) -> List[str]:
        raise NotImplementedError

    def expand_regex(self, pattern: str) -> List[str]:
        """Full-match `pattern` against dictionary terms."""
        raise NotImplementedError

    def expand_range(
        self,
        lower: Optional[str],
        upper: Optional[str],
        lower_inc: bool,
        upper_inc: bool,
    ) -> List[str]:
        raise NotImplementedError

    def expand_fuzzy(
        self, term: str, max_edits: int, transpositions: bool = False
    ) -> List[str]:
        """Terms within `max_edits` of `term`; `transpositions=True`
        uses OSA distance (adjacent swap = 1 edit), matching Lucene
        FuzzyQuery's default."""
        raise NotImplementedError


def wildcard_to_regex(ops: Sequence[object], norm=str.lower) -> str:
    """WildCard ops -> anchored-free regex source (full match).
    ``norm`` is the analyzer's normalize() applied to literal runs
    (lowercase by default; ascii_fold also folds accents)."""
    parts = []
    for op in ops:
        if isinstance(op, ast.SingleChar):
            parts.append(".")
        elif isinstance(op, ast.ManyChar):
            parts.append(".*")
        else:  # ast.Str
            parts.append(re.escape(norm(op.value)))
    return "".join(parts)


def wildcard_literal_prefix(ops: Sequence[object], norm=str.lower) -> str:
    """Leading literal characters before the first wildcard op.
    ``st*am`` -> 'st'. Every matching term starts with this prefix, so
    executors can push a parquet-prunable StartsWith bound instead of
    (or in addition to) the regex residual."""
    if ops and isinstance(ops[0], ast.Str):
        return norm(ops[0].value)
    return ""


def regex_literal_prefix(pattern: str) -> str:
    """Longest leading run of a regex that matches only itself
    (conservative: plain word chars not followed by a quantifier).
    Used the same way as :func:`wildcard_literal_prefix`."""
    out = []
    n = len(pattern)
    for i, ch in enumerate(pattern):
        if not re.fullmatch(r"[a-z0-9_]", ch):
            break
        if i + 1 < n and pattern[i + 1] in "*+?{":
            break  # quantifier applies to this char
        out.append(ch)
    return "".join(out)


def regex_literal_suffix(pattern: str) -> str:
    """Trailing literal run of a regex: every match ends with it.
    Conservative: only plain word chars at the very end, and only
    when the pattern has no alternation or escapes (a ``|`` would
    make the trailing run one branch's suffix, not the pattern's;
    a quantified last char never reaches here because the quantifier
    itself ends the pattern). ``.*cat`` -> 'cat'. Lets dictionaries
    bound LEADING-wildcard scans on a reversed-term order — Lucene's
    ReverseWildcardFilter idea without a second index."""
    if "|" in pattern or "\\" in pattern:
        return ""
    m = re.search(r"[a-z0-9_]+\Z", pattern)
    return m.group(0) if m else ""


def regex_required_substrings(pattern: str) -> List[str]:
    """Literal runs EVERY match must contain, for patterns with no
    literal prefix or suffix (``.*e.*`` -> ['e'], ``s.an`` ->
    ['s', 'an']). The n-gram prefilter idea behind Google Code
    Search's trigram index (Cox, "Regular Expression Matching with a
    Trigram Index") reduced to its conservative core: only when the
    pattern is a plain concatenation (no alternation, escapes,
    classes, groups or anchors — any of those could make a run
    optional or branch-local), each maximal ``[a-z0-9_]+`` run is
    required, minus its last char when a quantifier follows (``ab*``
    requires only 'a'). Empty list == no safe filter, scan all."""
    if any(ch in pattern for ch in "|\\[]()^${}"):
        return []
    out = []
    for m in re.finditer(r"[a-z0-9_]+", pattern):
        run, end = m.group(0), m.end()
        if end < len(pattern) and pattern[end] in "*+?":
            run = run[:-1]
        if run:
            out.append(run)
    return out


# ------------------------------------------------------------ planner


class Planner:
    """AST -> physical tree against one dictionary + corpus stats."""

    def __init__(
        self,
        dictionary: TermDictionary,
        n_docs: int,
        meta_fields: Sequence[str] = (),
        default_field: str = "content",
        analyzer: str = "standard",
        indexed_fields: Optional[Dict[str, float]] = None,
        meta_types: Optional[Dict[str, str]] = None,
        similarity: str = "bm25",
        total_tokens: Optional[float] = None,
        field_similarity: Optional[Dict[str, str]] = None,
    ) -> None:
        from lucille_spark.scoring import SIMILARITIES

        if similarity not in SIMILARITIES:
            raise ValueError(f"unknown similarity {similarity!r}")
        for f, s in (field_similarity or {}).items():
            if s not in SIMILARITIES:
                raise ValueError(
                    f"unknown similarity {s!r} for field {f!r}"
                )
        # per-field Similarity (Lucene's per-field model): an indexed
        # field may rank with its own formula; its terms carry that
        # sim in the plan, so executors mix formulas freely within
        # one boolean (each clause scores by its own field's rules).
        self.field_similarity = dict(field_similarity or {})
        # pluggable similarity (scoring.py): the planner bakes the
        # per-term weights (W, and tw for lmd) into the plan, so
        # executors need no extra state. `total_tokens` (sum of all
        # content doc lengths = n_docs * avg_dl) is required for lmd's
        # collection language model p(t|C) = cf / total_tokens.
        self.similarity = similarity
        self.total_tokens = float(total_tokens or 0.0)
        self.dict = dictionary
        self.n_docs = n_docs
        self.meta_fields = set(meta_fields)
        self.default_field = default_field
        # meta column value types recorded at build (stats.json
        # "meta_types": col -> "num" | "str"). Numeric columns get
        # NUMERIC eq/range semantics (Lucene points); pattern kinds
        # (prefix/wildcard/regex) stay string-typed on the stored
        # string representation.
        self.meta_types = dict(meta_types or {})
        # indexed full-text fields: name -> that field's average
        # length (stats.json "indexed_fields"). Their terms live in
        # the SAME dictionary/postings under the key "<field>:<tok>"
        # (':' can never occur inside an analyzer token), so df/idf,
        # salting, file pruning and the WAND path all work unchanged;
        # BM25 normalizes by the field's avgdl (per-field norms).
        self.indexed_fields = dict(indexed_fields or {})
        # query-time analysis MUST match the index-build analyzer
        # (stats.json records the name; readers pass it through
        # here) — except where Lucene's search_analyzer differs:
        # edge_ngram indexes grams but analyzes QUERY text with the
        # standard rule (ES search_as_you_type)
        self.analyzer = analyzer
        self.tokenize = get_search_analyzer(analyzer)
        # query-time synonyms (set via with_synonyms): analyzed
        # single token -> tuple of alternative surface strings.
        # Single-token alternatives blend into ONE PSynonym (Lucene
        # SynonymQuery stats); multi-token alternatives become
        # OR-ed exact phrases (what Lucene's graph query builder
        # does for multi-word synonyms).
        self.synonyms: Dict[str, Tuple[str, ...]] = {}
        # graph synonyms (multi-token KEYS, set via with_synonyms):
        # list of (key-token-tuple, (alternative-token-tuple, ...)).
        # Applied by path enumeration in phrase contexts — what
        # Lucene's SynonymGraphFilter + graph query building does.
        self.syn_graph: List[Tuple[Tuple[str, ...], Tuple[Tuple[str, ...], ...]]] = []
        # Lucene Analyzer.normalize() for multi-term query text
        # (prefix/wildcard/range/fuzzy bypass the tokenizer): plain
        # lowercase except where the analyzer folds (ascii_fold).
        # Regex patterns lowercase when the analyzer does (identity
        # for whitespace/keyword; Lucene RegexpQuery doesn't fold, so
        # ascii_fold regexes stay lowercase-only).
        self.normalize = get_normalizer(analyzer)
        self.rx_normalize = get_regex_normalizer(analyzer)

    # -- public ----------------------------------------------------
    def with_similarity(
        self, similarity: str, field_similarity: "Optional[Dict[str, str]]" = None
    ) -> "Planner":
        """Cheap per-request planner variant ranking with a different
        formula (shares the dictionary and stats) — lets batched
        serving mix similarities within one job."""
        import copy

        from lucille_spark.scoring import SIMILARITIES

        if similarity not in SIMILARITIES:
            raise ValueError(f"unknown similarity {similarity!r}")
        p = copy.copy(self)
        p.similarity = similarity
        if field_similarity is not None:
            p.field_similarity = dict(field_similarity)
        return p

    def with_synonyms(self, synonyms) -> "Planner":
        """Cheap per-request planner variant with query-time synonym
        rules: {surface term: [alternatives...]}. Keys are analyzed.
        Single-token keys apply to standalone terms (Lucene
        SynonymQuery blended stats; multi-word alternative VALUES
        become OR-ed phrases). MULTI-token keys are graph synonyms
        (Lucene SynonymGraphFilter): they apply inside phrase
        contexts — quoted phrases, match_phrase, proximity, and
        multi-token term texts — by token-path enumeration, each
        path planned as its own phrase and the paths OR-ed."""
        import copy

        p = copy.copy(self)
        norm: Dict[str, Tuple[str, ...]] = {}
        graph: List[
            Tuple[Tuple[str, ...], Tuple[Tuple[str, ...], ...]]
        ] = []
        for key, alts in (synonyms or {}).items():
            ktoks = self.tokenize(key)
            if not ktoks:
                raise ValueError(
                    f"synonym key {key!r} analyzes to no tokens"
                )
            if isinstance(alts, str):
                alts = [alts]
            if len(ktoks) == 1:
                norm[ktoks[0]] = tuple(alts)
            else:
                atoks = tuple(
                    tuple(t)
                    for t in (self.tokenize(a) for a in alts)
                    if t
                )
                if atoks:
                    graph.append((tuple(ktoks), atoks))
        p.synonyms = norm
        # longest key first: left-to-right longest-match expansion
        p.syn_graph = sorted(
            graph, key=lambda kv: (-len(kv[0]), kv[0])
        )
        return p

    def plan(self, q: ast.Query) -> PNode:
        # simplify = the optimizer pass: dead-clause elimination,
        # complement/boost folding, single-clause unwrap — all
        # score-preserving (see simplify's docstring)
        return simplify(self._plan(q))

    # -- helpers ---------------------------------------------------
    def _weight(
        self,
        df: int,
        cf: int,
        sim: Optional[str] = None,
        total: Optional[float] = None,
    ) -> Tuple[float, float]:
        """-> (W, tw) for one term under `sim` (default: the
        planner's similarity; formulas in scoring.py). `total`
        overrides the collection token count for lmd (a field's own
        total when ranking an indexed field)."""
        sim = sim or self.similarity
        if sim == "bm25":
            return _idf(df, self.n_docs), 0.0
        if sim == "tfidf":
            w = 1.0 + math.log(self.n_docs / (df + 1.0))
            return w * w, 0.0
        if sim == "lmjm":
            # W carries boosts only; tw = ((1-l)/l) / p(t|C)
            from lucille_spark.scoring import LAMBDA_JM

            return 1.0, (
                (1.0 - LAMBDA_JM) / LAMBDA_JM
            ) * (total or self.total_tokens) / float(cf)
        # lmd: W carries boosts only; tw = 1 / (mu * p(t|C))
        from lucille_spark.scoring import MU

        return 1.0, (total or self.total_tokens) / (MU * float(cf))

    def _field_sim(self, field: Optional[str]) -> str:
        if field is None:
            return self.similarity
        return self.field_similarity.get(field, self.similarity)

    def _cfs(
        self, terms: Sequence[str], sim: Optional[str] = None
    ) -> Dict[str, int]:
        """cf lookup, only performed when the similarity needs it."""
        if (sim or self.similarity) not in ("lmd", "lmjm"):
            return {}
        return self.dict.lookup_cf(terms)

    def _mk_term(
        self,
        term: str,
        df: int,
        cf: int,
        adl: Optional[float] = None,
        sim: Optional[str] = None,
        total: Optional[float] = None,
    ) -> PTerm:
        w, tw = self._weight(df, cf, sim, total)
        return PTerm(term, w, adl, tw, sim or self.similarity)

    def _mk_phrase(
        self,
        toks: Sequence[str],
        slop: int,
        df_proxy: int,
        cf_proxy: int,
        adl: Optional[float] = None,
        sim: Optional[str] = None,
        total: Optional[float] = None,
    ) -> PPhrase:
        w, tw = self._weight(df_proxy, cf_proxy, sim, total)
        return PPhrase(
            tuple(toks), slop, w, adl, tw, sim or self.similarity
        )

    def _term_idf(self, term: str) -> Tuple[float, int]:
        df = self.dict.lookup_df([term]).get(term, 0)
        return _idf(df, self.n_docs), df

    def _plan_term_text(self, text: str) -> PNode:
        toks = self.tokenize(text)
        if not toks:
            return PMatchNone()
        if len(toks) == 1:
            if self.synonyms and toks[0] in self.synonyms:
                return self._plan_synonym(toks[0], self.synonyms[toks[0]])
            df = self.dict.lookup_df(toks).get(toks[0], 0)
            if df == 0:
                return PMatchNone()
            cf = self._cfs(toks).get(toks[0], 1)
            return self._mk_term(toks[0], df, cf)
        return self._plan_phrase_syn(toks, 0)

    def _plan_synonym(self, tok: str, alts) -> PNode:
        """Lucene SynonymQuery semantics for a term with synonym
        alternatives: single-token members blend into one PSynonym
        (df = max member df — SynonymQuery.docFreq; cf summed for
        lmd's collection model), multi-token alternatives become
        OR-ed exact phrases. A member missing from the dictionary
        simply doesn't contribute (Lucene: empty TermStates)."""
        members = [tok]
        phrase_alts: List[List[str]] = []
        for a in alts:
            atoks = self.tokenize(a)
            if not atoks:
                continue
            if len(atoks) == 1:
                members.append(atoks[0])
            else:
                phrase_alts.append(atoks)
        members = sorted(set(members))
        dfs = self.dict.lookup_df(members)
        live = [t for t in members if dfs.get(t, 0) > 0]
        nodes: List[PNode] = []
        if live:
            df_blend = max(dfs[t] for t in live)
            cfs = self._cfs(live)
            cf_sum = sum(cfs.get(t, 1) for t in live)
            w, tw = self._weight(df_blend, cf_sum)
            nodes.append(
                PSynonym(tuple(live), w, None, tw, self.similarity)
            )
        for ptoks in phrase_alts:
            pn = self._plan_phrase(ptoks, 0)
            if not isinstance(pn, PMatchNone):
                nodes.append(pn)
        if not nodes:
            return PMatchNone()
        if len(nodes) == 1:
            return nodes[0]
        return PBool(
            must=(), should=tuple(nodes), must_not=(), min_should=1
        )

    def _plan_phrase(self, toks: List[str], slop: int) -> PNode:
        dfs = self.dict.lookup_df(toks)
        if any(dfs.get(t, 0) == 0 for t in toks):
            return PMatchNone()
        cfs = self._cfs(toks)
        if len(toks) == 1:
            return self._mk_term(
                toks[0], dfs[toks[0]], cfs.get(toks[0], 1)
            )
        # pseudo-term stats: min over members (global single-pass
        # upper bound, same convention for every similarity)
        df_proxy = min(dfs[t] for t in toks)
        cf_proxy = min(cfs.get(t, 1) for t in toks)
        return self._mk_phrase(toks, slop, df_proxy, cf_proxy)

    def _syn_paths(
        self, toks: Sequence[str], cap: int = 32
    ) -> List[Tuple[str, ...]]:
        """Token paths through the synonym graph, identity path
        first: at each position the original token continues, every
        multi-token graph key matching there branches into its
        alternatives, and a single-token rule branches into its
        (re-tokenized) alternatives. Deduplicated, capped at `cap`
        paths (deterministic: DFS order; the cap can only drop the
        rarest deep combinations)."""
        if not toks or (not self.syn_graph and not self.synonyms):
            return [tuple(toks)]
        out: List[Tuple[str, ...]] = []
        seen = set()

        def rec(i: int, acc: List[str]) -> None:
            if len(out) >= cap:
                return
            if i == len(toks):
                t = tuple(acc)
                if t not in seen:
                    seen.add(t)
                    out.append(t)
                return
            rec(i + 1, acc + [toks[i]])
            for key, alts in self.syn_graph:
                if tuple(toks[i:i + len(key)]) == key:
                    for alt in alts:
                        rec(i + len(key), acc + list(alt))
            for alt in self.synonyms.get(toks[i], ()):
                atoks = self.tokenize(alt)
                if atoks:
                    rec(i + 1, acc + atoks)

        rec(0, [])
        return out

    def _plan_phrase_syn(self, toks: List[str], slop: int) -> PNode:
        """Phrase planning through the synonym graph: each token
        path becomes its own (sloppy) phrase; multiple paths OR
        (SHOULD, min 1 — a doc matching several paths sums them,
        Lucene's graph-query BooleanQuery shape). With no synonym
        rules in scope this IS _plan_phrase."""
        paths = self._syn_paths(toks)
        if len(paths) == 1:
            return self._plan_phrase(list(paths[0]), slop)
        nodes: List[PNode] = []
        for p_ in paths:
            n = self._plan_phrase(list(p_), slop)
            if not isinstance(n, PMatchNone):
                nodes.append(n)
        if not nodes:
            return PMatchNone()
        if len(nodes) == 1:
            return nodes[0]
        return PBool(
            must=(), should=tuple(nodes), must_not=(), min_should=1
        )

    def _expand(
        self, terms: List[str], kind: str, source: Tuple = ()
    ) -> PNode:
        if not terms:
            return PMatchNone()
        return PExpand(tuple(sorted(set(terms))), kind, source)

    # -- dispatch ---------------------------------------------------
    def _plan(self, q: ast.Query) -> PNode:
        if isinstance(q, ast.Term):
            return self._plan_term_text(q.value)
        if isinstance(q, ast.Phrase):
            return self._plan_phrase_syn(self.tokenize(q.value), 0)
        if isinstance(q, ast.Proximity):
            return self._plan_phrase_syn(
                self.tokenize(q.value), int(q.num)
            )
        if isinstance(q, ast.Prefix):
            p = self.normalize(q.value)
            return self._expand(
                self.dict.expand_prefix(p), "prefix", ("prefix", p)
            )
        if isinstance(q, ast.WildCard):
            rx = wildcard_to_regex(q.ops, self.normalize)
            return self._expand(
                self.dict.expand_regex(rx),
                "wildcard",
                (
                    "wildcard",
                    wildcard_literal_prefix(q.ops, self.normalize),
                    rx,
                ),
            )
        if isinstance(q, ast.TermRegex):
            rx = self.rx_normalize(q.value)
            return self._expand(
                self.dict.expand_regex(rx),
                "regex",
                ("regex", regex_literal_prefix(rx), rx),
            )
        if isinstance(q, ast.TermRange):
            if q.lower is None and q.upper is None:
                return PMatchAll()
            lo = self.normalize(q.lower) if q.lower is not None else None
            hi = self.normalize(q.upper) if q.upper is not None else None
            return self._expand(
                self.dict.expand_range(lo, hi, q.lower_inc, q.upper_inc),
                "range",
                ("range", lo, hi, q.lower_inc, q.upper_inc),
            )
        if isinstance(q, ast.Fuzzy):
            max_e = 2 if q.num is None else int(q.num)
            t = self.normalize(q.value)
            if max_e == 0:
                return self._plan_term_text(t)
            # transpositions=True matches Lucene FuzzyQuery's default
            # (an adjacent swap costs 1 edit, OSA distance)
            return self._expand(
                self.dict.expand_fuzzy(t, max_e, transpositions=True),
                "fuzzy",
                ("fuzzy", t, max_e, True),
            )
        if isinstance(q, ast.Group):
            return self._plan(q.q)
        if isinstance(q, ast.UnaryPlus):
            return self._plan(q.q)
        if isinstance(q, (ast.Not, ast.UnaryMinus)):
            return PNot(self._plan(q.q))
        if isinstance(q, ast.Boost):
            return PBoost(self._plan(q.q), float(q.boost))
        if isinstance(q, ast.Field):
            return self._plan_field(q.field, q.q)
        if isinstance(q, ast.And):
            return self._plan_bool(q.qs, all_must=True)
        if isinstance(q, ast.Or):
            return self._plan_bool(q.qs, all_must=False)
        if isinstance(q, ast.MinimumMatch):
            children = [self._plan(c) for c in q.qs]
            return PBool((), tuple(children), (), int(q.num))
        raise TypeError(f"unsupported AST node: {type(q).__name__}")

    def _plan_bool(
        self, qs: Sequence[ast.Query], all_must: bool, rec=None
    ) -> PNode:
        rec = rec or self._plan
        must: List[PNode] = []
        should: List[PNode] = []
        must_not: List[PNode] = []
        for c in qs:
            inner = c.q if isinstance(c, ast.Group) else c
            if isinstance(inner, (ast.Not, ast.UnaryMinus)):
                must_not.append(rec(inner.q))
            elif isinstance(inner, ast.UnaryPlus):
                must.append(rec(inner.q))
            elif all_must:
                must.append(rec(c))
            else:
                should.append(rec(c))
        min_should = 1 if (should and not must) else 0
        return PBool(tuple(must), tuple(should), tuple(must_not), min_should)

    def _plan_field(self, field: str, q: ast.Query) -> PNode:
        if field in self.indexed_fields:
            return self._plan_indexed(field, q)
        if field not in self.meta_fields:
            return self._plan(q)  # non-corpus fields score on content
        return self._plan_meta(field, q)

    # -- indexed full-text fields -----------------------------------
    def _plan_indexed(self, field: str, q: ast.Query) -> PNode:
        """Compile a query scoped to an INDEXED text field: same
        semantics as the default field, on the "<field>:" term
        namespace, scored with the field's avgdl (per-field norms)."""
        pre = field + ":"
        adl = self.indexed_fields[field]
        sim = self._field_sim(field)
        # LMs over a field normalize by the FIELD's collection size
        ftotal = (
            adl * self.n_docs if sim in ("lmd", "lmjm") else None
        )
        rec = lambda c: self._plan_indexed(field, c)  # noqa: E731

        def phrase(toks: List[str], slop: int) -> PNode:
            pts = [pre + t for t in toks]
            if not pts:
                return PMatchNone()
            dfs = self.dict.lookup_df(pts)
            if any(dfs.get(t, 0) == 0 for t in pts):
                return PMatchNone()
            cfs = self._cfs(pts, sim)
            if len(pts) == 1:
                return self._mk_term(
                    pts[0], dfs[pts[0]], cfs.get(pts[0], 1), adl,
                    sim, ftotal,
                )
            df_proxy = min(dfs[t] for t in pts)
            cf_proxy = min(cfs.get(t, 1) for t in pts)
            return self._mk_phrase(
                pts, slop, df_proxy, cf_proxy, adl, sim, ftotal
            )

        if isinstance(q, ast.Term):
            return phrase(self.tokenize(q.value), 0)
        if isinstance(q, ast.Phrase):
            return phrase(self.tokenize(q.value), 0)
        if isinstance(q, ast.Proximity):
            return phrase(self.tokenize(q.value), int(q.num))
        if isinstance(q, ast.Prefix):
            p = pre + self.normalize(q.value)
            return self._expand(
                self.dict.expand_prefix(p), "prefix", ("prefix", p)
            )
        if isinstance(q, ast.WildCard):
            rx = re.escape(pre) + wildcard_to_regex(q.ops, self.normalize)
            lit = pre + wildcard_literal_prefix(q.ops, self.normalize)
            return self._expand(
                self.dict.expand_regex(rx), "wildcard",
                ("wildcard", lit, rx),
            )
        if isinstance(q, ast.TermRegex):
            inner = self.rx_normalize(q.value)
            rx = re.escape(pre) + inner
            lit = pre + regex_literal_prefix(inner)
            return self._expand(
                self.dict.expand_regex(rx), "regex", ("regex", lit, rx)
            )
        if isinstance(q, ast.TermRange):
            # unbounded sides clamp to the field's term namespace
            # ('￿' sorts after every analyzer char)
            lo = pre + (
                self.normalize(q.lower) if q.lower is not None else ""
            )
            lo_inc = q.lower_inc if q.lower is not None else True
            hi = (
                pre + self.normalize(q.upper)
                if q.upper is not None
                else pre + "￿"
            )
            hi_inc = q.upper_inc if q.upper is not None else True
            return self._expand(
                self.dict.expand_range(lo, hi, lo_inc, hi_inc),
                "range",
                ("range", lo, hi, lo_inc, hi_inc),
            )
        if isinstance(q, ast.Fuzzy):
            max_e = 2 if q.num is None else int(q.num)
            toks = self.tokenize(q.value.lower())
            if len(toks) != 1:
                return phrase(toks, 0)
            if max_e == 0:
                return phrase(toks, 0)
            # edit distance is prefix-invariant (d(P+a, P+b) =
            # d(a, b)), so the full-term dictionary expansion works;
            # keep only this field's namespace
            cands = [
                t
                for t in self.dict.expand_fuzzy(
                    pre + toks[0], max_e, transpositions=True
                )
                if t.startswith(pre)
            ]
            return self._expand(
                cands, "fuzzy", ("fuzzy", pre + toks[0], max_e, True)
            )
        if isinstance(q, ast.Group):
            return rec(q.q)
        if isinstance(q, ast.UnaryPlus):
            return rec(q.q)
        if isinstance(q, (ast.Not, ast.UnaryMinus)):
            return PNot(rec(q.q))
        if isinstance(q, ast.Boost):
            return PBoost(rec(q.q), float(q.boost))
        if isinstance(q, ast.Field):
            return self._plan_field(q.field, q.q)  # inner field wins
        if isinstance(q, ast.And):
            return self._plan_bool(q.qs, all_must=True, rec=rec)
        if isinstance(q, ast.Or):
            return self._plan_bool(q.qs, all_must=False, rec=rec)
        if isinstance(q, ast.MinimumMatch):
            return PBool((), tuple(rec(c) for c in q.qs), (), int(q.num))
        raise TypeError(
            f"unsupported indexed-field query: {type(q).__name__}"
        )

    def _plan_meta(self, field: str, q: ast.Query) -> PNode:
        """Compile a query scoped to a metadata column: exact-string
        semantics on the raw column value (lowercased compare);
        numeric columns (stats.json meta_types) compare numerically
        for eq/range (Lucene points semantics)."""
        numeric = self.meta_types.get(field) == "num"

        def num_or_none(v):
            try:
                return str(float(v))
            except (TypeError, ValueError):
                return None

        if isinstance(q, (ast.Term, ast.Phrase)):
            if numeric:
                v = num_or_none(q.value)
                if v is None:
                    return PMatchNone()
                return PMetaFilter(field, "num_eq", (v,))
            return PMetaFilter(field, "eq", (q.value.lower(),))
        if isinstance(q, ast.Prefix):
            return PMetaFilter(field, "prefix", (q.value.lower(),))
        if isinstance(q, ast.WildCard):
            return PMetaFilter(field, "regex", (wildcard_to_regex(q.ops),))
        if isinstance(q, ast.TermRegex):
            return PMetaFilter(field, "regex", (q.value.lower(),))
        if isinstance(q, ast.TermRange):
            if numeric:
                lo = num_or_none(q.lower) if q.lower is not None else None
                hi = num_or_none(q.upper) if q.upper is not None else None
                if (q.lower is not None and lo is None) or (
                    q.upper is not None and hi is None
                ):
                    return PMatchNone()  # unparseable numeric bound
                return PMetaFilter(
                    field, "num_range", (lo, hi), (q.lower_inc, q.upper_inc)
                )
            lo = q.lower.lower() if q.lower is not None else None
            hi = q.upper.lower() if q.upper is not None else None
            return PMetaFilter(
                field, "range", (lo, hi), (q.lower_inc, q.upper_inc)
            )
        if isinstance(q, ast.Group):
            return self._plan_meta(field, q.q)
        if isinstance(q, ast.Boost):
            return PBoost(self._plan_meta(field, q.q), float(q.boost))
        if isinstance(q, (ast.Not, ast.UnaryMinus)):
            return PNot(self._plan_meta(field, q.q))
        if isinstance(q, ast.UnaryPlus):
            return self._plan_meta(field, q.q)
        if isinstance(q, (ast.And, ast.Or)):
            must: List[PNode] = []
            should: List[PNode] = []
            must_not: List[PNode] = []
            for c in q.qs:
                inner = c.q if isinstance(c, ast.Group) else c
                if isinstance(inner, (ast.Not, ast.UnaryMinus)):
                    must_not.append(self._plan_meta(field, inner.q))
                elif isinstance(inner, ast.UnaryPlus):
                    # match _plan_bool: detect MUST on the Group-unwrapped
                    # child, so field:(+a b) keeps +a as MUST
                    must.append(self._plan_meta(field, inner.q))
                elif isinstance(q, ast.And):
                    must.append(self._plan_meta(field, c))
                else:
                    should.append(self._plan_meta(field, c))
            return PBool(
                tuple(must),
                tuple(should),
                tuple(must_not),
                1 if (should and not must) else 0,
            )
        if isinstance(q, ast.MinimumMatch):
            return PBool(
                (),
                tuple(self._plan_meta(field, c) for c in q.qs),
                (),
                int(q.num),
            )
        if isinstance(q, ast.Fuzzy):
            # fuzzy on metadata: exact match fallback
            return PMetaFilter(field, "eq", (q.value.lower(),))
        if isinstance(q, ast.Proximity):
            return PMetaFilter(field, "eq", (q.value.lower(),))
        raise TypeError(f"unsupported field query: {type(q).__name__}")


def simplify(node: PNode) -> PNode:
    """Score-preserving plan simplification (the engine's optimizer
    pass, run at the end of Planner.plan so every consumer — both
    executors, the oracle evaluator, the percolator — sees the same
    minimal tree):

      * dead-clause elimination: a MUST PMatchNone kills the whole
        boolean (zero scans for impossible queries); never-matching
        SHOULD / MUST_NOT clauses drop; an unsatisfiable
        minimum-should-match collapses to PMatchNone
      * complement folding: NOT(MatchNone) -> MatchAll,
        NOT(MatchAll) -> MatchNone
      * boost folding: Boost(Boost(x, a), b) -> Boost(x, a*b);
        Boost(x, 1.0) -> x
      * single-clause unwrap: a boolean or dis_max reduced to one
        positive clause IS that clause (sum/max of one)

    Every rule preserves both the match set and the scores exactly —
    asserted by the equivalence fuzz in tests/test_simplify.py."""
    if isinstance(node, PBoost):
        c = simplify(node.child)
        if isinstance(c, PMatchNone):
            return c
        f = node.factor
        if isinstance(c, PBoost):
            c, f = c.child, f * c.factor
        return c if f == 1.0 else PBoost(c, f)
    if isinstance(node, PNot):
        c = simplify(node.child)
        if isinstance(c, PMatchNone):
            return PMatchAll()
        if isinstance(c, PMatchAll):
            return PMatchNone()
        return PNot(c)
    if isinstance(node, PDisMax):
        kids = [simplify(c) for c in node.children]
        kids = [c for c in kids if not isinstance(c, PMatchNone)]
        if not kids:
            return PMatchNone()
        if len(kids) == 1:
            return kids[0]
        return PDisMax(tuple(kids), node.tie)
    if isinstance(node, PBool):
        must = [simplify(c) for c in node.must]
        if any(isinstance(c, PMatchNone) for c in must):
            return PMatchNone()
        should = [
            s
            for s in (simplify(c) for c in node.should)
            if not isinstance(s, PMatchNone)
        ]
        must_not = [
            m
            for m in (simplify(c) for c in node.must_not)
            if not isinstance(m, PMatchNone)
        ]
        if any(isinstance(m, PMatchAll) for m in must_not):
            return PMatchNone()
        if not must and not should:
            return PMatchNone()
        min_should = node.min_should if must else max(node.min_should, 1)
        if should and min_should > len(should):
            # dead clauses can never count toward the minimum, so an
            # unreachable minimum over the survivors is unsatisfiable
            return PMatchNone()
        if node.should and not should and must and node.min_should > 0:
            # every SHOULD clause was dead but >=1 was required
            return PMatchNone()
        if (
            len(must) == 1
            and not should
            and not must_not
        ):
            return must[0]
        if (
            len(should) == 1
            and not must
            and not must_not
            and min_should <= 1
        ):
            return should[0]
        return PBool(
            tuple(must), tuple(should), tuple(must_not), node.min_should
        )
    return node


def leaves(node: PNode) -> List[PNode]:
    """The leaves of a physical tree (terms, phrases, synonyms,
    expansions, meta filters, match-all/none), left to right, under
    every boolean, dis-max, NOT and boost: the one walk behind every
    question about the terms a tree touches."""
    out: List[PNode] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, PBool):
            stack.extend(reversed(n.must + n.should + n.must_not))
        elif isinstance(n, PDisMax):
            stack.extend(reversed(n.children))
        elif isinstance(n, (PNot, PBoost)):
            stack.append(n.child)
        else:
            out.append(n)
    return out


def collect_terms(node: PNode) -> List[str]:
    """All posting-list terms a physical tree touches (for partition
    pruning / segment scan filters)."""
    out: set = set()
    for n in leaves(node):
        if isinstance(n, PTerm):
            out.add(n.term)
        elif isinstance(n, (PExpand, PPhrase, PSynonym)):
            out.update(n.terms)
    return sorted(out)


def needs_positions(node: PNode) -> bool:
    return any(isinstance(n, PPhrase) for n in leaves(node))


def needs_universe(node: PNode) -> bool:
    """True if evaluation requires the full doc universe of a shard
    (complement) or metadata columns."""
    if isinstance(node, (PNot, PMetaFilter, PMatchAll)):
        return True
    if isinstance(node, PBool):
        return any(
            needs_universe(c) for c in node.must + node.should + node.must_not
        )
    if isinstance(node, PDisMax):
        return any(needs_universe(c) for c in node.children)
    if isinstance(node, PBoost):
        return needs_universe(node.child)
    return False
