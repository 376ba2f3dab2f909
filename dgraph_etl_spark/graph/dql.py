"""DQL text front-end: the reference's query subset (EP3 verbatim
parity) plus the practical Dgraph DQL features a user of the reference
would reach for next. Parses query text and executes it as the same
broadcast-frontier traversal plan g01-g05 run.

The reference's query binary sends exactly one shape over gRPC
(cmd/query/main.go:29-43): var blocks, ``eq``/``uid`` roots, edge
steps with ``@filter(NOT uid(...) AND ...)``, leaf projections. That
subset is covered verbatim (g30). On top of it this module supports
the documented public DQL semantics for:

    query   := '{' block+ '}'
    block   := NAME '(' 'func:' root {',' modifier} ')'
               directive* '{' line* '}'
    directive := '@filter(' filter ')' | '@recurse(' rargs ')'
               | '@cascade' | '@groupby(' ATTR ')' | '@normalize'
    rargs   := 'depth:' INT [',' 'loop:' ('true'|'false')]
    root    := 'eq(' ATTR ',' VALUE ')' | 'uid(' VAR ')'
             | 'has(' PRED ')'
             | ('ge'|'le'|'gt'|'lt') '(' ATTR ',' VALUE ')'
             | ('anyofterms'|'allofterms') '(' ATTR ',' '"' TERMS '"' ')'
             | ('anyoftext'|'alloftext') '(' ATTR ',' '"' TEXT '"' ')'
             | 'regexp(' ATTR ',' '/' RE '/' ['i'] ')'
             | 'between(' ATTR ',' VALUE ',' VALUE ')'
    modifier:= 'orderasc:' ATTR | 'orderdesc:' ATTR
             | 'first:' INT | 'offset:' INT
    line    := '#' comment
             | [VAR 'as'] PRED [ '@filter(' filter ')' ]
                              [ '@facets(' facetpred ')' ]  # edge step
             | VAR 'as' ATTR                              # value bind
             | VAR 'as' 'count(' PRED ')'                 # value bind
             | 'count(' PRED ')'                          # fan-out
             | 'count(uid)'                               # cardinality
             | 'expand(_all_)'                            # every attr
             | AGGFN '(val(' VAR '))'                     # aggregate
             | ATTR                                       # leaf proj
    AGGFN   := 'min' | 'max' | 'sum' | 'avg'
    filter  := orx ; orx := andx {'OR' andx}
             ; andx := unary {'AND' unary}
             ; unary := 'NOT' unary | '(' orx ')' | term
    term    := 'uid(' VAR ')' | 'eq(' REF ',' VALUE ')'
             | 'has(' PRED ')'
             | ('ge'|'le'|'gt'|'lt') '(' REF ',' VALUE ')'
             | ('anyofterms'|'allofterms') '(' ATTR ',' '"' TERMS '"' ')'
             | ('anyoftext'|'alloftext') '(' ATTR ',' '"' TEXT '"' ')'
             | 'regexp(' ATTR ',' '/' RE '/' ['i'] ')'
             | 'between(' ATTR ',' VALUE ',' VALUE ')'
    REF     := ATTR | 'val(' VAR ')'

Semantics (Dgraph's, for this subset):
- a block's root is a uid set; ``@filter`` after the head filters the
  root set BEFORE ordering/pagination (Dgraph's evaluation order);
- ``orderasc/orderdesc`` sort by an attribute -- nodes MISSING the
  order attribute are dropped from the result, exactly as Dgraph
  documents for sorted queries; ties break on uid (here: ``id``);
- ``first``/``offset`` paginate the (ordered) root set; without an
  explicit order Dgraph pages in uid order, mirrored here on ``id``;
- an edge step follows the named predicate out of every root uid; its
  ``@filter`` prunes the REACHED set; ``x as pred`` binds it;
- ``count(pred)`` projects each root uid's distinct out-neighbor
  count through ``pred`` (0 when none);
- ``@recurse(depth: N)`` expands the block's listed edge predicates
  recursively, N-1 levels out of the root set; the block's output is
  the flattened reach set (root included). Bare body words that name
  an edge predicate are followed; the rest project as leaves;
- ``@cascade`` keeps only uids carrying EVERY listed leaf predicate,
  applied AFTER pagination exactly as Dgraph documents (the known
  gotcha: a cascaded page may return fewer than ``first: N`` rows);
- ``@facets(pred)`` on an edge step prunes EDGES by facet columns
  (the binding's extra columns beyond src/dst) -- a row filter on the
  edge scan, pushed down, never a join;
- ``@groupby(attr)`` with a ``count(uid)`` body buckets the root uids
  by the attribute's value (uids lacking it drop) and counts each
  group; a plain ``count(uid)`` block emits the root cardinality;
- ``x as <attr>`` / ``x as count(pred)`` bind VALUE variables (per-uid
  scalars over the block's root set: the attribute's values where it
  exists, or the distinct out-degree including 0); ``val(x)`` then
  appears in eq/ge/le/gt/lt filter terms, ``uid(x)`` is the uid set a
  value var is defined on, and a block of ``min/max/sum/avg(val(x))``
  lines emits a one-row aggregate (sum/avg via exact decimal sums,
  the registry's cross-engine convention);
- ``anyofterms``/``allofterms`` match Dgraph's term index semantics:
  the stored string is tokenized (lowercased, split on any run of
  non-alphanumeric characters) and the node matches when its token set
  intersects (any) or covers (all) the query's terms -- a NULL or
  termless stored value matches nothing;
- ``alloftext``/``anyoftext`` match Dgraph's FULLTEXT index
  semantics: both the stored string and the query run through the
  same analyzer -- lowercase, split on non-alphanumeric runs, drop a
  FIXED English stopword list (_FULLTEXT_STOPWORDS), then a
  suffix-stripping stemmer -- and the node matches when its stemmed
  token set covers (all) or intersects (any) the query's stemmed
  terms. The stemmer is a documented English-lite SUBSET of Dgraph's
  Snowball/Porter analyzer: plural reduction (sses->ss, ies->i,
  trailing s) then one of ing/ed/ly stripped under minimum-length
  guards (_stem_case_sql lists the exact rules) -- 'sorting' and
  'sorts' match stored 'sort', but Porter-only conflations (e-restore:
  'merged' vs 'merge', doubled consonants, latinate suffixes) are NOT
  performed; the MATCHING semantics are exactly Dgraph's, the
  analyzer is the documented approximation (SURVEY.md s3). A query
  that is all stopwords holds no searchable terms and refuses loudly;
- ``regexp(attr, /re/)`` matches the raw stored string against the
  pattern (substring semantics, Dgraph's trigram-index reading);
  ``/re/i`` is case-insensitive. The pattern must survive the filter
  tokenizer and the block head/body/comment scanners: whitespace,
  parens, commas, quotes, braces (quantifiers like ``/a{2}/`` -- the
  '{' reads as a block-body opener), and '#' (reads as a comment)
  inside the pattern are out-of-subset and refuse loudly (use
  character classes / spell repetitions out);
- ``between(attr, lo, hi)`` is the INCLUSIVE typed range (Dgraph's
  documented semantics) -- one index consultation, where the
  ge-AND-le spelling consults it once per bound;
- ``expand(_all_)`` projects EVERY bound leaf attribute of the root
  uids (left-joined, so nodes keep the fields they have), appended in
  sorted attribute order after any explicitly listed leaves. Dgraph
  resolves _all_ through its type system; this engine's binding-dict
  analog is the set of bound leaf_attrs -- the schema-equivalent
  surface. Outside @recurse/@cascade/var blocks (each refusal is
  loud);
- inequality terms compare by the attribute's declared type
  (``DqlGraph.attr_types``): numeric attributes compare numerically,
  strings lexicographically -- a numeric comparison against an
  unparseable literal is a loud error, never a silent string compare;
- ``@normalize`` blocks (Dgraph's flattened-output directive) are the
  ONE place nested sub-blocks parse: the body is a tree of
  ``alias : attr`` aliased leaves, bare ``attr`` leaves, and
  ``pred { ... }`` edge sub-blocks. The output is FLAT -- one row per
  root-to-leaf path combination: each edge sub-block multiplies its
  parent's rows by that parent node's out-neighbors through ``pred``
  (siblings therefore cross-product PER PARENT, exactly the shape
  Dgraph's docs example produces for performance.actor x
  performance.character), a parent with no such edge keeps one row
  with the subtree's columns NULL (Dgraph emits the flat object
  without those fields; NULL is the flat-table spelling of absent),
  and ONLY aliased predicates project (Dgraph's documented rule --
  unaliased leaves are accepted and contribute nothing). Root
  @filter/order/first/offset apply to the root uid set as usual.
  Out-of-subset and refused loudly: @normalize on a var block,
  combined with @recurse/@cascade/@groupby, 'VAR as' bindings or
  @filter/@facets/count()/expand() inside the body, duplicate
  aliases anywhere in the tree, and a tree with no aliased leaf;
- ``var`` blocks bind only; NAMED blocks are outputs.

Execution: uid sets are DataFrames with one ``id`` column; an edge
step calls graph/traverse.neighbors (and @recurse calls expand), the
broadcast-frontier join against the bound predicate's edge table that
k_hop uses (the 100 TB edge table never moves, the frontier does);
NOT is a left-anti join, AND a left-semi fold, OR a union-dedup of
branch survivors; ``first: N`` plans as the
TakeOrderedAndProject top-k (the b24 shape -- never a global sort),
with the page's row_number computed on the <= offset+first surviving
rows. The relational reading is documented at graph/traverse.py:1.

The graph itself is supplied as ``DqlGraph`` bindings (edge tables per
predicate, eq-attribute index, leaf attributes), so the front-end is
schema-agnostic: the fixture binding lives with the graph suite.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .traverse import expand, neighbors, out_pairs

# filter/root terms: tagged tuples
#   ("uid", var) ("eq", attr, val) ("has", pred) ("cmp", op, attr, val)
#   ("and", [..]) ("or", [..]) ("not", expr)
_CMP_OPS = ("ge", "le", "gt", "lt")


# ---------------------------------------------------------------- AST


@dataclass
class EdgeStep:
    pred: str
    alias: str | None  # 'x as pred' binding, or None
    filt: tuple | None = None  # filter expr AST, or None
    count_bind: bool = False  # 'x as count(pred)': per-uid value bind
    facets: tuple | None = None  # @facets(...) edge-row predicate AST

    @property
    def not_uids(self) -> list[str]:
        """The NOT-uid vars when the filter is the reference subset's
        pure conjunction shape (``NOT uid(a) AND NOT uid(b)``); []
        when unfiltered. Raises on any richer filter -- reading a
        boolean algebra through this keyhole would be silently wrong."""
        if self.filt is None:
            return []
        terms = (
            list(self.filt[1]) if self.filt[0] == "and" else [self.filt]
        )
        out = []
        for t in terms:
            if t[0] == "not" and t[1][0] == "uid":
                out.append(t[1][1])
            else:
                raise ValueError(
                    f"filter is not a pure NOT-uid conjunction: {self.filt!r}"
                )
        return out


@dataclass
class NormNode:
    """One level of a ``@normalize`` body tree: aliased/bare leaf
    attributes at this level plus ``pred { ... }`` edge sub-blocks."""

    leaves: list = field(default_factory=list)  # (alias | None, attr)
    children: list = field(default_factory=list)  # (pred, NormNode)


@dataclass
class Block:
    name: str  # 'var' or an output name
    root_kind: str  # 'eq' | 'uid' | 'has' | 'ge' | 'le' | 'gt' | 'lt'
    root_args: tuple  # ('team_id', '7') for eq/cmp; ('src',) for uid/has
    steps: list[EdgeStep] = field(default_factory=list)
    leaf_attrs: list[str] = field(default_factory=list)
    counts: list[str] = field(default_factory=list)  # count(pred) lines
    root_filter: tuple | None = None  # @filter on the block head
    order: tuple | None = None  # (attr, ascending: bool)
    first: int | None = None
    offset: int | None = None
    recurse: tuple | None = None  # (depth: int, loop: bool)
    cascade: bool = False  # @cascade: require every listed leaf
    aggs: list = field(default_factory=list)  # (fn, var): min(val(x)) ...
    groupby: str | None = None  # @groupby(attr)
    count_uid: bool = False  # 'count(uid)' body line
    expand_all: bool = False  # 'expand(_all_)' body line
    normalize: bool = False  # @normalize on the block head
    norm_tree: NormNode | None = None  # @normalize body tree


class DqlSyntaxError(ValueError):
    """Malformed or out-of-subset DQL -- always names the offending
    fragment (the repo's fail-loudly discipline)."""


_EDGE_PREFIX = re.compile(r"^(?:(?P<alias>\w+)\s+as\s+)?(?P<pred>\w+)$")
_COUNT_UID_LINE = re.compile(r"^count\s*\(\s*uid\s*\)\s*$")
_EXPAND_ALL_LINE = re.compile(r"^expand\s*\(\s*_all_\s*\)\s*$")
_COUNT_LINE = re.compile(r"^count\s*\(\s*(?P<pred>\w+)\s*\)\s*$")
_AGG_LINE = re.compile(
    r"^(?P<fn>min|max|sum|avg)\s*\(\s*val\s*\(\s*(?P<var>\w+)\s*\)\s*\)\s*$"
)
_COUNT_BIND = re.compile(
    r"^(?P<alias>\w+)\s+as\s+count\s*\(\s*(?P<pred>\w+)\s*\)\s*$"
)
_FILTER_TOKEN = re.compile(
    r"\s*(?:(?P<lp>\()|(?P<rp>\))|(?P<comma>,)"
    r"|(?P<word>AND\b|OR\b|NOT\b)"
    r"|(?P<quoted>\"[^\"]*\"|'[^']*')"
    r"|(?P<atom>[^\s(),\"']+))"
)


def _tokenize_filter(text: str) -> list[str]:
    toks, pos = [], 0
    while pos < len(text):
        m = _FILTER_TOKEN.match(text, pos)
        if m is None or m.end() == pos:
            raise DqlSyntaxError(f"unreadable filter fragment: {text[pos:]!r}")
        pos = m.end()
        for kind in ("lp", "rp", "comma", "word", "quoted", "atom"):
            v = m.group(kind)
            if v is not None:
                toks.append(v)
                break
    return toks


def _parse_func_args(toks: list[str], i: int, name: str):
    """Collect ``name( ... )``'s arguments at toks[i] == '(' with paren
    awareness, splitting on depth-1 commas. Each argument comes back
    as a token list (so nested ``val(x)`` stays intact). Returns
    (args, index-after-close)."""
    if i >= len(toks) or toks[i] != "(":
        raise DqlSyntaxError(f"expected '(' after {name!r} in filter")
    args: list[list[str]] = [[]]
    depth, j = 1, i + 1
    while j < len(toks):
        t = toks[j]
        if t == "(":
            depth += 1
            args[-1].append(t)
        elif t == ")":
            depth -= 1
            if depth == 0:
                j += 1
                break
            args[-1].append(t)
        elif t == "," and depth == 1:
            args.append([])
        else:
            args[-1].append(t)
        j += 1
    else:
        raise DqlSyntaxError(f"unclosed {name}(...) in filter")
    return [a for a in args if a], j


def _arg_atom(arg: list[str], ctx: str) -> str:
    """An argument that must be a single bare token (attr/var/value)."""
    if len(arg) != 1:
        raise DqlSyntaxError(f"{ctx}: expected a single token, got {arg!r}")
    return arg[0].strip("\"'")


def _arg_ref(arg: list[str], ctx: str):
    """An attr name OR a ``val(x)`` reference: returns ('attr', name)
    or ('val', var)."""
    if len(arg) == 4 and arg[0] == "val" and arg[1] == "(" and arg[3] == ")":
        return ("val", arg[2])
    return ("attr", _arg_atom(arg, ctx))


def _parse_func_term(toks: list[str], i: int) -> tuple[tuple, int]:
    """Parse ``name(arg, ...)`` at ``toks[i]`` into a term tuple."""
    name = toks[i]
    args, j = _parse_func_args(toks, i + 1, name)
    if name == "uid":
        if len(args) != 1:
            raise DqlSyntaxError(f"uid() takes one var, got {args!r}")
        return ("uid", _arg_atom(args[0], "uid()")), j
    if name == "eq":
        if len(args) != 2:
            raise DqlSyntaxError(f"eq() takes (attr, value), got {args!r}")
        ref = _arg_ref(args[0], "eq()")
        val = _arg_atom(args[1], "eq() value")
        if ref[0] == "val":
            return ("eqval", ref[1], val), j
        return ("eq", ref[1], val), j
    if name == "has":
        if len(args) != 1:
            raise DqlSyntaxError(f"has() takes one predicate, got {args!r}")
        return ("has", _arg_atom(args[0], "has()")), j
    if name in _CMP_OPS:
        if len(args) != 2:
            raise DqlSyntaxError(f"{name}() takes (attr, value), got {args!r}")
        ref = _arg_ref(args[0], f"{name}()")
        val = _arg_atom(args[1], f"{name}() value")
        if ref[0] == "val":
            return ("cmpval", name, ref[1], val), j
        return ("cmp", name, ref[1], val), j
    if name in ("anyofterms", "allofterms"):
        if len(args) != 2:
            raise DqlSyntaxError(
                f'{name}() takes (attr, "terms"), got {args!r}'
            )
        attr = _arg_atom(args[0], f"{name}()")
        terms = _term_tokens(_arg_atom(args[1], f"{name}() terms"))
        if not terms:
            raise DqlSyntaxError(
                f"{name}({attr}, ...): the query string holds no "
                "searchable terms"
            )
        return ("terms", "any" if name == "anyofterms" else "all",
                attr, terms), j
    if name in ("anyoftext", "alloftext"):
        if len(args) != 2:
            raise DqlSyntaxError(
                f'{name}() takes (attr, "text"), got {args!r}'
            )
        attr = _arg_atom(args[0], f"{name}()")
        stems = fulltext_terms(_arg_atom(args[1], f"{name}() text"))
        if not stems:
            raise DqlSyntaxError(
                f"{name}({attr}, ...): the query text holds no "
                "searchable terms after stopword removal"
            )
        return ("fulltext", "any" if name == "anyoftext" else "all",
                attr, stems), j
    if name == "between":
        # between(attr, lo, hi): INCLUSIVE range by the attribute's
        # declared type (Dgraph's documented semantics) -- one term,
        # one index scan, unlike the ge(...) AND le(...) spelling
        # which consults the index once per bound
        if len(args) != 3:
            raise DqlSyntaxError(
                f"between() takes (attr, lo, hi), got {args!r}"
            )
        attr = _arg_atom(args[0], "between()")
        lo = _arg_atom(args[1], "between() lo")
        hi = _arg_atom(args[2], "between() hi")
        return ("between", attr, lo, hi), j
    if name == "regexp":
        if len(args) != 2:
            raise DqlSyntaxError(f"regexp() takes (attr, /re/), got {args!r}")
        attr = _arg_atom(args[0], "regexp()")
        raw = _arg_atom(args[1], "regexp() pattern")
        m = re.fullmatch(r"/(?P<re>.+)/(?P<flag>i?)", raw)
        if m is None:
            # either not slash-delimited, or the pattern contains
            # whitespace/parens/commas/quotes the tokenizer split --
            # both out-of-subset (the docstring's regexp note)
            raise DqlSyntaxError(
                f"regexp() pattern must be a /re/ or /re/i literal "
                "without whitespace/parens/commas/quotes/braces/'#', "
                f"got {raw!r}"
            )
        return ("regexp", attr, m.group("re"), m.group("flag") == "i"), j
    raise DqlSyntaxError(f"unsupported filter function: {name!r}")


def _term_tokens(raw: str) -> tuple[str, ...]:
    """Dgraph's term tokenizer: lowercase, split on any run of
    non-alphanumeric characters, drop empties. The SAME convention the
    executor applies to stored values (_terms_set) -- one tokenizer on
    both sides or anyofterms('A-B') silently never matches."""
    return tuple(t for t in re.split(r"[^a-z0-9]+", raw.lower()) if t)


# ---------------------------------------------------- fulltext analyzer
# alloftext/anyoftext's analyzer, defined ONCE as data + one SQL-text
# builder so the Spark executor, the DuckDB oracles, and the Python
# query-side stemmer cannot drift: the SQL fragment uses only
# LIKE/substr/length/CASE, which parse and evaluate identically in
# Spark SQL and DuckDB.

_FULLTEXT_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "in", "on", "at", "to", "is",
    "are", "was", "were", "be", "been", "it", "this", "that", "with",
    "as", "for", "by", "from", "not", "but",
)

# ordered stem rules: (suffix, chars-to-drop, min-token-length). First
# match wins WITHIN each step; step 2 runs on step 1's output. 'ies'
# drops 2 (-> 'i', Porter's plural rule); 'ss' is a guard (dropped 0)
# so 'cross' never loses its s.
_STEM_STEP1 = (("sses", 2, 0), ("ies", 2, 0), ("ss", 0, 0), ("s", 1, 4))
_STEM_STEP2 = (("ing", 3, 6), ("ed", 2, 5), ("ly", 2, 5))


def _stem_step_sql(var: str, rules) -> str:
    parts = []
    for suffix, drop, min_len in rules:
        cond = f"({var}) LIKE '%{suffix}'"
        if min_len:
            cond += f" AND length({var}) >= {min_len}"
        out = (
            f"substr({var}, 1, length({var})-{drop})" if drop else f"({var})"
        )
        parts.append(f"WHEN {cond} THEN {out}")
    return f"CASE {' '.join(parts)} ELSE ({var}) END"


def _stem_case_sql(var: str) -> str:
    """Engine-neutral SQL stemming one token expression ``var``."""
    return _stem_step_sql(f"{_stem_step_sql(var, _STEM_STEP1)}", _STEM_STEP2)


def _stem_step_py(tok: str, rules) -> str:
    for suffix, drop, min_len in rules:
        if tok.endswith(suffix) and (not min_len or len(tok) >= min_len):
            return tok[: len(tok) - drop] if drop else tok
    return tok


def fulltext_stem(tok: str) -> str:
    """Python mirror of _stem_case_sql (property-tested equivalent)."""
    return _stem_step_py(_stem_step_py(tok, _STEM_STEP1), _STEM_STEP2)


def fulltext_terms(raw: str) -> tuple[str, ...]:
    """Query-side analyzer: tokenize, drop stopwords, stem."""
    return tuple(
        fulltext_stem(t)
        for t in _term_tokens(raw)
        if t not in _FULLTEXT_STOPWORDS
    )


def fulltext_tokens_sql(col: str, split_fn: str, xform_fn: str,
                        filter_fn: str) -> str:
    """The stored-value analyzer as one SQL expression over ``col`` --
    parameterized on the three function names that differ by engine:
    Spark (split, transform, filter) and DuckDB (string_split_regex,
    list_transform, list_filter); everything inside the lambdas is the
    shared dialect."""
    stop = ", ".join(f"'{w}'" for w in _FULLTEXT_STOPWORDS)
    toks = (
        f"{filter_fn}({split_fn}(lower({col}), '[^a-z0-9]+'), "
        f"t -> t <> '' AND t NOT IN ({stop}))"
    )
    return f"{xform_fn}({toks}, t -> {_stem_case_sql('t')})"


def _parse_unary(toks: list[str], i: int) -> tuple[tuple, int]:
    if i >= len(toks):
        raise DqlSyntaxError("filter ends mid-expression")
    if toks[i] == "NOT":
        inner, j = _parse_unary(toks, i + 1)
        return ("not", inner), j
    if toks[i] == "(":
        inner, j = _parse_or(toks, i + 1)
        if j >= len(toks) or toks[j] != ")":
            raise DqlSyntaxError("unbalanced parens in filter")
        return inner, j + 1
    return _parse_func_term(toks, i)


def _parse_and(toks: list[str], i: int) -> tuple[tuple, int]:
    parts, j = [], i
    expr, j = _parse_unary(toks, j)
    parts.append(expr)
    while j < len(toks) and toks[j] == "AND":
        expr, j = _parse_unary(toks, j + 1)
        parts.append(expr)
    return (parts[0] if len(parts) == 1 else ("and", parts)), j


def _parse_or(toks: list[str], i: int) -> tuple[tuple, int]:
    parts, j = [], i
    expr, j = _parse_and(toks, j)
    parts.append(expr)
    while j < len(toks) and toks[j] == "OR":
        expr, j = _parse_and(toks, j + 1)
        parts.append(expr)
    return (parts[0] if len(parts) == 1 else ("or", parts)), j


def _validate_facet_expr(expr: tuple, part: str) -> None:
    """@facets(...) predicates are ROW-level tests on the edge table's
    facet columns: only eq/ge/le/gt/lt over facet names (composed with
    AND/OR/NOT) are meaningful -- uid/has/val terms are uid-set tests
    and would silently change meaning if accepted here."""
    kind = expr[0]
    if kind in ("and", "or"):
        for p in expr[1]:
            _validate_facet_expr(p, part)
    elif kind == "not":
        _validate_facet_expr(expr[1], part)
    elif kind not in ("eq", "cmp"):
        raise DqlSyntaxError(
            "@facets supports eq/ge/le/gt/lt over facet names "
            f"(AND/OR/NOT composed); got {expr[0]!r} in: {part!r}"
        )


def parse_filter(text: str) -> tuple:
    """Parse a ``@filter(...)`` body into a term/boolean AST. Raises
    DqlSyntaxError on anything outside the subset."""
    toks = _tokenize_filter(text)
    if not toks:
        raise DqlSyntaxError("empty @filter()")
    expr, i = _parse_or(toks, 0)
    if i != len(toks):
        raise DqlSyntaxError(
            f"trailing content in filter: {' '.join(toks[i:])!r}"
        )
    return expr


def _strip_comment(raw: str) -> str:
    """Strip a '#' comment from one source line, skipping '#'
    characters inside quoted values -- ``eq(name, "a#b")`` keeps its
    literal instead of truncating into an unrelated unterminated-quote
    error (round-11 advisory). A quote left unterminated on the line
    disables stripping for the rest of the line: the structural
    scanners downstream then refuse the FULL fragment with the loud
    unterminated-quote error. '#' inside a /re/ pattern remains
    out-of-subset (patterns are not quote-delimited; the module
    docstring's regexp note)."""
    i = 0
    while i < len(raw):
        ch = raw[i]
        if ch in "\"'":
            j = raw.find(ch, i + 1)
            if j < 0:
                return raw
            i = j + 1
            continue
        if ch == "#":
            return raw[:i]
        i += 1
    return raw


def _check_head_pattern_split(head: str) -> None:
    """Refuse a block head that ends mid-``/re/`` pattern BY NAME. A
    brace quantifier (``/a{2}/``) puts a '{' inside the pattern, which
    the head/body splitter reads as the block-body opener -- without
    this check the user gets a confusing unbalanced-parens error from
    the truncated head (round-11 advisory). The tell-tale is an odd
    count of '/' outside quoted values: '/' appears nowhere else in
    the subset's head grammar."""
    n, i = 0, 0
    while i < len(head):
        ch = head[i]
        if ch in "\"'":
            i = _skip_quote(head, i)
            continue
        if ch == "/":
            n += 1
        i += 1
    if n % 2:
        raise DqlSyntaxError(
            "block head ends inside a /re/ pattern -- braces "
            "(quantifiers like /a{2}/) are out-of-subset in regexp "
            f"patterns; spell the repetition out: {head!r}"
        )


def _find_unquoted_brace(s: str, start: int) -> int:
    """Index of the first '{' at or after ``start`` that is not inside
    a quoted value; -1 when none. The block head/body splitter's
    counterpart to _skip_quote -- a '{' inside eq(name, "a{b") is
    content, not the body opener."""
    i = start
    while i < len(s):
        ch = s[i]
        if ch in "\"'":
            i = _skip_quote(s, i)
            continue
        if ch == "{":
            return i
        i += 1
    return -1


def _skip_quote(s: str, i: int) -> int:
    """Index just past the string literal opening at ``s[i]`` (the
    subset has no escape sequences: a quote runs to its next matching
    character). Keeps every structural scanner below from counting a
    paren/brace/comma INSIDE a quoted value -- eq(name, "a(b") must
    parse, not die on phantom unbalanced parens (round-10 advisory)."""
    j = s.find(s[i], i + 1)
    if j < 0:
        raise DqlSyntaxError(f"unterminated quote in: {s[i:][:60]!r}")
    return j + 1


def _split_head_args(inner: str) -> list[str]:
    """Split the head's paren body on depth-0 commas, so function
    arguments (``eq(a, b)``) stay intact. Quoted values are opaque:
    parens/commas inside them are content, not structure."""
    parts, depth, start, i = [], 0, 0, 0
    while i < len(inner):
        ch = inner[i]
        if ch in "\"'":
            i = _skip_quote(inner, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i].strip())
            start = i + 1
        i += 1
    parts.append(inner[start:].strip())
    return [p for p in parts if p]


def _scan_parens(s: str, open_idx: int) -> tuple[str, int]:
    """Return (content, index-after-close) of the balanced paren group
    opening at ``s[open_idx]``. Parens inside quoted values are content
    (see _skip_quote)."""
    depth, j = 0, open_idx
    while j < len(s):
        ch = s[j]
        if ch in "\"'":
            j = _skip_quote(s, j)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx + 1 : j], j + 1
        j += 1
    raise DqlSyntaxError(f"unbalanced parens in: {s!r}")


def _parse_recurse(content: str) -> tuple[int, bool]:
    """@recurse(depth: N[, loop: true|false]) -> (depth, loop).
    depth is required and >= 1; loop defaults false (Dgraph's default).
    The flattened uid-set output this executor produces makes loop
    observationally irrelevant (it changes Dgraph's NESTED tree shape,
    never the reach set: visited-pruned BFS still reaches every node
    within depth-1 steps at its first visit), so both values are
    accepted and executed as the cheaper visited-pruned expansion."""
    depth, loop = None, False
    for part in _split_head_args(content):
        key, _, val = part.partition(":")
        key, val = key.strip(), val.strip().strip("\"'")
        if key == "depth":
            try:
                depth = int(val)
            except ValueError:
                raise DqlSyntaxError(
                    f"depth: expects an integer, got {val!r}"
                ) from None
            if depth < 1:
                raise DqlSyntaxError(f"depth: must be >= 1, got {depth}")
        elif key == "loop":
            if val not in ("true", "false"):
                raise DqlSyntaxError(
                    f"loop: expects true|false, got {val!r}"
                )
            loop = val == "true"
        else:
            raise DqlSyntaxError(f"unsupported @recurse argument: {part!r}")
    if depth is None:
        raise DqlSyntaxError(
            "@recurse requires an explicit depth: N (unbounded recursion "
            "over a cyclic graph has no flattened fixed output)"
        )
    return depth, loop


_NORM_LEAF = re.compile(r"^(?:(?P<alias>\w+)\s*:\s*)?(?P<attr>\w+)$")


def _parse_normalize_body(inner: str, ctx: str) -> NormNode:
    """Parse a ``@normalize`` block body -- the ONE grammar position
    where nested ``pred { ... }`` sub-blocks are in-subset. Each level
    holds leaf lines (``alias : attr`` aliased, or bare ``attr``) and
    edge sub-blocks; anything else (VAR-as bindings, @filter/@facets,
    count()/expand() lines) refuses loudly by name."""
    node = NormNode()
    pos = 0
    while True:
        open_i = _find_unquoted_brace(inner, pos)
        seg = inner[pos:open_i] if open_i >= 0 else inner[pos:]
        lines = [ln.strip() for ln in seg.splitlines() if ln.strip()]
        if open_i < 0:
            for ln in lines:
                node.leaves.append(_parse_norm_leaf(ln, ctx))
            break
        if not lines:
            raise DqlSyntaxError(
                "@normalize sub-block is missing its edge predicate "
                f"name before '{{' in block {ctx!r}"
            )
        *leaf_lines, pred = lines
        for ln in leaf_lines:
            node.leaves.append(_parse_norm_leaf(ln, ctx))
        if not re.fullmatch(r"\w+", pred):
            raise DqlSyntaxError(
                "@normalize edge sub-blocks take a bare predicate "
                "name ('pred { ... }'); 'VAR as'/@filter/@facets on "
                f"them are outside the subset: {pred!r} in block "
                f"{ctx!r}"
            )
        depth, j = 1, open_i + 1
        while j < len(inner) and depth:
            if inner[j] in "\"'":
                j = _skip_quote(inner, j)
                continue
            if inner[j] == "{":
                depth += 1
            elif inner[j] == "}":
                depth -= 1
            j += 1
        if depth:
            raise DqlSyntaxError(
                f"unbalanced braces in @normalize body of block {ctx!r}"
            )
        child = _parse_normalize_body(inner[open_i + 1 : j - 1], ctx)
        node.children.append((pred, child))
        pos = j
    dup_preds = sorted(
        {p for p, _ in node.children
         if sum(1 for q, _ in node.children if q == p) > 1}
    )
    if dup_preds:
        # the same predicate twice at one level would cross-product
        # the SAME edge set against itself -- never what was meant
        raise DqlSyntaxError(
            f"duplicate @normalize sub-block predicate(s) {dup_preds} "
            f"in block {ctx!r}"
        )
    bare = [a for al, a in node.leaves if al is None]
    dup_bare = sorted({a for a in bare if bare.count(a) > 1})
    if dup_bare:
        raise DqlSyntaxError(
            f"duplicate leaf line(s) in @normalize block {ctx!r}: "
            f"{dup_bare}"
        )
    return node


def _parse_norm_leaf(line: str, ctx: str) -> tuple:
    m = _NORM_LEAF.match(line)
    if m is None:
        raise DqlSyntaxError(
            "@normalize bodies take 'alias : attr' / bare 'attr' "
            "leaves and 'pred { ... }' sub-blocks only; got "
            f"{line!r} in block {ctx!r}"
        )
    return (m.group("alias"), m.group("attr"))


def _validate_normalize(block: Block) -> None:
    """Parse-time @normalize constraints: output block only, no
    directive mixing, at least one aliased leaf, distinct aliases
    tree-wide (incl. the executor's reserved id/rn columns)."""
    if block.name == "var":
        raise DqlSyntaxError(
            "@normalize projects a flattened output -- a var block "
            "binds nothing; name the block"
        )
    if block.recurse is not None or block.cascade or block.groupby:
        raise DqlSyntaxError(
            "@normalize combined with @recurse/@cascade/@groupby is "
            "outside the subset"
        )
    aliases: list[str] = ["id", "rn"]
    any_alias = False

    def walk(node: NormNode) -> None:
        nonlocal any_alias
        for alias, _attr in node.leaves:
            if alias is not None:
                any_alias = True
                aliases.append(alias)
        for _pred, child in node.children:
            walk(child)

    walk(block.norm_tree)
    if not any_alias:
        raise DqlSyntaxError(
            f"@normalize block {block.name!r} aliases no predicate -- "
            "only aliased predicates project (Dgraph's rule), so the "
            "output would be empty; alias at least one leaf "
            "('alias : attr')"
        )
    dupes = sorted({a for a in aliases if aliases.count(a) > 1})
    if dupes:
        raise DqlSyntaxError(
            f"@normalize block {block.name!r} alias collision(s): "
            f"{dupes} (aliases and the reserved id/rn columns must "
            "be distinct tree-wide)"
        )


def _parse_head(head: str) -> Block:
    m = re.match(r"^(?P<name>\w+)\s*\(", head)
    if not m:
        raise DqlSyntaxError(f"unsupported block head: {head!r}")
    raw_inner, pos = _scan_parens(head, m.end() - 1)
    im = re.match(r"^\s*func\s*:\s*(?P<inner>.*)$", raw_inner, re.DOTALL)
    if not im:
        raise DqlSyntaxError(f"block head missing 'func:': {head!r}")
    parts = _split_head_args(im.group("inner"))
    if not parts:
        raise DqlSyntaxError(f"empty func: in block head: {head!r}")
    root_toks = _tokenize_filter(parts[0])
    term, j = _parse_func_term(root_toks, 0)
    if j != len(root_toks):
        # 'func: eq(a, 1) AND eq(b, 2)' must refuse, not silently run
        # as the first conjunct (root functions don't compose in DQL;
        # composition belongs in @filter)
        raise DqlSyntaxError(
            f"trailing content after root function: "
            f"{' '.join(root_toks[j:])!r}"
        )
    if term[0] == "uid":
        root_kind, root_args = "uid", (term[1],)
    elif term[0] == "eq":
        root_kind, root_args = "eq", (term[1], term[2])
    elif term[0] == "has":
        root_kind, root_args = "has", (term[1],)
    elif term[0] == "cmp":  # ("cmp", op, attr, val)
        root_kind, root_args = term[1], (term[2], term[3])
    elif term[0] in (
        "eqval", "cmpval", "terms", "fulltext", "regexp", "between"
    ):
        # func: eq/ge/le/gt/lt(val(x), N) -- root over a value var --
        # or a string-search/range root (anyofterms/allofterms/
        # regexp/between)
        root_kind, root_args = term[0], term[1:]
    else:
        raise DqlSyntaxError(f"unsupported root function: {parts[0]!r}")
    block = Block(m.group("name"), root_kind, root_args)
    for part in parts[1:]:
        if ":" not in part:
            raise DqlSyntaxError(f"unsupported root modifier: {part!r}")
        key, _, val = part.partition(":")
        key, val = key.strip(), val.strip().strip("\"'")
        if key in ("orderasc", "orderdesc"):
            if block.order is not None:
                raise DqlSyntaxError(f"duplicate order modifier: {part!r}")
            block.order = (val, key == "orderasc")
        elif key in ("first", "offset"):
            try:
                n = int(val)
            except ValueError:
                raise DqlSyntaxError(
                    f"{key}: expects an integer, got {val!r}"
                ) from None
            if n < 0:
                raise DqlSyntaxError(f"{key}: must be >= 0, got {n}")
            if getattr(block, key) is not None:
                raise DqlSyntaxError(f"duplicate {key}: modifier")
            setattr(block, key, n)
        else:
            raise DqlSyntaxError(f"unsupported root modifier: {part!r}")
    rest = head[pos:].strip()
    while rest:
        dm = re.match(r"^@(?P<dname>\w+)\s*", rest)
        if not dm:
            raise DqlSyntaxError(
                f"unsupported trailing content in block head: {rest!r}"
            )
        dname = dm.group("dname")
        after = dm.end()
        content = None
        if after < len(rest) and rest[after] == "(":
            content, after = _scan_parens(rest, after)
        if dname == "filter":
            if content is None:
                raise DqlSyntaxError("@filter requires (...)")
            if block.root_filter is not None:
                raise DqlSyntaxError("duplicate @filter on block head")
            block.root_filter = parse_filter(content)
        elif dname == "recurse":
            if content is None:
                raise DqlSyntaxError("@recurse requires (depth: N)")
            if block.recurse is not None:
                raise DqlSyntaxError("duplicate @recurse on block head")
            block.recurse = _parse_recurse(content)
        elif dname == "cascade":
            if content is not None:
                raise DqlSyntaxError(
                    "@cascade takes no arguments in this subset "
                    "(field-scoped cascade is outside it)"
                )
            block.cascade = True
        elif dname == "normalize":
            if content is not None:
                raise DqlSyntaxError("@normalize takes no arguments")
            if block.normalize:
                raise DqlSyntaxError("duplicate @normalize on block head")
            block.normalize = True
        elif dname == "groupby":
            if content is None or not re.fullmatch(
                r"\w+", content.strip().strip("\"'")
            ):
                raise DqlSyntaxError(
                    "@groupby takes one attribute name, got "
                    f"{content!r}"
                )
            if block.groupby is not None:
                raise DqlSyntaxError("duplicate @groupby on block head")
            block.groupby = content.strip().strip("\"'")
        else:
            raise DqlSyntaxError(f"unsupported directive @{dname}")
        rest = rest[after:].strip()
    return block


def parse_dql(text: str) -> list[Block]:
    """Parse the DQL subset into block ASTs. Raises DqlSyntaxError
    (with the fragment) on anything outside the subset -- silently
    mis-reading a query is worse than refusing."""
    # strip comments, then tokenize on braces so block bodies are
    # delimited exactly (the reference indents with tabs and spaces)
    lines = []
    for raw in text.splitlines():
        line = _strip_comment(raw).strip()
        if line:
            lines.append(line)
    # newline-joined: body lines stay line-delimited for _body_lines
    src = "\n".join(lines)
    if not src.startswith("{") or not src.endswith("}"):
        raise DqlSyntaxError(f"query must be wrapped in {{...}}: {src[:60]!r}")
    body = src[1:-1].strip()
    blocks: list[Block] = []
    pos = 0
    while pos < len(body):
        open_i = _find_unquoted_brace(body, pos)
        if open_i < 0:
            if body[pos:].strip():
                raise DqlSyntaxError(
                    f"trailing content outside a block: {body[pos:][:60]!r}"
                )
            break
        head = " ".join(body[pos:open_i].split())
        _check_head_pattern_split(head)
        depth, i = 1, open_i + 1
        while i < len(body) and depth:
            # braces inside quoted values are content, not structure
            if body[i] in "\"'":
                i = _skip_quote(body, i)
                continue
            if body[i] == "{":
                depth += 1
            elif body[i] == "}":
                depth -= 1
            i += 1
        if depth:
            raise DqlSyntaxError(f"unbalanced braces after: {head!r}")
        inner = body[open_i + 1 : i - 1].strip()
        block = _parse_head(head)
        if block.normalize:
            # the one nested-brace grammar position: the body is a
            # leaf/sub-block tree, not body lines
            block.norm_tree = _parse_normalize_body(inner, block.name)
            _validate_normalize(block)
            blocks.append(block)
            pos = i
            continue
        if "{" in inner:
            raise DqlSyntaxError(
                f"nested blocks are outside the reference subset: {inner[:60]!r}"
            )
        for part in _body_lines(inner):
            am = _AGG_LINE.match(part)
            if am is not None:
                block.aggs.append((am.group("fn"), am.group("var")))
                continue
            cb = _COUNT_BIND.match(part)
            if cb is not None:
                block.steps.append(
                    EdgeStep(
                        cb.group("pred"),
                        cb.group("alias"),
                        None,
                        count_bind=True,
                    )
                )
                continue
            if _EXPAND_ALL_LINE.match(part):
                if block.expand_all:
                    raise DqlSyntaxError(
                        f"duplicate expand(_all_) line in block "
                        f"{block.name!r}"
                    )
                block.expand_all = True
                continue
            if _COUNT_UID_LINE.match(part):
                if block.count_uid:
                    # same refusal as doubled field/count/agg lines
                    raise DqlSyntaxError(
                        f"duplicate count(uid) line in block "
                        f"{block.name!r}"
                    )
                block.count_uid = True
                continue
            cm = _COUNT_LINE.match(part)
            if cm is not None:
                block.counts.append(cm.group("pred"))
                continue
            prefix, directives = _split_edge_directives(part)
            em = _EDGE_PREFIX.match(prefix)
            if em is None:
                raise DqlSyntaxError(f"unsupported body line: {part!r}")
            filt = facets = None
            if "filter" in directives:
                filt = parse_filter(directives["filter"])
            if "facets" in directives:
                facets = parse_filter(directives["facets"])
                _validate_facet_expr(facets, part)
            if directives and em.group("alias") is None:
                # an unaliased filtered/facet-pruned edge step is a
                # nested EXPANSION in full Dgraph (per-uid child
                # results); this executor has no nested output, so
                # computing it and emitting only the root set would be
                # a silently wrong answer -- refuse instead
                raise DqlSyntaxError(
                    "edge step with @filter/@facets but no 'VAR as' "
                    f"binding is outside the subset: {part!r}"
                )
            if em.group("alias"):
                block.steps.append(
                    EdgeStep(
                        em.group("pred"),
                        em.group("alias"),
                        filt,
                        facets=facets,
                    )
                )
            else:
                # a bare word: leaf attribute projection (in a
                # @recurse block: an edge predicate to follow OR a
                # leaf -- resolved against the bindings at execution)
                block.leaf_attrs.append(em.group("pred"))
        if block.recurse is not None:
            if block.steps:
                raise DqlSyntaxError(
                    "@recurse blocks take bare predicate names; "
                    "'VAR as pred' bindings are outside the subset"
                )
            if block.name == "var":
                raise DqlSyntaxError(
                    "a var @recurse block binds nothing and returns "
                    "nothing -- name the block to get its reach set"
                )
            if (
                block.order is not None
                or block.first is not None
                or block.offset is not None
            ):
                raise DqlSyntaxError(
                    "@recurse with order/first/offset is outside the "
                    "subset (Dgraph applies them per recursion level, "
                    "which a flattened reach set cannot represent)"
                )
        if block.groupby is not None:
            if block.name == "var":
                raise DqlSyntaxError(
                    "a @groupby block is an output -- name it"
                )
            if not block.count_uid:
                raise DqlSyntaxError(
                    "@groupby blocks need a 'count(uid)' body line "
                    "(the one group aggregate in this subset)"
                )
            if (
                block.steps
                or block.leaf_attrs
                or block.counts
                or block.aggs
                or block.expand_all
                or block.cascade
                or block.recurse is not None
                or block.order is not None
                or block.first is not None
                or block.offset is not None
            ):
                raise DqlSyntaxError(
                    "@groupby blocks take ONLY the count(uid) line"
                )
        elif block.count_uid:
            if block.name == "var":
                raise DqlSyntaxError(
                    "a count(uid) block is an output -- name it"
                )
            if (
                block.steps
                or block.leaf_attrs
                or block.counts
                or block.aggs
                or block.expand_all
            ):
                raise DqlSyntaxError(
                    "count(uid) mixes a one-row total into per-uid "
                    "projections -- split it into its own block"
                )
        if block.aggs:
            if block.name == "var":
                raise DqlSyntaxError(
                    "an aggregation block is an output -- name it"
                )
            if (
                block.steps
                or block.leaf_attrs
                or block.counts
                or block.expand_all
                or block.cascade
                or block.recurse is not None
                or block.order is not None
                or block.first is not None
                or block.offset is not None
            ):
                raise DqlSyntaxError(
                    "aggregation blocks take ONLY min/max/sum/avg"
                    "(val(x)) lines (mixing per-uid projections into a "
                    "one-row aggregate output has no flattened shape)"
                )
        if block.expand_all:
            if block.name == "var":
                raise DqlSyntaxError(
                    "expand(_all_) projects -- a var block binds "
                    "nothing; name the block"
                )
            if block.recurse is not None or block.cascade:
                raise DqlSyntaxError(
                    "expand(_all_) under @recurse/@cascade is outside "
                    "the subset (list the predicates explicitly)"
                )
        for what, seq in (
            ("field", block.leaf_attrs),
            ("count", block.counts),
            ("aggregate", ["%s(val(%s))" % a for a in block.aggs]),
        ):
            dupes = sorted({w for w in seq if seq.count(w) > 1})
            if dupes:
                # a doubled projection line would join the same table
                # twice and emit duplicate output columns (ambiguous
                # to every downstream select); Dgraph rejects repeats
                raise DqlSyntaxError(
                    f"duplicate {what} line(s) in block "
                    f"{block.name!r}: {dupes}"
                )
        if block.name != "var":
            # an output block's projected column names must be distinct
            # ACROSS families too: a bind like 'score as score' next to
            # a 'score' leaf line would otherwise surface only as a
            # downstream ambiguous-column error (round-10 advisory).
            # 'id'/'rn' are the executor's own output columns -- same
            # refusal. Edge-step aliases are included even though an
            # edge bind projects nothing: whether an alias is a value
            # bind or an edge bind resolves only at execution, and an
            # alias shadowing a projected name is confusing either way.
            projected = (
                ["id", "rn"]
                + list(block.leaf_attrs)
                + [f"count_{p}" for p in block.counts]
                + [f"{fn}_{var}" for fn, var in block.aggs]
                + [s.alias for s in block.steps if s.alias]
            )
            dupes = sorted(
                {n for n in projected if projected.count(n) > 1}
            )
            if dupes:
                raise DqlSyntaxError(
                    f"output block {block.name!r} column name "
                    f"collision(s): {dupes} (leaf/count/agg projections, "
                    "'VAR as' aliases, and the reserved id/rn columns "
                    "must all be distinct)"
                )
        if block.cascade:
            if block.name == "var":
                raise DqlSyntaxError(
                    "a var @cascade block binds nothing to prune -- "
                    "name the block"
                )
            if block.steps:
                raise DqlSyntaxError(
                    "@cascade with edge steps is outside the subset "
                    "(tree-pruning child results has no flattened "
                    "reading); list leaf predicates to require instead"
                )
            if not block.leaf_attrs:
                raise DqlSyntaxError(
                    "@cascade block lists no predicates to require"
                )
        blocks.append(block)
        pos = i
    if not blocks:
        raise DqlSyntaxError("empty query: no blocks")
    # duplicate OUTPUT names would silently overwrite each other in
    # any name-keyed consumer (the CLI's JSON output) -- refuse, per
    # this module's fail-loudly contract. Dgraph itself rejects them.
    named = [b.name for b in blocks if b.name != "var"]
    dupes = sorted({n for n in named if named.count(n) > 1})
    if dupes:
        raise DqlSyntaxError(f"duplicate output block name(s): {dupes}")
    return blocks


def _split_edge_directives(part: str) -> tuple[str, dict]:
    """Split an edge-step line into its '[VAR as] PRED' prefix and its
    ``@name(...)`` directives ({name: content}), scanning BALANCED
    parens -- a regex bounded to fixed nesting depth silently truncates
    filters like ``((a OR b) AND c)`` (found by the DQL fuzzer)."""
    idx = part.find("@")
    if idx < 0:
        return part.strip(), {}
    prefix, rest = part[:idx].strip(), part[idx:]
    directives: dict[str, str] = {}
    while rest:
        dm = re.match(r"^@(?P<dname>\w+)\s*", rest)
        if not dm:
            raise DqlSyntaxError(
                f"unreadable edge-step directive in: {part!r}"
            )
        dname = dm.group("dname")
        after = dm.end()
        if after >= len(rest) or rest[after] != "(":
            raise DqlSyntaxError(f"@{dname} requires (...) in: {part!r}")
        content, after = _scan_parens(rest, after)
        if dname in directives:
            raise DqlSyntaxError(f"duplicate @{dname} in: {part!r}")
        directives[dname] = content.strip()
        rest = rest[after:].strip()
    unknown = set(directives) - {"filter", "facets"}
    if unknown:
        raise DqlSyntaxError(
            f"unsupported edge-step directive(s) {sorted(unknown)} "
            f"in: {part!r}"
        )
    return prefix, directives


def _body_lines(inner: str) -> list[str]:
    """Split a block body into logical lines. Bodies reach us with
    newlines intact (comment stripping preserves line structure), so a
    plain split suffices. A single-line body is one logical line: a
    one-line MULTI-step body ('{ x as p y as q }') is therefore
    rejected by the line grammar -- DQL's own convention is
    line-per-step, and mis-grouping steps silently would be worse."""
    if "\n" in inner:
        return [ln.strip() for ln in inner.splitlines() if ln.strip()]
    return [inner] if inner else []


# ------------------------------------------------------------ bindings


@dataclass
class DqlGraph:
    """Schema binding from DQL predicate names onto DataFrames.

    edge_preds: predicate -> DataFrame(src, dst) -- the edge table the
        predicate traverses (ids in one shared namespace; one row per
        (src, dst) pair -- a SET of edges, the Dgraph uid-list model).
    eq_index: attribute -> DataFrame(id, value:string) -- node ids by
        attribute value, for ``eq``/``ge``/``le``/``gt``/``lt`` roots
        and filter terms, and for ``orderasc/orderdesc`` keys.
    leaf_attrs: attribute -> DataFrame(id, <attribute>) -- node
        attribute lookup for leaf projections (also an order-key
        fallback when the attribute has no eq_index entry).
    attr_types: attribute -> 'string' | 'int' | 'float' (default
        'string') -- how inequality terms and order keys compare.
        Dgraph compares by the predicate's schema type; a numeric
        attribute left at the string default would sort '10' < '9'."""

    edge_preds: dict[str, DataFrame]
    eq_index: dict[str, DataFrame]
    leaf_attrs: dict[str, DataFrame]
    attr_types: dict[str, str] = field(default_factory=dict)


@dataclass
class DqlResult:
    """One named (non-var) block's output: its root uid set, resolved
    projections (if any), and the vars it bound. A paginated/ordered
    block's ``uids`` carries an extra ``rn`` column (the 1-based
    global rank, offset included) pinning the page order."""

    name: str
    uids: DataFrame  # column: id [, rn]
    attrs: DataFrame | None  # uids joined onto leaf attrs / counts


def run_dql(text: str, graph: DqlGraph) -> list[DqlResult]:
    """Parse + execute ``text`` against ``graph``. Returns the named
    blocks' results in query order; var blocks only bind.

    Scale shape: each edge step broadcasts the frontier against the
    predicate's edge table (never moves the edges), exclusions are
    anti-joins, every bound set is dropDuplicates'd. The hop itself is
    graph/traverse.neighbors / expand, the same calls k_hop makes for
    the hand-built DataFrame form of the reference query (g01-g05).
    Pagination is top-k (TakeOrderedAndProject), never a global sort."""
    env: dict[str, DataFrame] = {}
    out: list[DqlResult] = []
    n_steps = 0
    for block in parse_dql(text):
        root = _root_set(block, env, graph)
        if block.root_filter is not None:
            root = _apply_filter(root, block.root_filter, env, graph)
        root = _order_page(root, block, graph)
        if block.norm_tree is not None:
            n_steps += 1
            out.append(
                DqlResult(
                    block.name,
                    root.select("id"),
                    _normalize_flatten(
                        root, block.norm_tree, graph, n_steps
                    ),
                )
            )
            continue
        leaf_list = block.leaf_attrs
        if block.recurse is not None:
            root, leaf_list = _recurse_reach(root, block, graph)
        if block.cascade:
            # @cascade: keep only uids carrying EVERY listed leaf
            # predicate. Runs AFTER pagination, as Dgraph documents
            # (a cascaded page may return fewer than first: N rows);
            # a left-semi per required leaf, so no row ever widens.
            if not leaf_list:
                raise DqlSyntaxError(
                    "@cascade block lists no leaf predicates to "
                    "require (every body word is an edge predicate)"
                )
            for attr in leaf_list:
                tbl = graph.leaf_attrs.get(attr)
                if tbl is None:
                    raise DqlSyntaxError(
                        f"unbound leaf attribute {attr!r} "
                        f"(bound: {sorted(graph.leaf_attrs)})"
                    )
                root = root.join(tbl.select("id"), "id", "left_semi")
        value_binds: list[str] = []  # this block's value-bind aliases
        for step in block.steps:
            if step.count_bind:
                # 'x as count(pred)': per-root-uid distinct out-degree
                # as a VALUE variable -- defined (as 0) on every root
                # uid, Dgraph's count-over-uid-list reading
                frame = _degree_frame(
                    step.pred, root, graph, "val"
                ).withColumn("val", F.col("val").cast("double"))
                env[step.alias] = frame.localCheckpoint(eager=False)
                value_binds.append(step.alias)
                continue
            edges = graph.edge_preds.get(step.pred)
            if edges is None:
                is_attr = (
                    step.pred in graph.eq_index
                    or step.pred in graph.leaf_attrs
                )
                if (
                    is_attr
                    and step.alias
                    and step.filt is None
                    and step.facets is None
                ):
                    # 'x as <attr>': bind the attribute's values over
                    # the root uids as a value variable (defined only
                    # where the attribute exists, Dgraph's val() rule)
                    frame = _attr_value_frame(step.pred, graph).join(
                        F.broadcast(root.select("id")), "id", "left_semi"
                    )
                    env[step.alias] = frame.localCheckpoint(eager=False)
                    value_binds.append(step.alias)
                    continue
                if is_attr:
                    raise DqlSyntaxError(
                        f"{step.pred!r} is an attribute: @filter/@facets "
                        "on a value bind is outside the subset -- bind "
                        f"it plain ('VAR as {step.pred}') and filter "
                        "with val() terms in the next block"
                    )
                raise DqlSyntaxError(
                    f"unbound edge predicate {step.pred!r} "
                    f"(bound: {sorted(graph.edge_preds)})"
                )
            eframe = edges
            if step.facets is not None:
                # @facets(...) prunes EDGES (not reached nodes): a
                # plain row filter on the edge scan before the join
                eframe = eframe.filter(
                    _facet_predicate(step.facets, eframe, step.pred)
                )
            reached = neighbors(root, eframe)
            if step.filt is not None:
                reached = _apply_filter(reached, step.filt, env, graph)
            if step.alias:
                # truncate lineage at each binding (k_hop's per-frontier
                # discipline): later blocks reference a var BOTH as a
                # uid root and in NOT-uid anti-joins, so an uncut plan
                # doubles per hop and re-runs every upstream traversal
                # per reference
                env[step.alias] = reached.localCheckpoint(eager=False)
        if block.name != "var" and block.groupby is not None:
            # @groupby(attr): bucket the root uids by the attribute's
            # value (uids lacking it drop, Dgraph's grouping rule) and
            # count each group -- one hash aggregate over the root-
            # scoped value frame
            vals = _attr_value_frame(block.groupby, graph).withColumnRenamed(
                "val", block.groupby
            )
            # broadcast the frontier, like every other root-scoping
            # join -- without the hint a big attribute table can plan
            # a sort-merge join that shuffles both sides
            grouped = (
                F.broadcast(root.select("id"))
                .join(vals, "id")
                .groupBy(block.groupby)
                .agg(F.count(F.lit(1)).alias("count"))
            )
            out.append(DqlResult(block.name, root.select("id"), grouped))
            continue
        if block.name != "var" and block.count_uid:
            # count(uid): the root set's cardinality as one row
            out.append(
                DqlResult(
                    block.name,
                    root.select("id"),
                    root.select("id").agg(
                        F.count(F.lit(1)).alias("count")
                    ),
                )
            )
            continue
        if block.name != "var" and block.aggs:
            # aggregation block: one row, one column per agg line.
            # Each value frame is scoped to the (broadcast-small) root
            # uid set by a semi-join, then reduced map-side -- the
            # one-row results cross-join (the g30 hop-counts shape).
            # sum/avg go through the repo's exact-decimal convention
            # so IEEE summation order can't flip a certified hash.
            from pyspark.sql.types import StringType

            # one aggregation pass per VARIABLE (all of a var's agg
            # lines reduce in a single scan of its scoped frame);
            # cross-join only between different vars' one-row frames
            by_var: dict[str, list[str]] = {}
            for fn, var in block.aggs:
                by_var.setdefault(var, []).append(fn)
            row = None
            for var, fns in by_var.items():
                frame = _value_frame_of(var, env, f"agg(val({var}))")
                scoped = frame.join(
                    F.broadcast(root.select("id")), "id", "left_semi"
                )
                is_str = isinstance(
                    frame.schema["val"].dataType, StringType
                )
                col = F.col("val")
                exprs = []
                for fn in fns:
                    if fn in ("sum", "avg") and is_str:
                        raise DqlSyntaxError(
                            f"{fn}(val({var})): var holds strings; only "
                            "min/max order a string value variable"
                        )
                    name_col = f"{fn}_{var}"
                    if fn == "min":
                        exprs.append(F.min(col).alias(name_col))
                    elif fn == "max":
                        exprs.append(F.max(col).alias(name_col))
                    elif fn == "sum":
                        exprs.append(
                            F.sum(col.cast("decimal(18,6)"))
                            .cast("double")
                            .alias(name_col)
                        )
                    else:
                        # avg = exact-decimal sum, THEN one IEEE
                        # double division -- dividing in decimal and
                        # casting after lets each engine round the
                        # quotient to its own decimal scale first
                        # (caught as a 1-ulp divergence by the sf0.1
                        # cross-scale sweep); double division of
                        # identical exact operands is bit-equal
                        # everywhere
                        exprs.append(
                            (
                                F.sum(col.cast("decimal(18,6)")).cast(
                                    "double"
                                )
                                / F.count(col).cast("double")
                            ).alias(name_col)
                        )
                one = scoped.agg(*exprs)
                row = one if row is None else row.crossJoin(one)
            out.append(DqlResult(block.name, root.select("id"), row))
            continue
        if block.name != "var":
            base_cols = ["id"] + (["rn"] if "rn" in root.columns else [])
            if block.expand_all:
                # append every bound leaf attribute not already listed,
                # in sorted order (deterministic output schema). The
                # expanded names resolve only HERE (the binding dict is
                # an execution-time input), so the parse-time collision
                # check is re-run over them against the block's other
                # projected columns.
                extras = sorted(
                    a for a in graph.leaf_attrs if a not in leaf_list
                )
                taken = (
                    set(base_cols)
                    | {f"count_{p}" for p in block.counts}
                    | set(value_binds)
                )
                clash = sorted(set(extras) & taken)
                if clash:
                    raise DqlSyntaxError(
                        f"expand(_all_) collides with projected "
                        f"column(s) {clash} in block {block.name!r}"
                    )
                leaf_list = list(leaf_list) + extras
            attrs = None
            for attr in leaf_list:
                tbl = graph.leaf_attrs.get(attr)
                if tbl is None:
                    raise DqlSyntaxError(
                        f"unbound leaf attribute {attr!r} "
                        f"(bound: {sorted(graph.leaf_attrs)})"
                    )
                # LEFT join: Dgraph returns a node with the fields it
                # HAS -- a chain of inner joins here would silently
                # apply @cascade semantics nobody asked for (a node
                # missing one of three requested attrs would vanish
                # entirely); @cascade is the explicit opt-in
                attrs = (
                    attrs if attrs is not None else root.select(*base_cols)
                ).join(tbl, "id", "left")
            for pred in block.counts:
                cnt = _degree_frame(pred, root, graph, f"count_{pred}")
                attrs = (
                    attrs if attrs is not None else root.select(*base_cols)
                ).join(cnt, "id", "left")
            for alias in value_binds:
                # a value bind in an OUTPUT block also projects (Dgraph
                # returns the bound field with each node); left join --
                # attr binds are defined only where the attribute is
                attrs = (
                    attrs if attrs is not None else root.select(*base_cols)
                ).join(env[alias].withColumnRenamed("val", alias), "id", "left")
            out.append(DqlResult(block.name, root, attrs))
    return out


def _normalize_flatten(
    root: DataFrame, tree: NormNode, graph: DqlGraph, tag: int
) -> DataFrame:
    """@normalize execution: flatten the body tree over the root uid
    set into one row per root-to-leaf path combination (the module
    docstring's semantics). Aliased leaves LEFT-join their attribute
    tables (a node keeps its row with NULL for attributes it lacks --
    the flat-table spelling of Dgraph omitting the field); each edge
    sub-block multiplies its parent's rows by the parent's
    out-neighbors, keeping edge-less parents with a NULL subtree.

    Scale shape: per sub-block, the DISTINCT parent id set (bounded by
    the root page's fan-out) broadcasts against the never-moved edge
    table to form (parent, child) pairs -- the k_hop discipline -- and
    the child subtree is flattened ONCE over the distinct child ids,
    then joined back through the pairs; sibling sub-blocks compose by
    repeated per-parent joins, so no operator ever widens a row beyond
    the aliases it carries."""
    base_cols = ["id"] + (["rn"] if "rn" in root.columns else [])
    return _norm_level(root.select(*base_cols), tree, graph, [str(tag)])


def _norm_level(
    out: DataFrame, node: NormNode, graph: DqlGraph, path: list
) -> DataFrame:
    for alias, attr in node.leaves:
        tbl = graph.leaf_attrs.get(attr)
        if tbl is None:
            raise DqlSyntaxError(
                f"unbound leaf attribute {attr!r} under @normalize "
                f"(bound: {sorted(graph.leaf_attrs)})"
            )
        if alias is None:
            # Dgraph's rule: unaliased predicates are fetched but
            # OMITTED from @normalize output -- binding-existence was
            # still checked above so a typo refuses instead of
            # silently vanishing
            continue
        out = out.join(
            tbl.select("id", F.col(attr).alias(alias)), "id", "left"
        )
    if node.children:
        # ``out`` feeds TWO consumers per sub-block (the distinct-
        # parent broadcast and the enrichment join below) and each
        # level's output becomes the next iteration's input, so
        # without materialization Catalyst re-plans the whole
        # ancestor subtree per consumer -- geometrically: the audited
        # g42 plan scanned the person-table fixture 11 times for a
        # two-level body. The relations are frontier-sized (bounded
        # by the root page's fan-out), so the lazy localCheckpoints
        # here and on ``pairs`` (also two consumers: the child root
        # and the enrichment join) cost one tiny write each and cap
        # the plan at one scan per relation per level (r12; same
        # discipline as _recurse_reach / the env steps).
        out = out.localCheckpoint(eager=False)
    for idx, (pred, child) in enumerate(node.children):
        edges = graph.edge_preds.get(pred)
        if edges is None:
            raise DqlSyntaxError(
                f"unbound edge predicate {pred!r} under @normalize "
                f"(bound: {sorted(graph.edge_preds)})"
            )
        dst_col = "_dqln" + "_".join(path) + f"_{idx}_dst"
        # ``out`` has one row per path: hop from the distinct parents
        pairs = (
            out_pairs(out.select("id").dropDuplicates(["id"]), edges)
            .withColumnRenamed("dst", dst_col)
            .localCheckpoint(eager=False)
        )
        child_flat = _norm_level(
            pairs.select(F.col(dst_col).alias("id")).dropDuplicates(["id"]),
            child,
            graph,
            path + [str(idx)],
        )
        # child_flat and enriched are frontier-sized (bounded by the
        # root page's fan-out -- the same bound under which this
        # function already broadcasts the distinct parent set above),
        # but both derive from checkpointed LogicalRDDs whose stats are
        # unknown, so without the hint the planner falls back to a
        # sort-merge join: the audited r12 g42 plan paid 3 SMJs and 6
        # exchanges attaching value-variable blocks that fit in one
        # broadcast each (r13; guide 3.1 -- size estimates are wrong
        # after checkpoints, hint when a side is known small)
        enriched = pairs.join(
            F.broadcast(child_flat.withColumnRenamed("id", dst_col)),
            dst_col,
            "left",
        ).drop(dst_col)
        out = out.join(F.broadcast(enriched), "id", "left")
    return out


def _recurse_reach(
    root: DataFrame, block: Block, graph: DqlGraph
) -> tuple[DataFrame, list[str]]:
    """@recurse execution: visited-pruned BFS over the union of the
    block's listed edge predicates, depth-1 expansions from the root
    set. Returns (reach set incl. root, remaining leaf projections).

    Scale shape: per level, traverse.expand (the broadcast-frontier hop
    k_hop takes, then the anti-join against visited), with per-level
    localCheckpoints truncating lineage. The loop stays its own: k_hop
    keeps lazy visited unions and cached frontiers for cross-call cache
    hits, this one the checkpointed visited set below.
    Each level's frontier is materialized once for the empty-frontier
    early exit; visited grows by disjoint union (the anti-join
    guarantees disjointness, so no dedup shuffle) and is re-
    checkpointed each level: a round-12 variant kept visited as the
    lazy union of the <= depth checkpointed frontiers instead (saving
    the O(V) copy per level), but the interleaved A/B measured it +24%
    on g34 at sf0.1 -- each level's anti-join and broadcast then fan
    out over k separate cached RDD scans (k x partitions tasks + a
    k-way union per level), which costs more than the single
    sequential rewrite it saves, and the checkpointed shape is the one
    the 100x soak certified (ratio 5.3). loop: true is accepted but
    executes the same pruned BFS -- the flattened reach set is
    identical (see _parse_recurse)."""
    depth, _loop = block.recurse
    trav = [w for w in block.leaf_attrs if w in graph.edge_preds]
    leaves = [w for w in block.leaf_attrs if w not in graph.edge_preds]
    if not trav:
        raise DqlSyntaxError(
            "@recurse block follows no bound edge predicate (body: "
            f"{block.leaf_attrs!r}, edges: {sorted(graph.edge_preds)})"
        )
    edges = graph.edge_preds[trav[0]].select("src", "dst")
    for p in trav[1:]:
        edges = edges.unionByName(graph.edge_preds[p].select("src", "dst"))
    visited = (
        root.select("id").dropDuplicates(["id"]).localCheckpoint(eager=False)
    )
    frontier = visited
    for _ in range(depth - 1):
        frontier = expand(frontier, edges, visited).localCheckpoint(eager=False)
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier).localCheckpoint(eager=False)
    return visited, leaves


def _root_set(block: Block, env: dict, graph: DqlGraph) -> DataFrame:
    if block.root_kind == "uid":
        (var,) = block.root_args
        if var not in env:
            raise DqlSyntaxError(f"func: uid({var}) references unbound var")
        # uid(x) over a VALUE var is the uid set it is defined on
        return env[var].select("id")
    if block.root_kind == "has":
        (pred,) = block.root_args
        return _has_set(pred, graph)
    if block.root_kind == "eq":
        attr, val = block.root_args
        return _eq_set(attr, val, graph)
    if block.root_kind in (
        "eqval", "cmpval", "terms", "fulltext", "regexp", "between"
    ):
        # root over a value variable or a string-search function: same
        # evaluation as the filter term, just without a candidate set
        term = (block.root_kind,) + tuple(block.root_args)
        return _term_uids(term, env, graph).dropDuplicates(["id"])
    # ge / le / gt / lt
    attr, val = block.root_args
    return _cmp_set(block.root_kind, attr, val, graph)


def _eq_idx(attr: str, graph: DqlGraph) -> DataFrame:
    idx = graph.eq_index.get(attr)
    if idx is None:
        raise DqlSyntaxError(
            f"no eq-index for attribute {attr!r} (bound: "
            f"{sorted(graph.eq_index)})"
        )
    return idx


def _typed_value_col(attr: str, graph: DqlGraph):
    """The eq-index value column cast per the attribute's declared
    type (string stays lexicographic)."""
    ty = graph.attr_types.get(attr, "string")
    col = F.col("value")
    if ty in ("int", "float"):
        return col.cast("double")
    if ty == "string":
        return col
    raise DqlSyntaxError(
        f"unsupported attr_types[{attr!r}] = {ty!r} "
        "(expected 'string' | 'int' | 'float')"
    )


def _numeric_literal(val: str, ctx: str):
    """float literal or a loud error -- the ONE coercion every numeric
    comparison lane (typed attrs, value vars, facets) shares."""
    try:
        return F.lit(float(val))
    except ValueError:
        raise DqlSyntaxError(
            f"{ctx}: numeric comparison against non-numeric "
            f"literal {val!r}"
        ) from None


def _cmp_condition(col, op: str, lit):
    """op -> Column predicate, shared by attr/value-var/facet lanes."""
    return {
        "eq": col == lit,
        "ge": col >= lit,
        "le": col <= lit,
        "gt": col > lit,
        "lt": col < lit,
    }[op]


def _typed_literal(attr: str, val: str, graph: DqlGraph):
    ty = graph.attr_types.get(attr, "string")
    if ty in ("int", "float"):
        return _numeric_literal(val, f"numeric attribute {attr!r}")
    return F.lit(val)


def _eq_set(attr: str, val: str, graph: DqlGraph) -> DataFrame:
    """eq(attr, v) by the attribute's DECLARED type, same as the
    inequality terms -- an untyped string eq would make eq(age, 30)
    and ge(age,30) AND le(age,30) disagree on '30.0'/'030'. A NULL
    stored value is an absent attribute (Dgraph's reading): it
    matches nothing."""
    idx = _eq_idx(attr, graph)
    key = _typed_value_col(attr, graph)
    lit = _typed_literal(attr, val, graph)
    return (
        idx.filter(F.col("value").isNotNull())
        .filter(key == lit)
        .select("id")
        .dropDuplicates(["id"])
    )


def _cmp_set(op: str, attr: str, val: str, graph: DqlGraph) -> DataFrame:
    idx = _eq_idx(attr, graph)
    key = _typed_value_col(attr, graph)
    lit = _typed_literal(attr, val, graph)
    return (
        idx.filter(F.col("value").isNotNull())
        .filter(_cmp_condition(key, op, lit))
        .select("id")
        .dropDuplicates(["id"])
    )


def _string_index(attr: str, what: str, graph: DqlGraph) -> DataFrame:
    """The eq-index for a STRING-typed attribute (term/regexp search
    needs raw text; a numeric declared type means the query is
    malformed, not that the numerals should be searched)."""
    ty = graph.attr_types.get(attr, "string")
    if ty != "string":
        raise DqlSyntaxError(
            f"{what}({attr}, ...): string search needs a string "
            f"attribute; {attr!r} is declared {ty!r}"
        )
    return _eq_idx(attr, graph).filter(F.col("value").isNotNull())


def _terms_set(
    mode: str, attr: str, terms: tuple, graph: DqlGraph
) -> DataFrame:
    """anyofterms/allofterms: ids whose stored string's term set
    (lowercased, split on non-alphanumeric runs -- _term_tokens'
    convention, applied engine-side) intersects (any) or covers (all)
    the query terms. A pure scan-side row filter on the eq-index: no
    join, no shuffle beyond the final dedup."""
    idx = _string_index(attr, f"{mode}ofterms", graph)
    toks = F.array_remove(
        F.split(F.lower(F.col("value")), "[^a-z0-9]+"), ""
    )
    q = F.array(*[F.lit(t) for t in terms])
    if mode == "any":
        cond = F.arrays_overlap(toks, q)
    else:
        cond = F.size(F.array_except(q, toks)) == 0
    return idx.filter(cond).select("id").dropDuplicates(["id"])


def _fulltext_set(
    mode: str, attr: str, stems: tuple, graph: DqlGraph
) -> DataFrame:
    """alloftext/anyoftext: ids whose stored string's STEMMED token
    set (the module's fulltext analyzer: lowercase, split, stopword
    drop, suffix-strip stem -- applied engine-side via the shared SQL
    fragment) covers (all) or intersects (any) the query's stemmed
    terms. Like _terms_set, a pure scan-side row filter on the
    eq-index: no join, no shuffle beyond the final dedup."""
    idx = _string_index(attr, f"{mode}oftext", graph)
    stemmed = F.expr(
        fulltext_tokens_sql("value", "split", "transform", "filter")
    )
    q = F.array(*[F.lit(t) for t in stems])
    if mode == "any":
        cond = F.arrays_overlap(stemmed, q)
    else:
        cond = F.size(F.array_except(q, stemmed)) == 0
    return idx.filter(cond).select("id").dropDuplicates(["id"])


def _regexp_set(
    attr: str, pattern: str, ci: bool, graph: DqlGraph
) -> DataFrame:
    """regexp(attr, /re/[i]): ids whose raw stored string contains a
    match (substring semantics, both engines' default). The /i flag
    becomes an embedded (?i) -- understood identically by Spark's Java
    regex and DuckDB's RE2."""
    idx = _string_index(attr, "regexp", graph)
    pat = ("(?i)" if ci else "") + pattern
    return (
        idx.filter(F.col("value").rlike(pat))
        .select("id")
        .dropDuplicates(["id"])
    )


def _attr_value_frame(attr: str, graph: DqlGraph) -> DataFrame:
    """(id, val) for an attribute, typed per attr_types, NULL values
    dropped (a NULL stored value is an absent attribute)."""
    if attr in graph.eq_index:
        vals = graph.eq_index[attr].select(
            "id", _typed_value_col(attr, graph).alias("val")
        )
    elif attr in graph.leaf_attrs:
        ty = graph.attr_types.get(attr, "string")
        col = F.col(attr).cast(
            "double" if ty in ("int", "float") else "string"
        )
        vals = graph.leaf_attrs[attr].select("id", col.alias("val"))
    else:
        raise DqlSyntaxError(
            f"attribute {attr!r} bound nowhere (eq_index: "
            f"{sorted(graph.eq_index)}, attrs: {sorted(graph.leaf_attrs)})"
        )
    # deterministic reduction, not dropDuplicates: a multi-valued id
    # (a binding-contract violation for scalar predicates, but nothing
    # enforces it) must not feed an ARBITRARY row into hash-certified
    # order keys or sum/avg aggregates -- min is stable run to run
    return (
        vals.filter(F.col("val").isNotNull())
        .groupBy("id")
        .agg(F.min("val").alias("val"))
    )


def _facet_predicate(expr: tuple, eframe: DataFrame, pred: str):
    """Build the row-level Column for an ``@facets(...)`` predicate
    over an edge table's facet columns (everything beyond src/dst in
    the binding). Stays a plain filter ON the edge scan -- pushed to
    parquet in a real deployment, never a join.

    A NULL facet value is an ABSENT facet: it matches no predicate,
    negated or not (SQL three-valued logic drops the row either way)
    -- the same reading as Dgraph, where an edge without the facet
    never passes a facet filter."""
    from pyspark.sql.types import NumericType

    kind = expr[0]
    if kind == "and":
        out = _facet_predicate(expr[1][0], eframe, pred)
        for p in expr[1][1:]:
            out = out & _facet_predicate(p, eframe, pred)
        return out
    if kind == "or":
        out = _facet_predicate(expr[1][0], eframe, pred)
        for p in expr[1][1:]:
            out = out | _facet_predicate(p, eframe, pred)
        return out
    if kind == "not":
        return ~_facet_predicate(expr[1], eframe, pred)
    if kind == "eq":
        _, name, val = expr
        op = "eq"
    else:  # ("cmp", op, name, val) -- _validate_facet_expr pinned this
        _, op, name, val = expr
    if name in ("src", "dst") or name not in eframe.columns:
        raise DqlSyntaxError(
            f"facet {name!r} not present on edge predicate {pred!r} "
            f"(facets: {[c for c in eframe.columns if c not in ('src', 'dst')]})"
        )
    col = F.col(name)
    if isinstance(eframe.schema[name].dataType, NumericType):
        lit = _numeric_literal(val, f"numeric facet {name!r}")
    else:
        lit = F.lit(val)
    return _cmp_condition(col, op, lit)


def _degree_frame(
    pred: str, root: DataFrame, graph: DqlGraph, out_col: str
) -> DataFrame:
    """Per-root-uid distinct out-degree through ``pred``, 0 kept
    (Dgraph's count-over-uid-list). The broadcast root hops the edge
    table (traverse.out_pairs) BEFORE aggregating -- a full-table
    groupBy would shuffle every (src, dst) pair to count a handful of
    root uids (the 'edges never move' discipline)."""
    edges = graph.edge_preds.get(pred)
    if edges is None:
        raise DqlSyntaxError(
            f"count() of unbound edge predicate {pred!r} "
            f"(bound: {sorted(graph.edge_preds)})"
        )
    cnt = (
        out_pairs(root, edges)
        .groupBy("id")
        .agg(F.countDistinct("dst").alias(out_col))
    )
    return (
        root.select("id").join(cnt, "id", "left").fillna(0, subset=[out_col])
    )


def _value_frame_of(var: str, env: dict, what: str) -> DataFrame:
    """env[var] checked to be a VALUE frame (id, val)."""
    frame = env.get(var)
    if frame is None:
        raise DqlSyntaxError(f"{what} references unbound var {var!r}")
    if "val" not in frame.columns:
        raise DqlSyntaxError(
            f"{what}: {var!r} is a uid set, not a value variable "
            "(bind it with 'x as <attr>' or 'x as count(pred)')"
        )
    return frame


def _val_literal(frame: DataFrame, val: str, ctx: str):
    """Literal typed to the value frame's own val column dtype."""
    from pyspark.sql.types import StringType

    if isinstance(frame.schema["val"].dataType, StringType):
        return F.lit(val)
    return _numeric_literal(val, f"{ctx}: numeric value variable")


def _has_set(pred: str, graph: DqlGraph) -> DataFrame:
    """has(pred): nodes where the predicate exists -- sources of an
    edge predicate, or ids carrying a scalar attribute. A name bound
    in several tables unions them ALL (one predicate namespace): when
    leaf and eq_index are both bound but their id coverage differs,
    preferring one would silently miss ids present only in the other
    (round-10 advisory); the dedup downstream already absorbs the
    overlap."""
    parts = []
    e = graph.edge_preds.get(pred)
    if e is not None:
        # NULL src must not become a phantom uid (traverse.out_pairs'
        # phantom-node note)
        parts.append(
            e.filter(F.col("dst").isNotNull() & F.col("src").isNotNull())
            .select(F.col("src").alias("id"))
        )
    leaf = graph.leaf_attrs.get(pred)
    if leaf is not None:
        # a NULL stored value is an ABSENT attribute (the _eq_set
        # reading) -- it must not satisfy has() through either table
        parts.append(leaf.filter(F.col(pred).isNotNull()).select("id"))
    idx = graph.eq_index.get(pred)
    if idx is not None:
        parts.append(idx.filter(F.col("value").isNotNull()).select("id"))
    if not parts:
        raise DqlSyntaxError(
            f"has({pred}): predicate bound nowhere (edges: "
            f"{sorted(graph.edge_preds)}, attrs: {sorted(graph.leaf_attrs)})"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["id"])


def _term_uids(term: tuple, env: dict, graph: DqlGraph) -> DataFrame:
    kind = term[0]
    if kind == "uid":
        var = term[1]
        if var not in env:
            raise DqlSyntaxError(f"@filter references unbound var {var!r}")
        return env[var]
    if kind == "eq":
        _, attr, val = term
        return _eq_set(attr, val, graph)
    if kind == "has":
        return _has_set(term[1], graph)
    if kind == "cmp":
        _, op, attr, val = term
        return _cmp_set(op, attr, val, graph)
    if kind == "terms":
        _, mode, attr, terms = term
        return _terms_set(mode, attr, terms, graph)
    if kind == "fulltext":
        _, mode, attr, stems = term
        return _fulltext_set(mode, attr, stems, graph)
    if kind == "regexp":
        _, attr, pattern, ci = term
        return _regexp_set(attr, pattern, ci, graph)
    if kind == "between":
        _, attr, lo, hi = term
        idx = _eq_idx(attr, graph)
        key = _typed_value_col(attr, graph)
        cond = (key >= _typed_literal(attr, lo, graph)) & (
            key <= _typed_literal(attr, hi, graph)
        )
        return (
            idx.filter(F.col("value").isNotNull())
            .filter(cond)
            .select("id")
            .dropDuplicates(["id"])
        )
    if kind == "eqval":
        _, var, val = term
        frame = _value_frame_of(var, env, "eq(val(...))")
        lit = _val_literal(frame, val, "eq(val(...))")
        return frame.filter(F.col("val") == lit).select("id")
    if kind == "cmpval":
        _, op, var, val = term
        frame = _value_frame_of(var, env, f"{op}(val(...))")
        lit = _val_literal(frame, val, f"{op}(val(...))")
        return frame.filter(
            _cmp_condition(F.col("val"), op, lit)
        ).select("id")
    raise DqlSyntaxError(f"unknown filter term: {term!r}")


def _apply_filter(
    cand: DataFrame, expr: tuple, env: dict, graph: DqlGraph
) -> DataFrame:
    """Filter the candidate uid set by the boolean term algebra:
    AND folds left-semi joins, OR union-dedups branch survivors, NOT
    is a left-anti join against the branch's survivors -- pure set
    algebra on ``id``, no row ever widens.

    OR and NOT fan ``cand`` out to several consumers (every OR branch
    starts from it; NOT joins it against a branch derived from it),
    and Catalyst plans the candidate subtree once PER consumer -- the
    audited g31 plan re-ran the frontier build (seed join + hop +
    dedup, with its fixture scans) five times for one two-branch
    filter. The frontier is page-sized, so a lazy localCheckpoint at
    each fan-out point caps the plan at one frontier build (r12; the
    _norm_level / _recurse_reach discipline)."""
    kind = expr[0]
    if kind == "and":
        out = cand
        for part in expr[1]:
            out = _apply_filter(out, part, env, graph)
        return out
    if kind == "or":
        cand = cand.localCheckpoint(eager=False)
        branches = [_apply_filter(cand, part, env, graph) for part in expr[1]]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out.dropDuplicates(["id"])
    if kind == "not":
        cand = cand.localCheckpoint(eager=False)
        return cand.join(
            _apply_filter(cand, expr[1], env, graph), "id", "left_anti"
        )
    return cand.join(
        _term_uids(expr, env, graph).select("id"), "id", "left_semi"
    )


def _order_page(root: DataFrame, block: Block, graph: DqlGraph) -> DataFrame:
    """Apply orderasc/orderdesc + first/offset to the root set.

    ``first: N`` plans as orderBy().limit(offset+first) -- Spark's
    TakeOrderedAndProject top-k (per-partition heaps + driver merge,
    the b24 shape), then row_number over the <= offset+first
    survivors; the global window only ever sees one page of rows.
    ``offset``/order without ``first`` ranks the whole root set (root
    sets are frontiers, small by construction; the unbounded form is
    kept for parity, the paginated form is the scale path)."""
    if block.order is None and block.first is None and block.offset is None:
        return root
    if block.order is not None:
        attr, asc = block.order
        # typed + NULL-dropped via the shared value-frame helper;
        # Dgraph drops nodes missing the order attribute from sorted
        # results: inner join, not left
        vals = _attr_value_frame(attr, graph).withColumnRenamed(
            "val", "_ord"
        )
        ranked = root.select("id").join(vals, "id")
        keys = [
            F.col("_ord").asc() if asc else F.col("_ord").desc(),
            F.col("id").asc(),
        ]
    else:
        ranked = root.select("id")
        keys = [F.col("id").asc()]
    offset = block.offset or 0
    if block.first is not None:
        page = ranked.orderBy(*keys).limit(offset + block.first)
    else:
        page = ranked
    w = Window.orderBy(*keys)
    page = page.withColumn("rn", F.row_number().over(w).cast("long"))
    if offset:
        page = page.filter(F.col("rn") > offset)
    return page.select("id", "rn")
