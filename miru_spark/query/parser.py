"""Query parser: the grammar subset miru's LuceneBackedQueryParser accepts,
compiled to the same AST shape miru uses (MiruFilter trees with and/or/pButNotQ,
miru-api/.../filter/MiruFilterOperation.java:10-22; parser mapping MUST→and,
SHOULD→or, MUST_NOT→pButNotQ in
miru-plugin/.../query/LuceneBackedQueryParser.java:76-144). Default operator
is AND (:51), so ``a b`` == ``a AND b``. No Lucene dependency — a ~70-line
recursive-descent parser over ``term``, ``pre*``, AND/OR/NOT, parentheses.

Query-side text goes through the SAME analyzer as index time (the Q2 parity
requirement): each bare word is tokenized; a word that splits into multiple
tokens becomes a conjunction of them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from miru_spark.analyzer import tokenize_one


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class Prefix:
    prefix: str


FILTER_FIELDS = ("lang", "repo")


@dataclass(frozen=True)
class Field:
    """Non-scored field filter clause (`lang:python`, `repo:org1/repo1`) —
    miru's MiruFieldFilter on a non-text field (MiruFieldFilter.java:14-47);
    resolved against the roaring filter bitmaps, contributes no BM25 score."""

    field: str
    value: str


@dataclass(frozen=True)
class And:
    children: tuple = field(default_factory=tuple)


@dataclass(frozen=True)
class Or:
    children: tuple = field(default_factory=tuple)


@dataclass(frozen=True)
class Not:
    """pButNotQ: match positive, exclude negative (MiruFilterOperation.java:18)."""

    positive: object
    negative: object


@dataclass(frozen=True)
class Xor:
    """n-ary xor: docs matching an ODD number of children — miru marks xor
    "currently supported" (MiruFilterOperation.java:16)."""

    children: tuple = field(default_factory=tuple)


@dataclass(frozen=True)
class All:
    """Match-all: the full index mask (miru's buildIndexMask,
    MiruBitmapsRoaring.java:457-505). Produced for mustNots-only queries —
    the reference wraps them as pButNotQ(all, q) with inclusiveFilter=true
    (LuceneBackedQueryParser.java:139-141) — and usable anywhere a termless
    branch needs 'every live doc'. Non-scored."""


RANGE_FIELDS = ("ts",)


@dataclass(frozen=True)
class Range:
    """Inclusive numeric range clause `ts:[lo TO hi]` — miru's time-range
    mask composed INTO the filter tree (FullTextCustomQuestion.java:109-111
    builds it from query.timeRange and ANDs it with the filter; here it is
    a first-class node, so it also composes under OR/NOT/XOR). Non-scored."""

    field: str
    lo: int
    hi: int


Node = object


def _tokenize_query(q: str) -> list[str]:
    out: list[str] = []
    cur = ""
    in_bracket = False  # `ts:[0 TO 17]` stays ONE token despite its spaces
    for ch in q:
        if ch == "[" and cur.endswith(":"):
            in_bracket = True
            cur += ch
        elif ch == "]" and in_bracket:
            in_bracket = False
            cur += ch
        elif in_bracket:
            cur += ch
        elif ch in "()":
            if cur:
                out.append(cur)
                cur = ""
            out.append(ch)
        elif ch.isspace():
            if cur:
                out.append(cur)
                cur = ""
        else:
            cur += ch
    if cur:
        out.append(cur)
    return out


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ValueError("unexpected end of query (unbalanced parentheses?)")
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse_or(self) -> Node:
        left = self.parse_xor()
        parts = [left]
        while self.peek() is not None and self.peek().upper() == "OR":
            self.next()
            parts.append(self.parse_xor())
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def parse_xor(self) -> Node:
        parts = [self.parse_and()]
        while self.peek() is not None and self.peek().upper() == "XOR":
            self.next()
            parts.append(self.parse_and())
        return parts[0] if len(parts) == 1 else Xor(tuple(parts))

    def parse_and(self) -> Node:
        parts = [self.parse_unary()]
        while True:
            p = self.peek()
            if p is None or p == ")" or p.upper() in ("OR", "XOR"):
                break
            if p.upper() == "AND":
                self.next()
                continue
            parts.append(self.parse_unary())
        # fold NOTs: a AND NOT b -> Not(a, b)  (pButNotQ wrap, parser.java:111-144)
        positives = [p for p in parts if not isinstance(p, _Neg)]
        negatives = [p.node for p in parts if isinstance(p, _Neg)]
        pos: Node
        if not positives:
            # mustNots-only: all docs minus q — pButNotQ(all, q) with
            # inclusiveFilter=true (LuceneBackedQueryParser.java:139-141)
            pos = All()
        else:
            pos = positives[0] if len(positives) == 1 else And(tuple(positives))
        for n in negatives:
            pos = Not(pos, n)
        return pos

    def parse_unary(self) -> Node:
        p = self.peek()
        if p is not None and p.upper() == "NOT":
            self.next()
            return _Neg(self.parse_unary())
        return self.parse_atom()

    def parse_atom(self) -> Node:
        t = self.next()
        if t == "(":
            node = self.parse_or()
            if self.peek() == ")":
                self.next()
            return node
        if ":" in t:
            fld, _, val = t.partition(":")
            if val.startswith("[") and val.endswith("]"):
                if fld not in RANGE_FIELDS:
                    raise ValueError(f"unknown range field {fld!r} (supported: {RANGE_FIELDS})")
                parts = val[1:-1].split()
                if len(parts) != 3 or parts[1].upper() != "TO":
                    raise ValueError(f"malformed range clause {t!r} (want fld:[lo TO hi])")
                return Range(fld, int(parts[0]), int(parts[2]))
            if fld in FILTER_FIELDS and val:
                return Field(fld, val)  # value NOT analyzer-tokenized (raw field value)
            raise ValueError(f"unknown filter field {fld!r} (supported: {FILTER_FIELDS})")
        if t.endswith("*") and len(t) > 1:
            toks = tokenize_one(t[:-1])
            base = "".join(toks)
            return Prefix(base)
        toks = tokenize_one(t)
        if not toks:
            raise ValueError(f"query word {t!r} tokenizes to nothing")
        if len(toks) == 1:
            return Term(toks[0])
        return And(tuple(Term(x) for x in toks))


@dataclass
class _Neg:
    node: Node


def parse_query(q: str, analyzer=None) -> Node:
    """Parse; with a stopworded ``analyzer`` (analyzers.Analyzer), prune
    stopword Terms Lucene-style AFTER parsing — the query side of the Q2
    index/query analyzer-parity contract (TermAnalyzers.java:120-136,
    LuceneBackedQueryParser.java:48-53 takes (locale, useStopWords))."""
    toks = _tokenize_query(q)
    if not toks:
        raise ValueError("empty query")
    p = _Parser(toks)
    node = p.parse_or()
    if analyzer is not None and analyzer.stopwords:
        node = prune_stopwords(node, analyzer.stopwords)
        if node is None:
            raise ValueError("query is entirely stopwords under this analyzer")
    if analyzer is not None and analyzer.stem:
        # stem AFTER stopword pruning — Lucene's EnglishAnalyzer chain order
        # (StopFilter before the stem filter). Prefix leaves are NOT stemmed:
        # Lucene multi-term queries bypass the analysis chain.
        node = _stem_terms(node, analyzer)
        if node is None:
            raise ValueError("query is empty after stemming under this analyzer")
    return node


def _stem_terms(node: Node, analyzer) -> Node | None:
    """Map each Term leaf through the analyzer's stemmer; a term that stems
    to "" drops (collapsing emptied boolean nodes exactly like
    prune_stopwords — the analyzer's drop-empties rule on the query side)."""
    if isinstance(node, Term):
        s = analyzer.stem_one(node.term)
        return Term(s) if s else None
    if isinstance(node, (Prefix, Field, Range, All)):
        return node
    if isinstance(node, (And, Or, Xor)):
        kids = [_stem_terms(c, analyzer) for c in node.children]
        kids = [k for k in kids if k is not None]
        if not kids:
            return None
        if len(kids) == 1:
            return kids[0]
        return type(node)(tuple(kids))
    if isinstance(node, Not):
        pos = _stem_terms(node.positive, analyzer)
        neg = _stem_terms(node.negative, analyzer)
        if pos is None:
            return None if neg is None else Not(All(), neg)
        if neg is None:
            return pos
        return Not(pos, neg)
    raise TypeError(type(node))


def prune_stopwords(node: Node, stopwords) -> Node | None:
    """Drop stopword Term leaves, collapsing emptied boolean nodes — the
    behavior a Lucene QueryParser built on a stopworded analyzer gives
    (stopword clauses never enter the BooleanQuery). A Not whose positive
    side prunes away drops entirely (its negative can only shrink it)."""
    if isinstance(node, Term):
        return None if node.term in stopwords else node
    if isinstance(node, (Prefix, Field, Range, All)):
        return node
    if isinstance(node, (And, Or, Xor)):
        kids = [prune_stopwords(c, stopwords) for c in node.children]
        kids = [k for k in kids if k is not None]
        if not kids:
            return None
        if len(kids) == 1:
            return kids[0]
        return type(node)(tuple(kids))
    if isinstance(node, Not):
        pos = prune_stopwords(node.positive, stopwords)
        neg = prune_stopwords(node.negative, stopwords)
        if pos is None:
            # all positive clauses were stopwords: Lucene's BooleanQuery is
            # left with the MUST_NOTs only → the mustNots-only wrap again
            return None if neg is None else Not(All(), neg)
        if neg is None:
            return pos
        return Not(pos, neg)
    raise TypeError(type(node))


def positive_terms(node: Node) -> set[str]:
    """Terms that contribute BM25 score (everything not under a NOT's
    negative side — matches miru's termCollector which only collects from
    positive filter context, MiruAggregateUtil.java:1149,1204-1220)."""
    if isinstance(node, Term):
        return {node.term}
    if isinstance(node, (Prefix, Field, Range, All)):
        return set()
    if isinstance(node, (And, Or, Xor)):
        out: set[str] = set()
        for c in node.children:
            out |= positive_terms(c)
        return out
    if isinstance(node, Not):
        return positive_terms(node.positive)
    raise TypeError(type(node))


def all_terms(node: Node) -> set[str]:
    if isinstance(node, Term):
        return {node.term}
    if isinstance(node, (Prefix, Field, Range, All)):
        return set()
    if isinstance(node, (And, Or, Xor)):
        out: set[str] = set()
        for c in node.children:
            out |= all_terms(c)
        return out
    if isinstance(node, Not):
        return all_terms(node.positive) | all_terms(node.negative)
    raise TypeError(type(node))


def prefixes(node: Node) -> set[str]:
    if isinstance(node, Prefix):
        return {node.prefix}
    if isinstance(node, (And, Or, Xor)):
        out: set[str] = set()
        for c in node.children:
            out |= prefixes(c)
        return out
    if isinstance(node, Not):
        return prefixes(node.positive) | prefixes(node.negative)
    return set()


def positive_prefixes(node: Node) -> set[str]:
    if isinstance(node, Prefix):
        return {node.prefix}
    if isinstance(node, (And, Or, Xor)):
        out: set[str] = set()
        for c in node.children:
            out |= positive_prefixes(c)
        return out
    if isinstance(node, Not):
        return positive_prefixes(node.positive)
    return set()


def ranges(node: Node) -> set[Range]:
    """All Range clauses anywhere in the tree (used to validate the index
    carries the field before planning)."""
    if isinstance(node, Range):
        return {node}
    if isinstance(node, (And, Or, Xor)):
        out: set[Range] = set()
        for c in node.children:
            out |= ranges(c)
        return out
    if isinstance(node, Not):
        return ranges(node.positive) | ranges(node.negative)
    return set()


def filter_fields(node: Node) -> set[str]:
    """Field names referenced by non-scored Field/Range clauses anywhere in
    the tree — with doc_len, the only doc_meta columns the distributed
    kernel reads per pid before its top-k cut. Display fields (repo/path/
    commit/lang when not filtered on) gather for the k rows it emits."""
    if isinstance(node, (Field, Range)):
        return {node.field}
    if isinstance(node, (And, Or, Xor)):
        out: set[str] = set()
        for c in node.children:
            out |= filter_fields(c)
        return out
    if isinstance(node, Not):
        return filter_fields(node.positive) | filter_fields(node.negative)
    return set()


def can_match_termless(node: Node) -> bool:
    """True if a doc with ZERO term/prefix hits could still match — i.e. the
    AST evaluated with every Term/Prefix leaf forced False is satisfiable
    structurally. Such a query stays live with no term in the dictionary,
    and its matches can come from every pid, not only the pids its postings
    touch (the reference evaluates field filters and subfilters uniformly
    against full index masks, MiruAggregateUtil.java:1098-1241).

    Term/Prefix can't match termlessly; Field/Range/All can; And needs every
    child to; Or/Xor need one; Not needs its positive side to (the negative
    side only shrinks)."""
    if isinstance(node, (Field, Range, All)):
        return True
    if isinstance(node, (Term, Prefix)):
        return False
    if isinstance(node, And):
        return all(can_match_termless(c) for c in node.children)
    if isinstance(node, (Or, Xor)):
        return any(can_match_termless(c) for c in node.children)
    if isinstance(node, Not):
        return can_match_termless(node.positive)
    raise TypeError(type(node))


def required_terms(node: Node) -> set[str]:
    """Terms that MUST be present for any doc to match: AND = union of
    children's required sets, OR = intersection, NOT = required(positive).
    If any required term is absent from the dictionary, the answer is empty —
    miru's abort-if-empty short circuit lifted to the driver
    (MiruAggregateUtil.java:1143, 1175-1177)."""
    if isinstance(node, Term):
        return {node.term}
    if isinstance(node, (Prefix, Field, Range, All)):
        return set()
    if isinstance(node, And):
        out: set[str] = set()
        for c in node.children:
            out |= required_terms(c)
        return out
    if isinstance(node, (Or, Xor)):
        # xor: a match is in an ODD (>=1) number of children, so at least one
        sets = [required_terms(c) for c in node.children]
        out = sets[0]
        for s in sets[1:]:
            out &= s
        return out
    if isinstance(node, Not):
        return required_terms(node.positive)
    raise TypeError(type(node))
