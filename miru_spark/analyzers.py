"""Locale-keyed analyzer registry (Q2): the TermAnalyzers analog.

The reference selects a Lucene analyzer per locale with optional stopwords
(miru-plugin/.../query/TermAnalyzers.java:43-126: ``findAnalyzer(locale,
useStopWords)`` walks ``xx_yy`` → ``xx`` → standard fallback; the standard
fallback WITH stopwords uses the English stop set,
TermAnalyzers.java:47-48). Index-side and query-side must use the SAME
analyzer — the Q2 parity requirement.

Spark-native form: tokenization stays the single frozen analyzer
(analyzer.py — lowercase, split ``[^a-z0-9_]+``, keep dups, drop empties;
byte-identical across Python/JVM/Arrow/DuckDB), and the per-locale
difference is a STOPWORD SET applied after it, optionally followed by a
light English stemmer (``stem="s"``: Harman's S-stemmer — "How Effective
Is Suffixing?", JASIS 42(1), 1991 — three plural-suffix rules). The
S-stemmer was chosen deliberately: it is exactly expressible as native
expressions in BOTH engines (Spark Column ops and DuckDB SQL), so the
oracle evaluates it independently — full Snowball/Porter stemming (what
the reference's Lucene per-language analyzers apply,
TermAnalyzers.java:51-84) has no independently-verifiable oracle in this
sandbox (DuckDB's ``stem()`` needs the non-installable fts extension) and
stays a documented non-goal. ``register_stopwords`` hooks additional
languages.

The chosen analyzer is recorded in the index's ``analyzer.json`` at build
time and re-applied to query text at parse time (see index/build.py and
query/scorer.py) — a stopworded index never sees a stopword in a query.

All four tokenizer implementations stay in parity (tests/test_analyzer.py
style): ``tokens_col`` (JVM), ``tokenize_pandas``/``tokenize_one``
(Python), ``stop_mask_for_vocab`` (Arrow/numpy build path), and
``duckdb_tokens_sql`` (oracle).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from miru_spark import analyzer as base
from miru_spark.stopwords_en import EN_STOPWORDS
from miru_spark.stopwords_langs import (
    DE_STOPWORDS,
    ES_STOPWORDS,
    FR_STOPWORDS,
    IT_STOPWORDS,
    NL_STOPWORDS,
    PT_STOPWORDS,
)


# ---- the S-stemmer (Harman 1991), one rule set, four implementations ----
# 1. -ies → -y   unless the word ends -eies / -aies
# 2. -es  → -e   unless the word ends -aes / -ees / -oes
# 3. -s   → ""   unless the word ends -us / -ss
# The published form has no minimum-length guard; a bare "s" therefore stems
# to "" and is DROPPED (the tokenizer's drop-empties rule). All four
# implementations below apply the identical rules — parity is pinned by
# tests/test_stemmer.py against a shared vector list + hypothesis strings.
#
# Rule-ordering interpretation (deliberate, pinned in tests): the -es
# exceptions block only rule 2, NOT the later bare -s rule — a word like
# "goes"/"does" falls through the 'oes' exception to rule 3 and stems to
# "goe"/"doe". Harman's paper presents the rules as a first-match table and
# is ambiguous on whether an exception is terminal; we pin the fall-through
# reading because it keeps each rule a self-contained WHEN clause in all
# four implementations (Python / JVM Column / numpy vocab / DuckDB CASE).
# Vectors for goes/does are in tests/test_stemmer.py.


def stem_s_one(w: str) -> str:
    """Python reference implementation (query side, tests)."""
    if w.endswith("ies") and not w.endswith(("eies", "aies")):
        return w[:-3] + "y"
    if w.endswith("es") and not w.endswith(("aes", "ees", "oes")):
        return w[:-1]
    if w.endswith("s") and not w.endswith(("us", "ss")):
        return w[:-1]
    return w


def stem_s_col(t: Column) -> Column:
    """JVM Column implementation (whole-stage codegen; used inside
    F.transform lambdas — 1-arg form, see the F.filter note below)."""
    drop_last = t.substr(F.lit(1), F.length(t) - 1)
    ies = (
        t.endswith("ies") & ~t.endswith("eies") & ~t.endswith("aies"),
        F.concat(t.substr(F.lit(1), F.length(t) - 3), F.lit("y")),
    )
    es = t.endswith("es") & ~t.endswith("aes") & ~t.endswith("ees") & ~t.endswith("oes")
    s = t.endswith("s") & ~t.endswith("us") & ~t.endswith("ss")
    return F.when(ies[0], ies[1]).when(es, drop_last).when(s, drop_last).otherwise(t)


STEM_S_SQL_CASE = (
    "CASE WHEN t LIKE '%ies' AND t NOT LIKE '%eies' AND t NOT LIKE '%aies'"
    " THEN substr(t, 1, length(t) - 3) || 'y'"
    " WHEN t LIKE '%es' AND t NOT LIKE '%aes' AND t NOT LIKE '%ees' AND t NOT LIKE '%oes'"
    " THEN substr(t, 1, length(t) - 1)"
    " WHEN t LIKE '%s' AND t NOT LIKE '%us' AND t NOT LIKE '%ss'"
    " THEN substr(t, 1, length(t) - 1)"
    " ELSE t END"
)


VALID_STEMS = ("", "s", "porter")  # see porter.py for the "porter" contract


@dataclass(frozen=True)
class Analyzer:
    """A resolved analyzer: the frozen tokenizer + a stopword set + an
    optional light stemmer (``stem="s"``). Chain order matches Lucene's
    EnglishAnalyzer (StopFilter before the stem filter): stop-filter, then
    stem, then drop tokens that stemmed to empty."""

    locale: str
    use_stopwords: bool
    stopwords: frozenset = field(default_factory=frozenset)
    stem: str = ""  # "" (none) | "s" (Harman S-stemmer)

    def __post_init__(self):
        # validate HERE, not only in find_analyzer: a directly-constructed
        # Analyzer(locale, True, stem='porter') must not silently S-stem and
        # round-trip the bogus value into analyzer.json.
        if self.stem not in VALID_STEMS:
            raise ValueError(
                f"unknown stemmer {self.stem!r} (supported: {VALID_STEMS})"
            )

    def stem_one(self, w: str) -> str:
        """Per-word stem under THIS analyzer's configured stemmer — the
        query side (parser._stem_terms) dispatches through here so a future
        stemmer kind can never leave parse-time and build-time rules
        disagreeing. No-stem analyzers return the word unchanged."""
        if self.stem == "s":
            return stem_s_one(w)
        if self.stem == "porter":
            from miru_spark.porter import porter_stem

            return porter_stem(w)
        return w

    def tokens_col(self, content: Column | str) -> Column:
        if self.stem == "porter":
            # Porter's conditions (measure over VC runs, context-dependent
            # y-as-vowel) are not expressible in Column algebra or RE2 — the
            # DataFrame path runs the SAME tokenize_pandas chain under an
            # Arrow-batched pandas_udf (parity by construction; porter.py
            # module docstring). The index-build hot path never takes this:
            # it stems at the VOCAB level (stem_vocab, per unique word).
            from pyspark.sql.types import ArrayType, StringType

            anz = self

            @F.pandas_udf(ArrayType(StringType()))
            def _tok(s: pd.Series) -> pd.Series:
                return anz.tokenize_pandas(s)

            c = F.col(content) if isinstance(content, str) else content
            return _tok(c)
        c = base.tokens_col(content)
        if self.stopwords:
            stop = F.lit(sorted(self.stopwords))
            # F.filter's 1-arg lambda (2-arg is the (element, index) form)
            c = F.filter(c, lambda t: ~F.array_contains(stop, t))
        if self.stem:
            c = F.transform(c, stem_s_col)
            c = F.filter(c, lambda t: t != F.lit(""))
        return c

    def tokenize_one(self, text: str) -> list[str]:
        toks = base.tokenize_one(text)
        if self.stopwords:
            toks = [t for t in toks if t not in self.stopwords]
        if self.stem:
            toks = [s for s in (self.stem_one(t) for t in toks) if s]
        return toks

    def tokenize_pandas(self, content: pd.Series) -> pd.Series:
        toks = base.tokenize_pandas(content)
        if self.stopwords:
            sw = self.stopwords
            toks = toks.map(lambda ts: [t for t in ts if t not in sw])
        if self.stem:
            toks = toks.map(
                lambda ts: [s for s in (self.stem_one(t) for t in ts) if s]
            )
        return toks

    def stop_mask_for_vocab(self, vocab: np.ndarray) -> np.ndarray:
        """Vectorized hook for the Arrow build path: True where vocab[i] is
        a stopword. The builder drops flagged token occurrences by masking
        ``codes`` — one isin over the (small) vocab, zero per-token Python."""
        if not self.stopwords:
            return np.zeros(len(vocab), dtype=bool)
        return np.isin(vocab, sorted(self.stopwords))

    def stem_vocab(self, vocab: np.ndarray) -> np.ndarray:
        """Vocab-level hook for the Arrow build path: the stemmed form of
        each UNIQUE vocab word (the builder re-encodes codes through the
        stemmed vocab, so the per-word Python loop runs over the small
        dictionary, never the token stream — same cost class as the
        stopword isin). Words that stem to "" are dropped by the builder."""
        if not self.stem:
            return vocab
        return np.array([self.stem_one(w) for w in vocab.tolist()], dtype=object)

    def duckdb_tokens_sql(self, col: str = "content") -> str:
        if self.stem == "porter":
            raise NotImplementedError(
                "Porter is not expressible in DuckDB SQL in this sandbox "
                "(duckdb.stem() needs the non-installable fts extension; RE2 "
                "has no lookbehind for the y-as-vowel rule) — porter-analyzed "
                "gate entries are rows-only by design, value parity pinned by "
                "tests/test_porter.py instead (porter.py module docstring)."
            )
        out = base.duckdb_tokens_sql(col)
        if self.stopwords:
            lst = ", ".join(
                "'" + w.replace("'", "''") + "'" for w in sorted(self.stopwords)
            )
            out = f"list_filter({out}, t -> NOT list_contains([{lst}], t))"
        if self.stem:
            out = f"list_transform({out}, t -> {STEM_S_SQL_CASE})"
            out = f"list_filter({out}, t -> t <> '')"
        return out

    def to_config(self) -> dict:
        cfg = {"locale": self.locale, "use_stopwords": self.use_stopwords}
        if self.stem:
            cfg["stem"] = self.stem
        return cfg


# locale → stop set when use_stopwords (TermAnalyzers.java:51-84 registers
# per-language Lucene analyzers; we register stop sets). en_ie shares the
# English set exactly as the reference passes ENGLISH_STOP_WORDS_SET to
# IrishAnalyzer (TermAnalyzers.java:57). de/es/fr/it/pt/nl carry the public
# Snowball lists (the Lucene per-language analyzer defaults the reference
# constructs at :60/:76/:61/:69/:75/:72); more via register_stopwords.
# pt_br resolves to pt via the fallback walk (the reference's
# BrazilianAnalyzer stop set is near-identical to the Portuguese one).
_STOPWORD_SETS: dict[str, frozenset] = {
    "en": EN_STOPWORDS,
    "en_ie": EN_STOPWORDS,
    "de": DE_STOPWORDS,
    "es": ES_STOPWORDS,
    "fr": FR_STOPWORDS,
    "it": IT_STOPWORDS,
    "pt": PT_STOPWORDS,
    "nl": NL_STOPWORDS,
}


def register_stopwords(locale: str, words) -> None:
    _STOPWORD_SETS[locale] = frozenset(words)


def find_analyzer(locale: str | None, use_stopwords: bool, stem: str = "") -> Analyzer:
    """The reference's fallback walk (TermAnalyzers.java:120-136): exact
    locale, then progressively strip ``_``-suffixes, then the standard
    fallback — which with stopwords uses the ENGLISH set (:47).
    ``stem="s"`` additionally enables the S-stemmer (English-only light
    stemming; the reference's per-language Snowball stemmers are a
    documented non-goal, see module docstring)."""
    if stem not in VALID_STEMS:
        raise ValueError(f"unknown stemmer {stem!r} (supported: {VALID_STEMS})")
    if not use_stopwords:
        return Analyzer(locale or "", False, stem=stem)
    code = locale or ""
    while code:
        s = _STOPWORD_SETS.get(code)
        if s is not None:
            return Analyzer(locale, True, s, stem=stem)
        ix = code.rfind("_")
        if ix == -1:
            break
        code = code[:ix]
    # stopword standard fallback
    return Analyzer(locale or "", True, EN_STOPWORDS, stem=stem)


DEFAULT = Analyzer("", False)


def from_config(cfg: dict | None) -> Analyzer:
    if not cfg:
        return DEFAULT
    return find_analyzer(
        cfg.get("locale"), bool(cfg.get("use_stopwords")), cfg.get("stem", "")
    )


def load(index_dir: str) -> Analyzer:
    """The index's analyzer, from ``analyzer.json`` (absent = the frozen
    default). Read by build_segments (streaming appends) and both query
    paths, so index- and query-side tokenization can never diverge."""
    import os

    from miru_spark.storage import load_json

    cfg = load_json(os.path.join(index_dir, "analyzer.json"), None)
    return DEFAULT if cfg is None else from_config(cfg)


def save(index_dir: str, analyzer: Analyzer) -> None:
    import os

    from miru_spark.storage import save_json_atomic

    save_json_atomic(os.path.join(index_dir, "analyzer.json"), analyzer.to_config())
