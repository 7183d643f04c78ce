import pytest

from miru_spark.query.parser import (
    And,
    Not,
    Or,
    Prefix,
    Term,
    Xor,
    all_terms,
    parse_query,
    positive_terms,
    prefixes,
    required_terms,
)


def test_single_term():
    assert parse_query("foo") == Term("foo")


def test_case_folded():
    assert parse_query("FOO") == Term("foo")


def test_implicit_and():
    assert parse_query("a b") == And((Term("a"), Term("b")))


def test_explicit_and_or():
    assert parse_query("a AND b") == And((Term("a"), Term("b")))
    assert parse_query("a OR b") == Or((Term("a"), Term("b")))


def test_precedence_and_parens():
    # AND binds tighter than OR (per Lucene default)
    assert parse_query("a AND b OR c") == Or((And((Term("a"), Term("b"))), Term("c")))
    assert parse_query("a AND (b OR c)") == And((Term("a"), Or((Term("b"), Term("c")))))


def test_not():
    q = parse_query("a AND NOT b")
    assert q == Not(Term("a"), Term("b"))
    q2 = parse_query("a b NOT c")
    assert q2 == Not(And((Term("a"), Term("b"))), Term("c"))


def test_pure_negative_wraps_all():
    # mustNots-only → pButNotQ(all, q) with inclusiveFilter=true
    # (LuceneBackedQueryParser.java:139-141)
    from miru_spark.query.parser import All

    assert parse_query("NOT a") == Not(All(), Term("a"))
    assert parse_query("NOT a NOT b") == Not(Not(All(), Term("a")), Term("b"))


def test_prefix():
    assert parse_query("pre*") == Prefix("pre")


def test_multi_token_word_becomes_conjunction():
    assert parse_query("foo-bar") == And((Term("foo"), Term("bar")))


def test_term_collectors():
    q = parse_query("a AND b OR c AND NOT d")
    assert positive_terms(q) == {"a", "b", "c"}
    assert all_terms(q) == {"a", "b", "c", "d"}
    assert prefixes(parse_query("a AND pre*")) == {"pre"}


def test_xor():
    # xor binds tighter than OR, looser than AND (MiruFilterOperation.java:16)
    assert parse_query("a XOR b") == Xor((Term("a"), Term("b")))
    assert parse_query("a AND b XOR c") == Xor((And((Term("a"), Term("b"))), Term("c")))
    assert parse_query("a XOR b OR c") == Or((Xor((Term("a"), Term("b"))), Term("c")))
    q = parse_query("a XOR b XOR c")
    assert q == Xor((Term("a"), Term("b"), Term("c")))
    assert positive_terms(q) == {"a", "b", "c"}
    assert all_terms(q) == {"a", "b", "c"}
    # xor guarantees membership in >=1 child -> required = intersection (empty here)
    assert required_terms(q) == set()


def test_ts_range_clause():
    from miru_spark.query.parser import Range, ranges

    q = parse_query("merge ts:[0 TO 17]")
    assert q == And((Term("merge"), Range("ts", 0, 17)))
    assert ranges(q) == {Range("ts", 0, 17)}
    assert positive_terms(q) == {"merge"}
    with pytest.raises(ValueError, match="unknown range field"):
        parse_query("merge size:[1 TO 2]")
    with pytest.raises(ValueError, match="malformed range"):
        parse_query("merge ts:[1 2]")
