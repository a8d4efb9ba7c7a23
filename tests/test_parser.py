"""QueryParser tests: syntax -> AST, and parsed-query end-to-end results.

Syntax cases follow the reference parser's documented behaviours
(src/query/query_parser/query_parser.rs:131-212)."""

import pytest

from tantivy_spark.query import ast
from tantivy_spark.query.parser import QueryParser, QueryParserError
from tantivy_spark.query.searcher import Searcher


@pytest.fixture(scope="module")
def p():
    return QueryParser()


def test_single_term(p):
    assert p.parse("Hello") == ast.TermQuery("hello")


def test_default_or(p):
    q = p.parse("fast slow")
    assert isinstance(q, ast.BooleanQuery)
    assert q.clauses == [(ast.Occur.SHOULD, ast.TermQuery("fast")),
                         (ast.Occur.SHOULD, ast.TermQuery("slow"))]


def test_must_mustnot(p):
    q = p.parse("+table -slow join")
    assert q.clauses == [
        (ast.Occur.MUST, ast.TermQuery("table")),
        (ast.Occur.MUST_NOT, ast.TermQuery("slow")),
        (ast.Occur.SHOULD, ast.TermQuery("join")),
    ]


def test_explicit_and_or_precedence(p):
    q = p.parse("a AND b OR c")
    assert isinstance(q, ast.BooleanQuery)
    assert q.clauses[0][0] == ast.Occur.SHOULD
    inner = q.clauses[0][1]
    assert inner == ast.BooleanQuery([(ast.Occur.MUST, ast.TermQuery("a")),
                                      (ast.Occur.MUST, ast.TermQuery("b"))])
    assert q.clauses[1] == (ast.Occur.SHOULD, ast.TermQuery("c"))


def test_phrase_with_slop(p):
    assert p.parse('"order sort"') == ast.PhraseQuery(["order", "sort"], slop=0)
    assert p.parse('"order sort"~2') == ast.PhraseQuery(["order", "sort"], slop=2)


def test_multiword_literal_becomes_phrase(p):
    # analyzer splits on punctuation -> phrase, like the reference
    assert p.parse("foo-bar") == ast.PhraseQuery(["foo", "bar"], slop=0)


def test_boost(p):
    assert p.parse("data^2.5") == ast.BoostQuery(ast.TermQuery("data"), 2.5)


def test_all_and_parens(p):
    assert p.parse("*") == ast.AllQuery()
    q = p.parse("(fast OR slow) AND scan")
    assert q.clauses[0][0] == ast.Occur.MUST
    assert q.clauses[1] == (ast.Occur.MUST, ast.TermQuery("scan"))


def test_in_set(p):
    assert p.parse("IN [fast slow]") == ast.TermSetQuery(["fast", "slow"])


def test_range(p):
    q = p.parse("[aa TO ab]")
    assert q == ast.TermRangeQuery("aa", "ab", True, True)
    q = p.parse("{aa TO ab}")
    assert q == ast.TermRangeQuery("aa", "ab", False, False)
    assert p.parse("[a TO *]") == ast.TermRangeQuery("a", None, True, True)


def test_field_prefix_attaches(p):
    """The resolved field rides on the AST node; single-field searchers
    ignore it, multi-field searchers qualify terms with it."""
    assert p.parse("text:data") == ast.TermQuery("data", field="text")
    assert p.parse("text:*") == ast.ExistsQuery(field="text")
    assert p.parse("data") == ast.TermQuery("data")  # no prefix -> None


def test_lex_error(p):
    with pytest.raises(QueryParserError):
        p.parse("(unclosed")


def test_uppercase_lowered(p):
    assert p.parse("DATA") == ast.TermQuery("data")


def _should(*qs):
    return ast.BooleanQuery([(ast.Occur.SHOULD, q) for q in qs])


def test_not_keyword(p):
    # ported vectors: query_grammar.rs:1294-1296, 1838
    with pytest.raises(QueryParserError):
        p.parse("NOT")
    assert p.parse("NOTa") == ast.TermQuery("nota")
    # "NOT a" -> (-a) + top-level make_non_negative -> (-a ?*)
    assert p.parse("NOT a") == ast.BooleanQuery(
        [(ast.Occur.MUST_NOT, ast.TermQuery("a")),
         (ast.Occur.SHOULD, ast.AllQuery())])
    # "tata NOT toto" == "tata -toto" (:1838)
    assert p.parse("tata NOT toto") == p.parse("tata -toto")
    assert p.parse("tata NOT toto") == ast.BooleanQuery(
        [(ast.Occur.SHOULD, ast.TermQuery("tata")),
         (ast.Occur.MUST_NOT, ast.TermQuery("toto"))])


def test_not_inside_and(p):
    # "a AND NOT b" (:1329) — executable form (+a -b)
    assert p.parse("a AND NOT b") == ast.BooleanQuery(
        [(ast.Occur.MUST, ast.TermQuery("a")),
         (ast.Occur.MUST_NOT, ast.TermQuery("b"))])
    # "a AND NOT b AND c" (:1332)
    assert p.parse("a AND NOT b AND c") == ast.BooleanQuery(
        [(ast.Occur.MUST, ast.TermQuery("a")),
         (ast.Occur.MUST_NOT, ast.TermQuery("b")),
         (ast.Occur.MUST, ast.TermQuery("c"))])
    assert p.parse("a AND -b AND c") == p.parse("a AND NOT b AND c")


def test_top_level_all_negative(p):
    # "-a" alone must not match nothing: make_non_negative adds match-all
    q = p.parse("-a")
    assert (ast.Occur.SHOULD, ast.AllQuery()) in q.clauses
    assert (ast.Occur.MUST_NOT, ast.TermQuery("a")) in q.clauses


def test_fuzzy_term_syntax(p):
    # "a~2" vector (:1799); transposition-cost-one default
    assert p.parse("dtaa~1") == ast.FuzzyTermQuery(
        "dtaa", distance=1, transposition_cost_one=True)
    assert p.parse("a~2") == ast.FuzzyTermQuery(
        "a", distance=2, transposition_cost_one=True)
    # leading tilde is part of the term (vector "~Document" :1798)
    assert p.parse("~Document") == ast.TermQuery("document")


def test_phrase_prefix_syntax(p):
    # '"a b"*' vectors (:1808-1815)
    assert p.parse('"order so"*') == ast.PhrasePrefixQuery(["order"], prefix="so")
    assert p.parse('"a"*') == ast.PhrasePrefixQuery([], prefix="a")
    assert p.parse('""*') == ast.EmptyQuery()


def test_mixed_bool_occur_vectors(p):
    # "a OR NOT b" (:1337): NOT operand stays a nested pure-negative group
    q = p.parse("a OR NOT b")
    assert q.clauses[0] == (ast.Occur.SHOULD, ast.TermQuery("a"))
    assert q.clauses[1] == (ast.Occur.SHOULD, ast.BooleanQuery(
        [(ast.Occur.MUST_NOT, ast.TermQuery("b"))]))
    # "a OR b AND c" (:1313): AND binds tighter
    q = p.parse("a OR b AND c")
    assert q == _should(ast.TermQuery("a"),
                        ast.BooleanQuery([(ast.Occur.MUST, ast.TermQuery("b")),
                                          (ast.Occur.MUST, ast.TermQuery("c"))]))


def test_field_registry_validation():
    p2 = QueryParser(fields=["text", "title"])
    assert p2.parse("title:data") == ast.TermQuery("data", field="title")
    with pytest.raises(QueryParserError):
        p2.parse("nope:data")


def test_boost_vectors(p):
    # "a^3 b^2" (:1303-1305)
    q = p.parse("a^3 b^2")
    assert q == _should(ast.BoostQuery(ast.TermQuery("a"), 3.0),
                        ast.BoostQuery(ast.TermQuery("b"), 2.0))
    assert p.parse("a^1") == ast.BoostQuery(ast.TermQuery("a"), 1.0)


# ---------------------------------------------------------------- e2e


def test_parsed_query_end_to_end(tiny_index, tiny_golden):
    s = Searcher(tiny_index)
    from tantivy_spark.query import BooleanQuery, Occur, TermQuery

    got = s.search("+fast +scan", k=10).collect()
    want = tiny_golden.top_k(BooleanQuery(
        [(Occur.MUST, TermQuery("fast")), (Occur.MUST, TermQuery("scan"))]), k=10)
    assert [(r["segment_ord"], r["doc_id"]) for r in got] == \
        [(sg, d) for _r, sg, d, _ in want]


def test_wand_dispatch_matches_exact(tiny_index):
    s = Searcher(tiny_index)
    w = s.search("fast slow", k=10, method="wand").collect()
    e = s.search("fast slow", k=10, method="exact").collect()
    assert [(r["rank"], r["key"]) for r in w] == [(r["rank"], r["key"]) for r in e]


def test_regex_phrase_query(tiny_index, tiny_golden):
    from tantivy_spark.query.ast import PhraseQuery, RegexPhraseQuery
    from tantivy_spark.query.exact import ExactSearcher

    s = ExactSearcher(tiny_index)
    literal = s.search(PhraseQuery(["order", "sort"]), k=8).collect()
    as_regex = s.search(RegexPhraseQuery(["order", "sort"]), k=8).collect()
    # literal patterns: the same hits with bit-identical scores
    assert [(r["segment_ord"], r["doc_id"], r["score"]) for r in literal] == \
        [(r["segment_ord"], r["doc_id"], r["score"]) for r in as_regex]
    assert sorted(s.matching(PhraseQuery(["order", "sort"])).collect()) == \
        sorted(s.matching(RegexPhraseQuery(["order", "sort"])).collect())
    # widening the last slot can only grow the matched doc set
    widened = s.matching(RegexPhraseQuery(["order", "so.*"])).count()
    assert widened >= s.matching(PhraseQuery(["order", "sort"])).count()


def test_range_and_exists_queries(tiny_index, tiny_golden):
    from tantivy_spark.query import ast as A
    s = Searcher(tiny_index)
    q = A.TermRangeQuery("da", "dz", True, True)
    assert s.count(q) == tiny_golden.count(q)
    assert s.count(A.ExistsQuery()) == tiny_golden.count(A.ExistsQuery())


def test_date_range_lowers_to_fastfield():
    """RFC3339 date ranges on a registered date field lower to a
    FastFieldRangeQuery with parsed datetimes (ref: query_parser.rs date
    branch; grammar vectors with dates)."""
    from datetime import datetime

    pd_ = QueryParser(field_types={"ts": "date", "n": "i64", "x": "f64"})
    q = pd_.parse("ts:[2021-03-01T00:00:00Z TO 2021-06-15T12:30:00Z}")
    assert q == ast.FastFieldRangeQuery(
        field="ts", lower=datetime(2021, 3, 1),
        upper=datetime(2021, 6, 15, 12, 30),
        lower_inclusive=True, upper_inclusive=False)
    # bare dates and star bounds
    q2 = pd_.parse("ts:[* TO 2021-06-15]")
    assert q2 == ast.FastFieldRangeQuery(
        field="ts", lower=None, upper=datetime(2021, 6, 15))
    # offsets normalize to UTC
    q3 = pd_.parse("ts:[2021-03-01T02:00:00+02:00 TO *]")
    assert q3.lower == datetime(2021, 3, 1)
    # typed literal = degenerate range
    assert pd_.parse("ts:2021-03-01T00:00:00Z") == ast.FastFieldRangeQuery(
        field="ts", lower=datetime(2021, 3, 1), upper=datetime(2021, 3, 1))
    # numeric fields
    assert pd_.parse("n:[10 TO 20]") == ast.FastFieldRangeQuery(
        field="n", lower=10, upper=20)
    assert pd_.parse("x:{1.5 TO 2.5}") == ast.FastFieldRangeQuery(
        field="x", lower=1.5, upper=2.5,
        lower_inclusive=False, upper_inclusive=False)
    # malformed date fails loudly
    with pytest.raises(QueryParserError):
        pd_.parse("ts:[not-a-date TO 2021-06-15]")
    # typed fields combine with text clauses
    q4 = pd_.parse("data AND ts:[2021-01-01 TO 2021-02-01]")
    assert isinstance(q4, ast.BooleanQuery)


def test_fastfield_filter_execution(spark):
    """Parsed date range executed over the events table equals the
    direct timestamp predicate."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from tantivy_spark.query.exact import fastfield_filter

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = QueryParser(field_types={"ts": "date"}).parse(
        "ts:[2024-01-05T00:00:00Z TO 2024-01-20T00:00:00Z}")
    got = fastfield_filter(events, q).count()
    want = events.filter(
        (F.col("ts") >= datetime(2024, 1, 5))
        & (F.col("ts") < datetime(2024, 1, 20))).count()
    assert got == want > 0


def test_mixed_bare_and_operator_runs(p):
    """AND/OR bind only ADJACENT operands; bare elements separate out
    (ported vectors, query_grammar.rs:1310-1348)."""
    S, M, N = ast.Occur.SHOULD, ast.Occur.MUST, ast.Occur.MUST_NOT
    t = ast.TermQuery
    # "a OR b aaa" -> (?a ?b *aaa): OR operands flatten
    assert p.parse("a OR b aaa") == ast.BooleanQuery(
        [(S, t("a")), (S, t("b")), (S, t("aaa"))])
    # "a AND b aaa" -> (?(+a +b) *aaa): AND chain nests
    assert p.parse("a AND b aaa") == ast.BooleanQuery(
        [(S, ast.BooleanQuery([(M, t("a")), (M, t("b"))])), (S, t("aaa"))])
    # "aaa a AND b" -> (*aaa ?(+a +b))
    assert p.parse("aaa a AND b") == ast.BooleanQuery(
        [(S, t("aaa")), (S, ast.BooleanQuery([(M, t("a")), (M, t("b"))]))])
    # "aaa ccc a OR b" -> (*aaa *ccc ?a ?b)
    assert p.parse("aaa ccc a OR b") == ast.BooleanQuery(
        [(S, t("aaa")), (S, t("ccc")), (S, t("a")), (S, t("b"))])
    # "+a OR +b" -> (+a +b): explicit MUSTs survive the OR (:1325)
    assert p.parse("+a OR +b") == ast.BooleanQuery(
        [(M, t("a")), (M, t("b"))])
    # "a OR b +aaa" -> (?a ?b +aaa)
    assert p.parse("a OR b +aaa") == ast.BooleanQuery(
        [(S, t("a")), (S, t("b")), (M, t("aaa"))])
    # "a AND b -aaa" -> (?(+a +b) -aaa)
    assert p.parse("a AND b -aaa") == ast.BooleanQuery(
        [(S, ast.BooleanQuery([(M, t("a")), (M, t("b"))])), (N, t("aaa"))])
    # "-a AND -b aaa" -> (?(-a -b) *aaa)
    assert p.parse("-a AND -b aaa") == ast.BooleanQuery(
        [(S, ast.BooleanQuery([(N, t("a")), (N, t("b"))])), (S, t("aaa"))])
    # "-aaa +ccc -a OR b" -> (-aaa +ccc ?(-a) ?b)
    assert p.parse("-aaa +ccc -a OR b") == ast.BooleanQuery(
        [(N, t("aaa")), (M, t("ccc")),
         (S, ast.BooleanQuery([(N, t("a"))])), (S, t("b"))])
    # "a OR -b" -> (?a ?(-b)); "-a OR b" -> (?(-a) ?b)
    assert p.parse("a OR -b") == ast.BooleanQuery(
        [(S, t("a")), (S, ast.BooleanQuery([(N, t("b"))]))])
    assert p.parse("-a OR b") == ast.BooleanQuery(
        [(S, ast.BooleanQuery([(N, t("a"))])), (S, t("b"))])
    # dangling operators fail loudly
    import pytest as _pytest
    with _pytest.raises(QueryParserError):
        p.parse("OR a")
    with _pytest.raises(QueryParserError):
        p.parse("a AND OR b")


def test_elastic_range_vectors(p):
    """Elastic one-sided ranges (ported vectors, query_grammar.rs
    test_parse_elastic_query_ranges)."""
    from datetime import datetime

    T = ast.TermRangeQuery
    assert p.parse("title:>a") == T("a", None, False, True, field="title")
    assert p.parse("title:>=a") == T("a", None, True, True, field="title")
    assert p.parse("title:<a") == T(None, "a", True, False, field="title")
    assert p.parse("title:<=bsd") == T(None, "bsd", True, True, field="title")
    assert p.parse(">a") == T("a", None, False, True)
    assert p.parse("<=bsd") == T(None, "bsd", True, True)
    assert p.parse("(<=42)") == T(None, "42", True, True)
    # spaced form: 'weight: <= 70'
    assert p.parse("weight: <= 70") == T(None, "70", True, True,
                                         field="weight")
    # typed fields lower to fast-field ranges
    pt = QueryParser(field_types={"age": "i64", "ts": "date"})
    assert pt.parse("age:>5") == ast.FastFieldRangeQuery(
        "age", lower=5, upper=None, lower_inclusive=False)
    assert pt.parse("age: <= 70") == ast.FastFieldRangeQuery(
        "age", lower=None, upper=70, upper_inclusive=True)
    assert pt.parse("ts:>=2024-01-05") == ast.FastFieldRangeQuery(
        "ts", lower=datetime(2024, 1, 5), upper=None, lower_inclusive=True)
    # composes inside booleans: '(title:bar AND age:>12)'
    q = pt.parse("(bar AND age:>12)")
    assert isinstance(q, ast.BooleanQuery)
    assert q.clauses[1] == (ast.Occur.MUST, ast.FastFieldRangeQuery(
        "age", lower=12, upper=None, lower_inclusive=False))
    with pytest.raises(QueryParserError):
        p.parse("title:>=")  # op without value


def test_single_quoted_phrase(p):
    """'...' parses like a double-quoted phrase (vector :1276)."""
    assert p.parse("'www-form-encoded'") == \
        p.parse('"www-form-encoded"')
    assert p.parse("'order sort'~2") == \
        ast.PhraseQuery(["order", "sort"], slop=2)
    # apostrophes INSIDE words stay part of the word
    q = p.parse("don't stop")
    assert isinstance(q, ast.BooleanQuery)


def test_conjunction_by_default():
    """QueryParser(default_occur=MUST) — the reference's
    set_conjunction_by_default: bare terms become MUST clauses."""
    pc = QueryParser(default_occur=ast.Occur.MUST)
    assert pc.parse("fast slow") == ast.BooleanQuery(
        [(ast.Occur.MUST, ast.TermQuery("fast")),
         (ast.Occur.MUST, ast.TermQuery("slow"))])
    assert pc.parse("fast") == ast.TermQuery("fast")
    assert pc.parse("fast -slow") == ast.BooleanQuery(
        [(ast.Occur.MUST, ast.TermQuery("fast")),
         (ast.Occur.MUST_NOT, ast.TermQuery("slow"))])


def test_dropped_atom_keeps_following_connector(p):
    """An atom that analyzes to nothing (40+-byte token) must not eat
    the OR that joined its neighbours: 'a LONG OR b' keeps b as an OR
    operand under conjunction-by-default."""
    S, M = ast.Occur.SHOULD, ast.Occur.MUST
    t = ast.TermQuery
    long_tok = "x" * 45
    pc = QueryParser(default_occur=M)
    assert pc.parse(f"a {long_tok} OR b") == pc.parse("a OR b")
    assert p.parse(f"a OR {long_tok} AND b") == ast.BooleanQuery(
        [(S, t("a")), (S, ast.BooleanQuery([(M, t("b"))]))]) or \
        p.parse(f"a OR {long_tok} AND b") == p.parse("a AND b")


def test_escaped_and_dotted_field_names():
    """query-grammar field-name escaping: 'a\\.b:t' names the literal
    field 'a.b'; an unescaped dotted prefix of a registered json field
    addresses a path INSIDE it (term.rs:72-80 json addressing)."""
    from tantivy_spark.functions.jsonterm import json_num_term

    S = ast.Occur.SHOULD
    pr = QueryParser(fields=["a.b", "props", "text"])
    assert pr.parse(r"a\.b:data") == ast.TermQuery("data", field="a.b")
    # dotted path under a registered field: like the reference, a json
    # literal tries EVERY value interpretation — typed term OR analyzed
    # string tokens
    assert pr.parse("props.k:42") == ast.BooleanQuery([
        (S, ast.TermQuery(json_num_term("k", 42.0), field="props")),
        (S, ast.TermQuery("k=42", field="props"))])
    assert pr.parse("props.k.deep:hi") == ast.TermQuery(
        "k.deep=hi", field="props")
    assert pr.parse("props.flag:true") == ast.BooleanQuery([
        (S, ast.TermQuery("flag#b=true", field="props")),
        (S, ast.TermQuery("flag=true", field="props"))])
    # analyzed string literals: case folds, multi-token becomes a
    # path-prefixed phrase; quoted phrases attach the path per term
    assert pr.parse("props.t:QUICK") == ast.TermQuery("t=quick",
                                                      field="props")
    assert pr.parse('props.t:"quick brown"') == ast.PhraseQuery(
        ["t=quick", "t=brown"], field="props")
    # numeric range inside the json field -> order-preserving term range
    q = pr.parse("props.k:[20 TO 60}")
    assert isinstance(q, ast.TermRangeQuery)
    assert q.lower == json_num_term("k", 20.0) and q.lower_inclusive
    assert q.upper == json_num_term("k", 60.0) and not q.upper_inclusive
    assert q.field == "props"
    # elastic form + exists-inside-json
    q2 = pr.parse("props.k:>=20")
    assert q2.lower == json_num_term("k", 20.0) and q2.upper == "k#n=g"
    q3 = pr.parse("props.k:*")
    assert (q3.lower, q3.upper) == ("k#", "k>")
    # unknown dotted name with no registered prefix still errors
    with pytest.raises(QueryParserError):
        pr.parse("nope.k:1")


def test_parse_lenient():
    """parse_query_lenient (query-grammar/src/lib.rs): never raises,
    returns best-effort query + error list."""
    from tantivy_spark.query.parser import parse_query_lenient

    q, errs = parse_query_lenient('"a b')           # unclosed quote
    assert errs and q == QueryParser().parse('"a b"')
    q, errs = parse_query_lenient("(a AND b")       # unbalanced paren
    assert errs and q == QueryParser().parse("(a AND b)")
    q, errs = parse_query_lenient("AND a")          # dangling operator
    assert errs and q == ast.TermQuery("a")
    q, errs = parse_query_lenient("a b")            # clean: no errors
    assert errs == [] and q == QueryParser().parse("a b")
