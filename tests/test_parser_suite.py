"""1:1 port of the reference parser test suites.

Sources: core/src/test/.../ParserSuite.scala (SingleSimpleQuerySuite,
MultiSimpleQuerySuite, QueryWithSuffixOpsSuite, GroupQuerySuite),
PunctuationSuite.scala, RegexSuite.scala, WildCardParserSuite.scala,
StandardQueryParserDocsSuite.scala. Same query strings, same expected
ASTs, exact structural equality.
"""

import pytest

from lucille_spark import (
    And,
    Boost,
    Field,
    Fuzzy,
    Group,
    ManyChar,
    MinimumMatch,
    Not,
    Or,
    ParseError,
    Phrase,
    Prefix,
    Proximity,
    SingleChar,
    Str,
    Term,
    TermRange,
    TermRegex,
    UnaryPlus,
    WildCard,
    parse,
)

T = Term
WC = WildCard.of
S = Str
SC = SingleChar()
MC = ManyChar()


SINGLE_SIMPLE = [
    # SingleSimpleQuerySuite (ParserSuite.scala:20-167)
    ("the", T("the")),
    ("the   ", T("the")),
    ("  the", T("the")),
    ("  the      ", T("the")),
    ('"The cat jumped"', Phrase("The cat jumped")),
    ('"The cat jumped   "', Phrase("The cat jumped   ")),
    ('"   The cat jumped"', Phrase("   The cat jumped")),
    ('"   The  cat jumped   "', Phrase("   The  cat jumped   ")),
    ("“The cat jumped”", Phrase("The cat jumped")),  # smart quotes
    ('  "The cat jumped"  ', Phrase("The cat jumped")),
    ("fieldName:cat", Field("fieldName", T("cat"))),
    ("  fieldName:cat  ", Field("fieldName", T("cat"))),
    ('fieldName:"The cat jumped"', Field("fieldName", Phrase("The cat jumped"))),
    ("catch22", T("catch22")),
    ("fieldName42:cat", Field("fieldName42", T("cat"))),
    ("fieldName42:cat42", Field("fieldName42", T("cat42"))),
    ("cats^3.0", Boost(T("cats"), 3.0)),
    ("cats^3.0 AND dogs^2", And.of(Boost(T("cats"), 3.0), Boost(T("dogs"), 2.0))),
    ("fieldName42:cat42^3", Field("fieldName42", Boost(T("cat42"), 3.0))),
    (
        "(fieldName42:cat42^3)",
        Group(Field("fieldName42", Boost(T("cat42"), 3.0))),
    ),
    ("fieldName42:cat42^3.1", Field("fieldName42", Boost(T("cat42"), 3.1))),
    (
        "fieldName42:(cats AND dogs)^20",
        Field("fieldName42", Boost(Group(And.of(T("cats"), T("dogs"))), 20.0)),
    ),
    ("cat\\:dog", T("cat:dog")),
    ("\\(1\\+1\\)\\:2", T("(1+1):2")),
]

MULTI_SIMPLE = [
    # MultiSimpleQuerySuite (ParserSuite.scala:169-215)
    ("The cat jumped", Or.of(T("The"), T("cat"), T("jumped"))),
    ("The cat   jumped   ", Or.of(T("The"), T("cat"), T("jumped"))),
    (
        "fieldName:The cat jumped",
        Or.of(Field("fieldName", T("The")), T("cat"), T("jumped")),
    ),
    ('"derp lerp"~3', Proximity("derp lerp", 3)),
    ("derp~", Fuzzy("derp", None)),
    ("derp~2", Fuzzy("derp", 2)),
]

SUFFIX_OPS = [
    # QueryWithSuffixOpsSuite (ParserSuite.scala:217-416)
    ("derp OR lerp", Or.of(T("derp"), T("lerp"))),
    ("derp OR lerp OR slerp", Or.of(T("derp"), T("lerp"), T("slerp"))),
    ('derp OR "lerp slerp"', Or.of(T("derp"), Phrase("lerp slerp"))),
    ("derp AND lerp", And.of(T("derp"), T("lerp"))),
    ("term derp OR lerp", Or.of(T("term"), Or.of(T("derp"), T("lerp")))),
    ("derp OR lerp slerp", Or.of(Or.of(T("derp"), T("lerp")), T("slerp"))),
    ("derp AND lerp slerp", Or.of(And.of(T("derp"), T("lerp")), T("slerp"))),
    ('derp AND "lerp slerp"', And.of(T("derp"), Phrase("lerp slerp"))),
    ('derp && "lerp slerp"', And.of(T("derp"), Phrase("lerp slerp"))),
    (
        "derp AND lerp slerp orA OR orB last",
        Or.of(
            And.of(T("derp"), T("lerp")),
            T("slerp"),
            Or.of(T("orA"), T("orB")),
            T("last"),
        ),
    ),
    (
        "derp OR lerp slerp andA AND andB last",
        Or.of(
            Or.of(T("derp"), T("lerp")),
            T("slerp"),
            And.of(T("andA"), T("andB")),
            T("last"),
        ),
    ),
    (
        "the cat AND ocean AND ocean2 OR fish",
        Or.of(
            T("the"),
            Or.of(And.of(T("cat"), T("ocean"), T("ocean2")), T("fish")),
        ),
    ),
    ("NOT derp", Not(T("derp"))),
    ("derp AND NOT lerp", And.of(T("derp"), Not(T("lerp")))),
]

GROUPS = [
    # GroupQuerySuite (ParserSuite.scala:418-496)
    ("(The cat jumped)", Group(Or.of(T("The"), T("cat"), T("jumped")))),
    ("(The cat   jumped   )", Group(Or.of(T("The"), T("cat"), T("jumped")))),
    (
        "animals NOT (cats AND dogs)",
        Or.of(T("animals"), Not(Group(And.of(T("cats"), T("dogs"))))),
    ),
    ("title:(cats AND dogs)", Field("title", Group(And.of(T("cats"), T("dogs"))))),
    (
        "title:test AND (pass OR fail)",
        And.of(Field("title", T("test")), Group(Or.of(T("pass"), T("fail")))),
    ),
    (
        "(title:test AND (pass OR fail)) extra",
        Or.of(
            Group(
                And.of(
                    Field("title", T("test")), Group(Or.of(T("pass"), T("fail")))
                )
            ),
            T("extra"),
        ),
    ),
    (
        '(title:test AND (pass OR fail)) AND "extra phrase"',
        And.of(
            Group(
                And.of(
                    Field("title", T("test")), Group(Or.of(T("pass"), T("fail")))
                )
            ),
            Phrase("extra phrase"),
        ),
    ),
]

PUNCTUATION = [
    # PunctuationSuite.scala:21-60
    ("typelevel.com", T("typelevel.com")),
    ("typelevel.com\\/cats", T("typelevel.com/cats")),
    ("cats\\-effect", T("cats-effect")),
    ("first.last@email.com", T("first.last@email.com")),
    ('name:"cats-effect"', Field("name", Phrase("cats-effect"))),
    ('"the cat said \\"meow\\" loudly"', Phrase('the cat said "meow" loudly')),
    ('"This is a blackslash: \\\\, wow!"', Phrase("This is a blackslash: \\, wow!")),
]

REGEX = [
    # RegexSuite.scala:20-49
    ("/jump.*/", TermRegex("jump.*")),
    ("/hi{1,5}/", TermRegex("hi{1,5}")),
    ("(/jump.*/ /.ouse/)", Group(Or.of(TermRegex("jump.*"), TermRegex(".ouse")))),
    ("/home\\/.*/", TermRegex("home\\/.*")),
]

WILDCARDS = [
    # WildCardParserSuite.scala:22-144
    ("cat?", WC(S("cat"), SC)),
    ("cat*", Prefix("cat")),
    ("?cat", WC(SC, S("cat"))),
    ("*cat", WC(MC, S("cat"))),
    ("?cat?", WC(SC, S("cat"), SC)),
    ("?cat*", WC(SC, S("cat"), MC)),
    ("*cat?", WC(MC, S("cat"), SC)),
    ("*cat*", WC(MC, S("cat"), MC)),
    ("cat*tail", WC(S("cat"), MC, S("tail"))),
    ("cat?tail", WC(S("cat"), SC, S("tail"))),
    ("(cat?)", Group(WC(S("cat"), SC))),
    ("(cat*)", Group(Prefix("cat"))),
    ("(?cat)", Group(WC(SC, S("cat")))),
    ("(*cat)", Group(WC(MC, S("cat")))),
    ("(cat*tail)", Group(WC(S("cat"), MC, S("tail")))),
    ("(cat?tail)", Group(WC(S("cat"), SC, S("tail")))),
    ("cat?^2", Boost(WC(S("cat"), SC), 2.0)),
    ("cat*^2", Boost(Prefix("cat"), 2.0)),
    ("?cat^2", Boost(WC(SC, S("cat")), 2.0)),
    ("*cat^2", Boost(WC(MC, S("cat")), 2.0)),
    ("cat*tail^2", Boost(WC(S("cat"), MC, S("tail")), 2.0)),
    ("cat?tail^2", Boost(WC(S("cat"), SC, S("tail")), 2.0)),
]

STANDARD_DOCS = [
    # StandardQueryParserDocsSuite.scala:23-268 (Lucene docs examples)
    ("test", T("test")),
    ("test equipment", Or.of(T("test"), T("equipment"))),
    ('"test failure"~4', Proximity("test failure", 4)),
    ("tes*", Prefix("tes")),
    ("/.est(s|ing)/", TermRegex(".est(s|ing)")),
    ("nest~4", Fuzzy("nest", 4)),
    ("title:test", Field("title", T("test"))),
    ("title:(die OR hard)", Field("title", Group(Or.of(T("die"), T("hard"))))),
    ("test AND results", And.of(T("test"), T("results"))),
    (
        "title:test AND NOT title:complete",
        And.of(Field("title", T("test")), Not(Field("title", T("complete")))),
    ),
    (
        "title:test AND (pass* OR fail*)",
        And.of(Field("title", T("test")), Group(Or.of(Prefix("pass"), Prefix("fail")))),
    ),
    (
        "title:(pass fail skip)",
        Field("title", Group(Or.of(T("pass"), T("fail"), T("skip")))),
    ),
    (
        'title:(+test +"result unknown")',
        Field(
            "title",
            Group(Or.of(UnaryPlus(T("test")), UnaryPlus(Phrase("result unknown")))),
        ),
    ),
    ("name:[Jones TO Smith]", Field("name", TermRange("Jones", "Smith", True, True))),
    ("score:{2.5 TO 7.3}", Field("score", TermRange("2.5", "7.3", False, False))),
    ("score:{2.5 TO *]", Field("score", TermRange("2.5", None, False, True))),
    (
        "jones^2 OR smith^0.5",
        Or.of(Boost(T("jones"), 2.0), Boost(T("smith"), 0.5)),
    ),
    (
        "field:(a OR b NOT c)^2.5 OR field:d",
        Or.of(
            Field("field", Boost(Group(Or.of(Or.of(T("a"), T("b")), Not(T("c")))), 2.5)),
            Field("field", T("d")),
        ),
    ),
    (
        "(blue crab fish)@2",
        MinimumMatch((T("blue"), T("crab"), T("fish")), 2),
    ),
    (
        "((yellow OR blue) crab fish)@2",
        MinimumMatch(
            (Group(Or.of(T("yellow"), T("blue"))), T("crab"), T("fish")), 2
        ),
    ),
]

ALL_OK = (
    SINGLE_SIMPLE
    + MULTI_SIMPLE
    + SUFFIX_OPS
    + GROUPS
    + PUNCTUATION
    + REGEX
    + WILDCARDS
    + STANDARD_DOCS
)


@pytest.mark.parametrize("query,expected", ALL_OK, ids=[q for q, _ in ALL_OK])
def test_parse_ok(query, expected):
    assert parse(query) == expected


PARSE_OK_ONLY = [
    # must parse, AST unspecified by the reference test
    "\\:\\(quoted\\+term\\)\\:",  # StandardQueryParserDocsSuite.scala:222-225
    "fn:ordered(quick brown fox)",  # :257-260
    "title:fn:maxwidth(5 fn:atLeast(2 quick brown fox))",  # :263-266
]


@pytest.mark.parametrize("query", PARSE_OK_ONLY)
def test_parse_is_right(query):
    parse(query)  # must not raise


PARSE_ERRORS = [
    # error cases from ParserSuite / MultiSimpleQuerySuite / RegexSuite
    "AND:cat",  # reserved field name (ParserSuite.scala:107-110)
    '"AND":cat',  # quoted field name (:112-115)
    "fieldName42:cat42^3.1f",  # trailing 'f' on boost (:147-150)
    "fieldName42:cat42^3.1d",  # trailing 'd' on boost (:152-155)
    '"derp lerp"~3.2',  # decimal proximity (:196-199)
    "derp~3.2",  # decimal fuzzy (:211-214)
    "OR",  # bare operators (:251-259)
    "AND",
    "cat OR",  # trailing ops (:261-279)
    "cat AND",
    "cat OR ",
    "cat AND ",
    "/jump.*",  # unterminated regex (RegexSuite.scala:29-32)
    "a^²",  # non-ASCII digit: a boost needs decimal digits
]


@pytest.mark.parametrize("query", PARSE_ERRORS)
def test_parse_errors(query, ):
    with pytest.raises(ParseError):
        parse(query)


def test_superscript_digit_is_not_a_number():
    # '²' is str.isdigit but not a decimal digit: the number parsers
    # stop before it, so the boost has no digits (ParseError with an
    # offset) and '~' is a bare fuzzy followed by the term '²', just
    # as for any other non-digit
    with pytest.raises(ParseError) as e:
        parse("a^²")
    assert e.value.offset == 2
    assert parse("a~²") == parse("a~ ²") == Or(
        (Fuzzy("a", None), Term("²"))
    )
