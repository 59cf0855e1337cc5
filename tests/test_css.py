"""CSS selector tests.

Fixture provenance: re-encoded from /root/reference/spec/css/compile_spec.cr
("extensive selector test", 65 cases incl. nth-forms, attr operators,
:contains/:containsOwn/:input/:root) and spec/css/selector_spec.cr
(:scope MDN example, combinator unit cases)."""

import json
import pathlib

import pytest

from crystal_html5_spark.html5x import css as C
from crystal_html5_spark.html5x.parser import parse

FIXTURES = pathlib.Path(__file__).parent / "fixtures"
CASES = json.loads((FIXTURES / "css_selector_tests.json").read_text())


@pytest.mark.parametrize(
    "case", CASES, ids=[f"{i}:{c['sel']}" for i, c in enumerate(CASES)]
)
def test_extensive_selectors(case):
    doc = parse(case["html"])
    sel = C.compile_selector(case["sel"])
    selected = sel.select(doc)
    got = [n.to_html(True) for n in selected]
    assert got == case["want"], f"selector={case['sel']!r}"


def test_combinator_units():
    # selector_spec.cr "Test Selector" / "Test Selector 2" / "Test Matcher"
    html = (
        "<span>This is not red.</span>\n"
        "\t\t\t<p>Here is a paragraph.</p>\n"
        "\t\t\t<code>Here is some code.</code>\n"
        "\t\t\t<span>And here is a span.</span>\n"
        '      <span>And another span.</span>'
    )
    doc = parse(html)
    sel = C.SelectorImpl(C.SelectorSequence([C.TypeSelector("p")]))
    sel.combs.append(
        C.CombinatorSelector(C.TILDE, C.SelectorSequence([C.TypeSelector("span")]))
    )
    got = [n.to_html(True) for n in sel.select(doc, [])]
    assert got == [
        "<span>And here is a span.</span>",
        "<span>And another span.</span>",
    ]

    doc = parse("<div><p>foo</p><span><p>bar</p></span></div>")
    sel = C.SelectorImpl(C.SelectorSequence([C.TypeSelector("div")]))
    sel.combs.append(
        C.CombinatorSelector(C.SPACE, C.SelectorSequence([C.Universal()]))
    )
    got = [n.to_html(True) for n in sel.select(doc, [])]
    assert got == ["<p>foo</p>", "<span><p>bar</p></span>", "<p>bar</p>"]


def test_matcher_units():
    cases = [
        ('<p><a id="foo"></a></p>', ['<a id="foo"></a>'],
         [C.AttrMatcher("id", "foo")]),
        ('<p><a id="bar"></a></p>', [], [C.AttrMatcher("id", "foo")]),
        ('<p><a class="bar"></a></p>', ['<a class="bar"></a>'],
         [C.AttrMatcher("class", "bar")]),
        ('<p><a id="foo"></a><a></a></p>',
         ['<a id="foo"></a>', "<a></a>"], [C.TypeSelector("a")]),
        ("<p><foobar></foobar></p>", ["<foobar></foobar>"],
         [C.TypeSelector("foobar")]),
        ('<p><a id="foo"></a><a></a></p>', ['<a id="foo"></a>'],
         [C.TypeSelector("a"), C.NthChildPseudo(0, 1)]),
    ]
    for html, want, matchers in cases:
        doc = parse(html)
        got = [
            n.to_html(True)
            for n in C.SelectorSequence(matchers).select(doc, [])
        ]
        assert got == want, html


def test_scope_pseudo():
    cases = [
        ('<div id="root"><p>child</p><span>other</span></div>', "#root",
         ":scope", ['<div id="root"><p>child</p><span>other</span></div>']),
        ('<div id="root"><p>child</p><span>other</span></div>', "#root",
         ":scope > p", ["<p>child</p>"]),
        ('<div id="root"><p>child</p><span>other</span></div>', "#root",
         ":scope > *", ["<p>child</p>", "<span>other</span>"]),
        ('<div id="root"><div><p>nested</p></div></div>', "#root",
         ":scope p", ["<p>nested</p>"]),
    ]
    for html, root_sel, scope_sel, want in cases:
        doc = parse(html)
        root = C.css(doc, root_sel)[0]
        got = [n.to_html(True) for n in C.css(root, scope_sel)]
        assert got == want, (root_sel, scope_sel)


def test_scope_mdn_example():
    html = (
        '<div id="context">'
        '<div id="element-1">'
        '<div id="element-1-1"></div><div id="element-1-2"></div></div>'
        '<div id="element-2"><div id="element-2-1"></div></div></div>'
    )
    doc = parse(html)
    context = C.css(doc, "#context")[0]
    selected = C.css(context, ":scope > div")
    ids = [n["id"] for n in selected]
    assert ids == ["element-1", "element-2"]
    scope_match = C.css(context, ":scope")
    assert len(scope_match) == 1 and scope_match[0] is context
    assert len(C.css(context, "div")) > len(selected)


def test_parse_nth():
    cases = {
        "-2n-2": (-2, -2, True),
        "-2n+2": (-2, 2, True),
        "-80n+100": (-80, 100, True),
        "+80n+100": (80, 100, True),
        "80n+100": (80, 100, True),
        "-23n": (-23, 0, False),
    }
    for s, want in cases.items():
        assert C._parse_nth(s) == want, s
    for bad in (" 80n+100 ", "80n+100 ", " 80n+100", "foobar"):
        with pytest.raises(C.SyntaxError_):
            C._parse_nth(bad)


def test_deep_nesting_selects_without_recursion():
    from crystal_html5_spark.html5x import extract

    depth = 5000
    doc = parse("<div>" * depth + "<p>x</p>" + "</div>" * depth)
    for expr in ("p", "body p"):
        found = C.compile_selector(expr).select(doc)
        assert [n.data for n in found] == ["p"], expr
    assert extract.main_text_selector(doc) == "x"
    # "div p" is left out on purpose: by reference semantics the
    # descendant combinator walks from every one of the 5,000 divs and
    # returns 4,999 duplicates of the p, in time quadratic in depth.


def test_scope_free_compile_is_memoized():
    assert C.compile_selector("div > p.lead") is C.compile_selector("div > p.lead")
    doc = parse('<div id="a"><p>1</p></div><div id="b"><p>2</p><p>3</p></div>')
    a, b = C.css(doc, "div")
    assert [n.first_child.data for n in C.css(a, ":scope p")] == ["1"]
    assert [n.first_child.data for n in C.css(b, ":scope p")] == ["2", "3"]


def test_at_most_three_compounds():
    doc = parse("<div><article><p><a>x</a></p></article></div>")
    assert [n.data for n in C.compile_selector("div article p").select(doc)] \
        == ["p"]
    # A fourth whitespace-separated compound is rejected, as in the
    # reference: Compiler.compile_selector's ``combination`` flag (after
    # compile.cr:65-91) admits one bare-IDENT compound after a combinator
    # and clears itself, so the next IDENT ends the selector early.
    for expr in ("div article p a", "div > article p a"):
        with pytest.raises(C.SyntaxError_):
            C.compile_selector(expr)
