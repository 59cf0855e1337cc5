"""Differential test of ``SelectorSequence.select`` against the reference's
recursive shape (selector.cr:74-101), embedded below as the oracle.

Results compare by node identity, each node mapped to its pre-order index,
so order and every duplicate count: the reference dedups only the top node
of each ``select`` call, and matches accumulated across selector groups or
across the descendant combinator's starting nodes repeat."""

import json
import pathlib

import pytest

from crystal_html5_spark.html5x import css as C
from crystal_html5_spark.html5x.parser import parse

FIXTURES = pathlib.Path(__file__).parent / "fixtures"
CASES = json.loads((FIXTURES / "css_selector_tests.json").read_text())

# Nested divs, several h2 siblings and repeated p: every descendant-walk
# shape that yields duplicates or exercises the top-node dedup.
HAND_PAGE = (
    "<div id=a><h2>h</h2><p>1</p>"
    "<div id=b><p>2</p><div id=c><p>3</p><h2>i</h2><p>4</p><p>5</p></div>"
    "<p>6</p><h2>j</h2><p>7</p></div>"
    "<h2>k</h2><p>8</p><p>9</p></div><p>10</p>"
)

PAGES = sorted({c["html"] for c in CASES}) + [HAND_PAGE]
SELECTORS = sorted({c["sel"] for c in CASES}) + [
    "div p", "div div p", "p, p", "* *", "h2 ~ p, p", "body > * p",
]


def _oracle_select(self, n, selected):
    """The recursive evaluation this module's walk replaced."""
    if all(m.matches(n) for m in self.matchers) and not C._node_in(selected, n):
        selected.append(n)
    c = n.first_child
    while c is not None:
        if all(m.matches(c) for m in self.matchers):
            selected.append(c)
        selected = _oracle_select(self, c, selected)
        c = c.next_sibling
    return selected


def _preorder_index(doc):
    index = {}
    stack = [doc]
    while stack:
        n = stack.pop()
        index[id(n)] = len(index)
        kids = []
        c = n.first_child
        while c is not None:
            kids.append(c)
            c = c.next_sibling
        stack.extend(reversed(kids))
    return index


def _both(monkeypatch, run, doc):
    """(oracle, walk) results of ``run(doc)`` as pre-order indexes."""
    index = _preorder_index(doc)
    got = [index[id(n)] for n in run(doc)]
    with monkeypatch.context() as m:
        m.setattr(C.SelectorSequence, "select", _oracle_select)
        want = [index[id(n)] for n in run(doc)]
    return want, got


@pytest.mark.parametrize("expr", SELECTORS)
def test_walk_matches_recursive_oracle(monkeypatch, expr):
    sel = C.compile_selector(expr)
    for html in PAGES:
        want, got = _both(monkeypatch, sel.select, parse(html))
        assert got == want, (expr, html)


def test_scope_from_inner_element_matches_oracle(monkeypatch):
    doc = parse(HAND_PAGE)
    for div in C.css(doc, "div"):
        want, got = _both(monkeypatch, lambda _: C.css(div, ":scope p"), doc)
        assert got == want, div["id"]
        assert got


def test_hand_page_exercises_duplicates(monkeypatch):
    # Guards the fixture: were "div p" free of repeats here, the test
    # above could not tell a deduplicating walk from the reference.
    want, _ = _both(monkeypatch, C.compile_selector("div p").select,
                    parse(HAND_PAGE))
    assert len(want) > len(set(want))
