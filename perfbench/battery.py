"""Per-document work of the benchmark, shared by the Spark jobs and the
in-process reference that checks them.

``select_heavy`` parses each page once and evaluates a fixed battery of
CSS selectors and XPath expressions through the public ``html5x`` calls.
The battery holds the shapes the program's own queries use (``a[href]``,
``//title``, the four ``xpath_stats_over`` expressions and
``SELECTOR_POLICY_WITH_H2``) plus sibling, positional, negation and
attribute-prefix shapes, so query evaluation outweighs parsing.
"""

from __future__ import annotations

import hashlib

from crystal_html5_spark.html5x.extract import SELECTOR_POLICY_WITH_H2

from perfbench.trace import NullSpans, Spans, timed_batches

CSS_BATTERY = (
    "a[href]",
    SELECTOR_POLICY_WITH_H2,
    "p:nth-child(2n+1)",
    "p:not(.lead) a",
    "a[href^='/ref/']",
    "ul.toc > li:first-child a",
    "h2 ~ p",
    "h2 + p",
    "td:last-child",
    "img[alt]",
    ":empty",
    "table.data tr td:nth-of-type(2)",
    "body > * p",
    "nav a, footer a",
)

# (kind, expression): kind s = xpath_string, f = xpath_float,
# n = xpath_nodes.
XPATH_BATTERY = (
    ("s", "//title"),
    ("s", "normalize-space(//title)"),
    ("f", "count(//article//a[contains(@href, '/ref/')])"),
    ("s", "string(//nav//a[1]/@href)"),
    ("f", "count(//p[string-length(normalize-space()) > 0])"),
    ("n", "//a/@href"),
    ("f", "count(//*)"),
    ("n", "//h2/following-sibling::p[1]"),
    ("f", "sum(//table//td[2])"),
    ("n", "//li[last()]"),
    ("f", "count(//text()[normalize-space()])"),
    ("n", "//ul[@class='toc']/li[position() <= 2]//a"),
    ("f", "string-length(string(//article))"),
    ("n", "//p[a][not(@class)]"),
    ("s", "substring-before(//img/@alt, ' ')"),
)

SELECT_SCHEMA_DDL = "url string, warc_ts timestamp, digest string"


def compile_battery() -> list:
    from crystal_html5_spark.html5x.css import compile_selector

    return [compile_selector(s) for s in CSS_BATTERY]


def battery_digest(html: bytes, selectors: list, rec=NullSpans()) -> str:
    """Parse once, run the battery, return a sha256 over every result.
    A page the parser rejects digests its error class instead."""
    from crystal_html5_spark.html5x import xpath as X
    from crystal_html5_spark.html5x.parser import parse

    evals = {"s": X.xpath_string, "f": X.xpath_float, "n": X.xpath_nodes}
    h = hashlib.sha256()
    try:
        with rec.span("html5x.parser.parse"):
            doc = parse(html)
        with rec.span("html5x.css.select"):
            for sel in selectors:
                found = sel.select(doc)
                rec.count("css.matches", len(found))
                h.update(f"{len(found)}:{found[0].data if found else ''};"
                         .encode("utf-8", "surrogateescape"))
        with rec.span("html5x.xpath.eval"):
            for kind, expr in XPATH_BATTERY:
                r = evals[kind](doc, expr)
                if kind == "n":
                    rec.count("xpath.results", len(r))
                    r = len(r)
                else:
                    rec.count("xpath.results")
                h.update(f"{r!r};".encode("utf-8", "surrogateescape"))
    except Exception as ex:  # noqa: BLE001 — same policy in job and reference
        return f"error:{type(ex).__name__}"
    return h.hexdigest()


def make_select_fn(trace_dir: str | None, run_id: str):
    """The ``select_heavy`` mapInArrow function.  Traced and untraced runs
    run the same code; with ``trace_dir`` the recorder keeps spans and
    writes them when the partition ends."""

    def select_batches(iterator):
        rec = Spans(run_id) if trace_dir else NullSpans()
        try:
            yield from timed_batches(lambda batches: _select(batches, rec),
                                     iterator, rec)
        finally:
            rec.dump(trace_dir)

    return select_batches


def _select(batches, rec):
    import pyarrow as pa

    selectors = None
    for batch in batches:
        if selectors is None:
            with rec.span("html5x.css.compile"):
                selectors = compile_battery()
        digests = []
        for h in batch.column("html").to_pylist():
            digests.append(battery_digest(h or b"", selectors, rec))
            rec.count("select.docs")
        yield pa.RecordBatch.from_arrays(
            [batch.column("url"), batch.column("warc_ts"),
             pa.array(digests, pa.string())],
            names=["url", "warc_ts", "digest"])


def extract_reference(htmls: list[bytes]) -> list[tuple[str, int, str]]:
    """(sha256 of text, n_nodes, err) per page, computed in process."""
    from crystal_html5_spark.html5x.extract import extract_document

    out = []
    for html in htmls:
        r = extract_document(html)
        out.append((hashlib.sha256(r["text"]).hexdigest(), r["n_nodes"], r["err"]))
    return out


def select_reference(htmls: list[bytes]) -> list[str]:
    selectors = compile_battery()
    return [battery_digest(h, selectors) for h in htmls]
