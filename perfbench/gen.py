"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (mix, seed): the same seed gives the
same rows byte for byte, so the program only ever receives generated
parquet.  The dimensions the pipeline's behaviour depends on are
explicit fields of ``PageMix`` and ``ResumeMix``:

- doc-size mix: boilerplate article pages of 3-12 KB, html5lib fixture
  pages, edge rows (empty, NUL, CR/LF, broken tables) and oversize rows
  of ``oversize_bytes`` (an article carrying a large text blob, so they
  load the Arrow batches and the tokenizer's text scan);
- host skew: hosts drawn from a Zipf law with exponent ``zipf_s``;
- recapture rate: a share of urls gets a second, later capture, which the
  latest-capture dedup must drop;
- done-versus-delta share (``ResumeMix``): the share of the resume table
  that is not yet in the sink.

Kinds and recaptures are assigned by exact quotas and a seeded shuffle
rather than per-row coin flips, so the amount of work does not drift with
the seed; only which rows get which kind does.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import pathlib
import random
from dataclasses import dataclass, replace

ROOT = pathlib.Path(__file__).resolve().parents[1]
FIXTURES = ROOT / "tests" / "fixtures"

BASE_TS = dt.datetime(2024, 1, 1)
RECAPTURE_AFTER = dt.timedelta(days=3)

_SENTENCES = (
    "London is the capital city of England.",
    "It is the most populous city in the United Kingdom.",
    "Standing on the River Thames, London has been a major settlement"
    " for two millennia.",
    "The city's history goes back to its founding by the Romans.",
    "A metropolitan area of over 13 million inhabitants surrounds it.",
    "Entities like &amp; and &lt; must decode correctly.",
    "Numeric references such as &#169; and &#x2603; appear in real pages.",
    "Café owners on the <em>South Bank</em> open at dawn.",
    "Read the <a href='/faq'>FAQ</a> or <b>contact</b> the editors.",
)

EDGE_ROWS = (
    b"",
    b"<p>NUL\x00 byte</p>",
    b"<p>line one\r\nline two\rline three</p>",
    b"<pre>\nleading newline</pre>",
    b"<table><tr><td>unclosed<td>cells</table><p>after",
)


@dataclass(frozen=True)
class PageMix:
    """Shape of one crawl table; every share is of ``n_urls``."""

    n_urls: int
    n_hosts: int = 997
    zipf_s: float = 1.1
    recapture_share: float = 0.10
    fixture_share: float = 0.30
    edge_share: float = 0.01
    oversize_share: float = 0.005
    oversize_bytes: int = 256 * 1024


@dataclass(frozen=True)
class ResumeMix:
    """A base crawl already in the sink plus a delta of unseen captures.

    ``delta_share`` is the share of the resume table's rows that are not
    done; ``new_url_share`` splits the delta between urls never seen
    before and later captures of base urls."""

    base: PageMix
    delta_share: float = 0.20
    new_url_share: float = 0.5


def fixture_pages() -> list[bytes]:
    """Whole-document inputs of the html5lib tokenizer and tree suites,
    in a fixed order.  Raises when the fixtures are missing: silently
    generating another mix would change what is measured."""
    tok = FIXTURES / "token_tests.json"
    dats = sorted(FIXTURES.glob("treedata*/*.dat"))
    if not tok.is_file() or not dats:
        raise FileNotFoundError(f"html5lib fixtures not found under {FIXTURES}")
    out = [c["html"].encode("utf-8") for c in json.loads(tok.read_text())]
    for f in dats:
        for case in f.read_text(encoding="utf-8").split("#data\n")[1:]:
            data, sep, rest = case.partition("\n#errors")
            if sep and "#document-fragment" not in rest:
                out.append(data.encode("utf-8"))
    return out


def article_page(rng: random.Random, i: int, n_paras: int) -> bytes:
    """An article wrapped in nav/header/aside/footer/script boilerplate,
    with the classes, lists and tables real pages carry."""
    paras = []
    for p in range(n_paras):
        if p % 5 == 0:
            paras.append(f"<h2 id='s{p}'>Section {p}</h2>")
        sents = " ".join(rng.choices(_SENTENCES, k=2 + rng.randrange(9)))
        cls = " class='lead'" if p == 0 else ""
        paras.append(f"<p{cls}>{sents} <a href='/ref/{i}/{p}'>source</a></p>")
        if p % 7 == 3:
            items = "".join(f"<li><a href='#s{k}'>item {k}</a></li>"
                            for k in range(2 + rng.randrange(5)))
            paras.append(f"<ul class='toc'>{items}</ul>")
        if p % 9 == 4:
            cells = "".join(f"<tr><td>{k}</td><td>{rng.randrange(1000)}</td></tr>"
                            for k in range(2 + rng.randrange(6)))
            paras.append(f"<table class='data'>{cells}</table>")
    body = "\n".join(paras)
    return (
        f"<!DOCTYPE html><html lang='en'><head><meta charset='utf-8'>"
        f"<title>Page {i}</title>"
        f"<style>body {{ color: #000; }}</style>"
        f"<script>var x = 1 < 2 && 3 > 2; // <not a tag></script></head>"
        f"<body><header><h1>Site {i % 7}</h1></header>"
        f"<nav><ul class='menu'><li><a href='/a{i}'>A</a></li>"
        f"<li><a href='/b{i}'>B</a></li><li><a href='/c'>C</a></li></ul></nav>"
        f"<div class='main'><article>{body}"
        f"<img src='/img/{i}.png' alt='figure {i}'></article></div>"
        f"<aside class='related'>Related link {i}</aside>"
        f"<footer><p>Copyright &copy; {2000 + i % 26}</p></footer>"
        f"</body></html>"
    ).encode("utf-8")


def oversize_page(rng: random.Random, i: int, target: int) -> bytes:
    """An article carrying a text blob (a log or data dump in ``<pre>``)
    that grows it past ``target`` bytes: large in bytes, modest in nodes."""
    page = article_page(rng, i, 4 + rng.randrange(18))
    line = " ".join(rng.choices(_SENTENCES[:5], k=3)).encode() + b"\n"
    blob = b"<pre>" + line * (target // len(line) + 1) + b"</pre>"
    return page.replace(b"</article>", blob + b"</article>", 1)


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, cdf = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        cdf.append(acc)
    return [c / acc for c in cdf]


def _quota_kinds(rng: random.Random, mix: PageMix) -> list[str]:
    n = mix.n_urls
    counts = {
        "edge": round(n * mix.edge_share),
        "oversize": round(n * mix.oversize_share),
        "fixture": round(n * mix.fixture_share),
    }
    kinds = [k for k, c in counts.items() for _ in range(c)]
    kinds += ["article"] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def crawl_rows(mix: PageMix, seed: int, url_prefix: str = "p",
               first_index: int = 0) -> list[tuple]:
    """(url, warc_ts, html) rows; recaptured urls get a second row three
    days later whose markup differs, so dedup picking the wrong capture
    changes the extracted text."""
    rng = random.Random(f"{seed}/{url_prefix}")
    fixtures = fixture_pages()
    cdf = _zipf_cdf(mix.n_hosts, mix.zipf_s)
    kinds = _quota_kinds(rng, mix)
    recaptured = set(rng.sample(range(mix.n_urls),
                                round(mix.n_urls * mix.recapture_share)))
    rows: list[tuple] = []
    for j, kind in enumerate(kinds):
        i = first_index + j
        host = bisect.bisect_left(cdf, rng.random())
        url = f"https://host{host}.example/{url_prefix}/{i}"
        ts = BASE_TS + dt.timedelta(seconds=i * 37)
        if kind == "edge":
            html = EDGE_ROWS[rng.randrange(len(EDGE_ROWS))]
        elif kind == "oversize":
            html = oversize_page(rng, i, mix.oversize_bytes)
        elif kind == "fixture":
            html = fixtures[rng.randrange(len(fixtures))] + f"<!-- page {i} -->".encode()
        else:
            html = article_page(rng, i, 4 + rng.randrange(18))
        rows.append((url, ts, html))
        if j in recaptured:
            rows.append((url, ts + RECAPTURE_AFTER, recapture_of(html)))
    return rows


def recapture_of(html: bytes) -> bytes:
    return html + b"<p>Updated on recrawl.</p>"


def resume_rows(mix: ResumeMix, seed: int) -> tuple[list[tuple], list[tuple]]:
    """(base, table): ``base`` is the crawl already extracted into the
    sink; ``table`` is base plus a delta making up ``delta_share`` of it
    (later captures of base urls and captures of new urls)."""
    base = crawl_rows(replace(mix.base, recapture_share=0.0), seed)
    n_delta = round(len(base) * mix.delta_share / (1.0 - mix.delta_share))
    n_new = round(n_delta * mix.new_url_share)
    rng = random.Random(f"{seed}/delta")
    recaps = [(u, ts + RECAPTURE_AFTER, recapture_of(h))
              for u, ts, h in rng.sample(base, n_delta - n_new)]
    new = crawl_rows(replace(mix.base, n_urls=n_new, recapture_share=0.0),
                     seed, url_prefix="new", first_index=len(base))
    return base, base + recaps + new


def rows_digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for url, ts, html in rows:
        h.update(url.encode())
        h.update(ts.isoformat().encode())
        h.update(len(html).to_bytes(8, "little"))
        h.update(html)
    return h.hexdigest()


def write_parquet(rows: list[tuple], out_dir: pathlib.Path,
                  rows_per_file: int = 256) -> None:
    """Write rows as parquet, ``rows_per_file`` rows per file (one row
    group each), so small tables still give every core a scan split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=False)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary())])
    for fi, start in enumerate(range(0, len(rows), rows_per_file)):
        urls, tss, htmls = zip(*rows[start:start + rows_per_file])
        table = pa.Table.from_arrays(
            [pa.array(urls, pa.string()), pa.array(tss, pa.timestamp("us")),
             pa.array(htmls, pa.binary())], schema=schema)
        pq.write_table(table, out_dir / f"part-{fi:05d}.parquet")


def latest_captures(rows: list[tuple]) -> dict[str, tuple]:
    """url -> its latest (url, warc_ts, html) row."""
    latest: dict[str, tuple] = {}
    for r in rows:
        cur = latest.get(r[0])
        if cur is None or r[1] > cur[1]:
            latest[r[0]] = r
    return latest
