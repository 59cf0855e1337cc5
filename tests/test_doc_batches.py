"""The per-row Arrow operator (extract_job.doc_batches), driven with
plain pyarrow batches: no Spark session."""

import datetime as dt

import pyarrow as pa
import pytest

from crystal_html5_spark.sparkjob import extract_job
from crystal_html5_spark.sparkjob.extract_job import doc_batches

DDL = "url string, warc_ts timestamp, n long, tag string"


def _batch(rows):
    """rows: (url, ts seconds, html) -> one input batch."""
    urls, tss, htmls = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()),
         pa.array([dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
                   for s in tss], pa.timestamp("us")),
         pa.array(htmls, pa.binary())],
        names=["url", "warc_ts", "html"],
    )


def _run(fn, batches):
    out = list(fn(iter(batches)))
    for b in out:
        assert b.schema.names == ["url", "warc_ts", "n", "tag"]
        assert b.schema.types[2:] == [pa.int64(), pa.string()]
    return out


def _rows(out):
    return pa.Table.from_batches(out).to_pylist() if out else []


def _length(html):
    return [(len(html), html.decode())]


def test_latest_only_spans_input_batches():
    first = _batch([("a", 9, b"a9"), ("b", 8, b"b8"), ("b", 7, b"b7")])
    second = _batch([("b", 6, b"b6"), ("c", 5, b"c5"), ("c", 4, b"c4")])
    out = _run(doc_batches(_length, DDL, latest_only=True), [first, second])
    assert [(r["url"], r["tag"]) for r in _rows(out)] == [
        ("a", "a9"), ("b", "b8"), ("c", "c5")]
    every = _run(doc_batches(_length, DDL), [first, second])
    assert len(_rows(every)) == 6


def test_raising_per_doc_emits_fallback_and_goes_on():
    def per_doc(html):
        if html == b"bad":
            raise ValueError("malformed")
        return _length(html)

    batch = _batch([("a", 1, b"ok"), ("b", 2, b"bad"), ("c", 3, b"fine")])
    fn = doc_batches(per_doc, DDL, fallback=[(-1, None), (-2, "x")])
    assert [(r["url"], r["n"], r["tag"]) for r in _rows(_run(fn, [batch]))] \
        == [("a", 2, "ok"), ("b", -1, None), ("b", -2, "x"),
            ("c", 4, "fine")]
    # With an empty fallback a failing page simply yields nothing.
    assert [r["url"] for r in _rows(_run(
        doc_batches(per_doc, DDL, fallback=()), [batch]))] == ["a", "c"]


def test_raising_per_doc_fails_without_fallback():
    def per_doc(html):
        if html == b"bad":
            raise ValueError("malformed")
        return _length(html)

    batch = _batch([("a", 1, b"ok"), ("b", 2, b"bad")])
    with pytest.raises(ValueError, match="malformed"):
        _run(doc_batches(per_doc, DDL), [batch])


def test_raising_per_doc_fails_on_a_later_input_batch():
    def per_doc(html):
        if html == b"bad":
            raise KeyError("missing")
        return _length(html)

    fn = doc_batches(per_doc, DDL)(iter([
        _batch([("a", 1, b"ok")]), _batch([("b", 2, b"bad")])]))
    assert next(fn).to_pylist()[0]["tag"] == "ok"
    with pytest.raises(KeyError):
        next(fn)


def test_byte_cap_splits_batches_row_for_row(monkeypatch):
    batch = _batch([(f"u{i}", i, b"x" * (40 + i)) for i in range(30)])
    uncapped = _run(doc_batches(_length, DDL), [batch])
    assert len(uncapped) == 1
    monkeypatch.setattr(extract_job, "_TARGET_OUT_BATCH_BYTES", 300)
    capped = _run(doc_batches(_length, DDL), [batch])
    assert len(capped) > 3
    assert all(b.num_rows < 30 for b in capped)
    assert pa.Table.from_batches(capped).equals(
        pa.Table.from_batches(uncapped))


def test_multi_row_output_repeats_pass_through():
    def per_char(html):
        return [(i, chr(c)) for i, c in enumerate(html)]

    batch = _batch([("a", 1, b"xyz"), ("b", 2, b""), ("c", 3, b"pq")])
    out = _run(doc_batches(per_char, DDL), [batch])
    table = pa.Table.from_batches(out)
    assert table.column("url").to_pylist() == ["a", "a", "a", "c", "c"]
    ts = batch.column("warc_ts")
    assert table.column("warc_ts").to_pylist() == [
        ts[0].as_py()] * 3 + [ts[2].as_py()] * 2
    assert table.schema.field("warc_ts").type == ts.type
    assert table.column("tag").to_pylist() == ["x", "y", "z", "p", "q"]


def test_none_html_reaches_per_doc_as_empty_bytes():
    seen = []

    def per_doc(html):
        seen.append(html)
        return _length(html)

    batch = _batch([("a", 1, None), ("b", 2, b"ab")])
    out = _run(doc_batches(per_doc, DDL), [batch])
    assert seen == [b"", b"ab"]
    assert [r["n"] for r in _rows(out)] == [0, 2]


def test_other_inputs_pass_through_and_computed_columns():
    """The file-reader shape: per-row values from a non-html column, a
    DDL column that is also an input column (doc_id) passed through,
    and url/warc_ts computed although the input has no such columns."""
    when = dt.datetime(2024, 5, 6, 7, 8, 9)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([7, 9], pa.int64()), pa.array([b"p|q", b"r"]),
         pa.array(["x", "y"])],
        names=["doc_id", "content", "unused"],
    )

    def records(content):
        return [(f"u:{part.decode()}", when)
                for part in content.split(b"|")]

    ddl = "doc_id long, url string, warc_ts timestamp"
    out = list(doc_batches(records, ddl, inputs=("content",))(
        iter([batch])))
    assert out[0].schema == pa.schema([("doc_id", pa.int64()),
                                       ("url", pa.string()),
                                       ("warc_ts", pa.timestamp("us"))])
    assert _rows(out) == [
        {"doc_id": 7, "url": "u:p", "warc_ts": when},
        {"doc_id": 7, "url": "u:q", "warc_ts": when},
        {"doc_id": 9, "url": "u:r", "warc_ts": when}]


def test_null_becomes_empty_bytes_only_in_binary_inputs():
    seen = []

    def per_row(blob, label, n):
        seen.append((blob, label, n))
        return [(len(blob),)]

    batch = pa.RecordBatch.from_arrays(
        [pa.array([None, b"ab"], pa.binary()),
         pa.array([None, "s"], pa.string()),
         pa.array([None, 3], pa.int64())],
        names=["blob", "label", "n"],
    )
    out = list(doc_batches(per_row, "size int",
                           inputs=("blob", "label", "n"))(iter([batch])))
    assert seen == [(b"", None, None), (b"ab", "s", 3)]
    assert _rows(out) == [{"size": 0}, {"size": 2}]


def test_url_only_schema_and_int32():
    batch = _batch([("a", 1, b"abc")]).drop_columns(["warc_ts"])
    out = list(doc_batches(lambda h: [(len(h),)], "url string, k int")(
        iter([batch])))
    assert out[0].schema == pa.schema([("url", pa.string()),
                                       ("k", pa.int32())])
    assert out[0].to_pylist() == [{"url": "a", "k": 3}]


def test_unknown_ddl_type_fails_at_build_time():
    with pytest.raises(KeyError):
        doc_batches(_length, "url string, d date")
