"""Tiny-size tests of the benchmark itself (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import json

import pytest

from perfbench import gen, run, trace
from perfbench.workloads import WORKLOADS, Rep

TINY = gen.PageMix(n_urls=40, oversize_bytes=4096, edge_share=0.05,
                   oversize_share=0.05)


def tiny_workload(name, tmp_path, seed=5):
    wl = WORKLOADS[name](tmp_path, seed, 2)
    mix = TINY if name != "recrawl_resume" else gen.ResumeMix(TINY)
    wl.mix = mix
    wl.generate(tmp_path / "input")
    return wl


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_check_fails_on_one_corrupted_digest(name, tmp_path):
    wl = tiny_workload(name, tmp_path)
    expected = wl.reference()
    # What a correct Spark run returns, in the order Spark returns it.
    rep = Rep(list(reversed(expected)), len(expected), len(wl.rows))
    assert wl.check(rep, expected)

    bad = list(rep.rows)
    i = len(bad) // 2
    row = list(bad[i])
    digest_col = 1 if name != "recrawl_resume" else 2
    row[digest_col] = "0" * 64
    bad[i] = tuple(row)
    assert not wl.check(dataclasses.replace(rep, rows=bad), expected)


def test_check_fails_on_missing_or_duplicated_row(tmp_path):
    wl = tiny_workload("crawl_extract", tmp_path)
    expected = wl.reference()
    rows = [tuple(r) for r in expected]
    assert not wl.check(Rep(rows[1:], 0, 0), expected)
    assert not wl.check(Rep(rows + rows[:1], 0, 0), expected)


def test_crawl_generator_is_byte_deterministic_per_seed(tmp_path):
    a = gen.crawl_rows(TINY, 7)
    assert a == gen.crawl_rows(TINY, 7)
    assert gen.rows_digest(a) != gen.rows_digest(gen.crawl_rows(TINY, 8))
    gen.write_parquet(a, tmp_path / "a")
    gen.write_parquet(gen.crawl_rows(TINY, 7), tmp_path / "b")
    files_a = sorted((tmp_path / "a").iterdir())
    files_b = sorted((tmp_path / "b").iterdir())
    assert [f.read_bytes() for f in files_a] == [f.read_bytes() for f in files_b]


def test_resume_generator_is_byte_deterministic_per_seed():
    mix = gen.ResumeMix(TINY)
    base, table = gen.resume_rows(mix, 3)
    assert (base, table) == gen.resume_rows(mix, 3)
    assert gen.rows_digest(table) != gen.rows_digest(gen.resume_rows(mix, 4)[1])


def test_generator_honours_the_mix():
    rows = gen.crawl_rows(TINY, 1)
    urls = [r[0] for r in rows]
    assert len(set(urls)) == TINY.n_urls
    assert len(rows) - TINY.n_urls == round(TINY.n_urls * TINY.recapture_share)
    assert sum(len(r[2]) > TINY.oversize_bytes for r in rows) >= round(
        TINY.n_urls * TINY.oversize_share)
    base, table = gen.resume_rows(gen.ResumeMix(TINY, delta_share=0.2), 1)
    assert table[:len(base)] == base
    assert abs((len(table) - len(base)) / len(table) - 0.2) < 0.05


def test_every_metric_is_printed_with_its_unit():
    for units in run.declared_metrics():
        metrics = {name: 1.5 for name in units}
        lines = run.report(metrics, units, attempted=4, failed=0, correct=True)
        for name, unit in units.items():
            assert f"{name} = 1.5 {unit}" in lines
        last = json.loads(lines[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["metrics"] == {n: {"value": 1.5, "unit": u}
                                   for n, u in units.items()}


def test_per_layer_metrics_cover_the_declaration(tmp_path):
    """A traced sample with one span file and a ledger yields a value for
    every per-layer metric BENCHMARK.json declares."""
    rec = trace.Spans("r")
    with rec.span("arrow.udf_batch"):
        with rec.span("arrow.input_wait"):
            pass
        with rec.span("html5x.extract.extract_document"):
            with rec.span("html5x.parser.parse"):
                pass
    rec.count("extract.docs")
    rec.dump(tmp_path)
    ledger_keys = [n for n in run.declared_metrics()[1] if n.startswith("spark.")]
    samples = []
    for traced in (False, True):
        s = run.Sample("timed", len(samples), traced)
        s.wall = 1.0
        s.rep = Rep([], 1, 2)
        s.ledger = {k: 1.0 for k in ledger_keys}
        s.trace_dir = tmp_path
        samples.append(s)
    bench = run.Bench.__new__(run.Bench)
    layers = {n: 0.0 for n in run.declared_metrics()[1]
              if n.startswith(("tokenizer.", "parser."))}
    m = bench.per_layer(samples, layers, {"setup.jvm_s": 1.0, "setup.gen_s": 1.0,
                                          "setup.warmup_s": 1.0})
    assert set(run.declared_metrics()[1]) <= set(m)


def test_self_time_subtracts_direct_children(tmp_path):
    rec = trace.Spans("r")
    rec.rows = [("outer", 0.0, 1.0, -1), ("inner", 0.2, 0.5, 0),
                ("leaf", 0.3, 0.4, 1)]
    rec.dump(tmp_path)
    total, self_ms, _, _ = trace.load_spans(tmp_path)
    assert total["outer"] == pytest.approx(1000.0)
    assert self_ms["outer"] == pytest.approx(700.0)
    assert self_ms["inner"] == pytest.approx(200.0)


def test_size_metric_parsing():
    v = "total (min, med, max (stageId: taskId))\n46.2 MiB (9.3 MiB, 10 MiB)"
    assert trace._size_bytes(v) == pytest.approx(46.2 * (1 << 20))
    assert trace._size_bytes("1,024.0 B") == pytest.approx(1024.0)
