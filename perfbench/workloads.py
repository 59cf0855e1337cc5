"""The benchmark's workloads.  Each one generates its inputs from the
seed, runs one action per repetition on Spark, and checks that action's
output against a reference computed in process from the same inputs.

- ``crawl_extract``: the production ``run_extract`` (salted shuffle,
  consecutive-latest dedup, ``mapInArrow``) over a crawl with recaptures.
  Parsing is most of the work: tokenizer and tree-construction changes
  show here.
- ``select_heavy``: a ``mapInArrow`` job of the benchmark's own that
  parses each page once and runs a CSS + XPath battery over it.  Query
  evaluation outweighs parsing and ``extract_job`` is bypassed: css and
  xpath changes show only here.
- ``recrawl_resume``: an incremental crawl.  The sink already holds the
  base crawl; the timed run reads the done keys, extracts the delta of a
  base-plus-recaptures table and writes it with ``write_with_lineage``.
  Only about a fifth of the rows are parsed, so the scan, window dedup,
  anti-join, shuffle, Arrow boundary and sink writes carry the time.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from crystal_html5_spark.sparkjob import io as tableio
from crystal_html5_spark.sparkjob.extract_job import (
    read_done_keys,
    run_extract,
    write_with_lineage,
)

from perfbench import battery, gen
from perfbench.trace import traced_extract


@dataclass
class Rep:
    """What one timed action produced: the rows to check, the documents
    it output and the rows it scanned."""

    rows: list
    docs: int
    scanned: int
    io: dict = field(default_factory=dict)


class Workload:
    """Shared shape of a workload; subclasses set ``name`` and ``mix``."""

    name = ""

    def __init__(self, work, seed: int, nproc: int):
        self.work, self.seed, self.nproc = work, seed, nproc

    def prepare(self, spark) -> None:
        """Untimed set-up that needs Spark, after the inputs exist."""

    def before_rep(self) -> None:
        """Untimed per-repetition set-up."""

    def outcome(self, spark, rows) -> Rep:
        return Rep([tuple(r) for r in rows], len(rows), len(self.rows))

    def check(self, rep: Rep, expected) -> bool:
        return sorted(rep.rows) == expected


def _maybe_traced(trace_dir, run_id):
    return traced_extract(trace_dir, run_id) if trace_dir else nullcontext()


class CrawlExtract(Workload):
    name = "crawl_extract"
    mix = gen.PageMix(n_urls=1500)

    def generate(self, out_dir) -> str:
        self.rows = gen.crawl_rows(self.mix, self.seed)
        self.latest = gen.latest_captures(self.rows)
        gen.write_parquet(self.rows, out_dir)
        self.table = str(out_dir)
        return gen.rows_digest(self.rows)

    def run(self, spark, trace_dir, run_id) -> list:
        with _maybe_traced(trace_dir, run_id):
            df = run_extract(spark, tableio.read_pages(spark, self.table),
                             num_partitions=self.nproc)
        return df.select("url", F.sha2("text", 256), "n_nodes", "err").collect()

    def parsed_htmls(self) -> list[bytes]:
        return [r[2] for r in self.latest.values()]

    def reference(self):
        urls = list(self.latest)
        refs = battery.extract_reference([self.latest[u][2] for u in urls])
        return sorted((u,) + r for u, r in zip(urls, refs))


class SelectHeavy(Workload):
    name = "select_heavy"
    mix = gen.PageMix(n_urls=600)

    def generate(self, out_dir) -> str:
        self.rows = gen.crawl_rows(self.mix, self.seed)
        gen.write_parquet(self.rows, out_dir)
        self.table = str(out_dir)
        return gen.rows_digest(self.rows)

    def run(self, spark, trace_dir, run_id) -> list:
        fn = battery.make_select_fn(trace_dir, run_id)
        # The program's own mapInArrow queries spread a scan with fewer
        # splits than cores the same way.
        pages = tableio.spread_small_scan(
            spark, tableio.read_pages(spark, self.table), self.table)
        return pages.mapInArrow(fn, battery.SELECT_SCHEMA_DDL) \
            .select("url", "digest").collect()

    def parsed_htmls(self) -> list[bytes]:
        return [r[2] for r in self.rows]

    def reference(self):
        refs = battery.select_reference(self.parsed_htmls())
        return sorted((r[0], d) for r, d in zip(self.rows, refs))


class RecrawlResume(Workload):
    name = "recrawl_resume"
    mix = gen.ResumeMix(gen.PageMix(n_urls=1200))

    def __init__(self, work, seed: int, nproc: int):
        super().__init__(work, seed, nproc)
        self.pristine = work / "pristine_sink"
        self.sink = work / "sink"

    def generate(self, out_dir) -> str:
        self.base, self.rows = gen.resume_rows(self.mix, self.seed)
        gen.write_parquet(self.base, out_dir / "base")
        gen.write_parquet(self.rows, out_dir / "table")
        self.table = str(out_dir / "table")
        self.base_table = str(out_dir / "base")
        done = {(u, ts) for u, ts, _ in self.base}
        latest = gen.latest_captures(self.rows)
        self.n_latest = len(latest)
        self.delta = {u: r for u, r in latest.items() if (u, r[1]) not in done}
        return gen.rows_digest(self.rows)

    def prepare(self, spark) -> None:
        """Extract the base crawl into the pristine sink (untimed)."""
        base = run_extract(spark, tableio.read_pages(spark, self.base_table),
                           num_partitions=self.nproc)
        write_with_lineage(base, str(self.pristine))
        self.done_rows = tableio.read_done_keys(spark, str(self.pristine)).count()

    def before_rep(self) -> None:
        shutil.rmtree(self.sink, ignore_errors=True)
        shutil.copytree(self.pristine, self.sink)
        # Write the copy back now, not during the timed run.
        os.sync()

    def run(self, spark, trace_dir, run_id) -> None:
        with _maybe_traced(trace_dir, run_id):
            done = read_done_keys(spark, str(self.sink))
            extracted = run_extract(spark, tableio.read_pages(spark, self.table),
                                    num_partitions=self.nproc, done_keys=done)
        write_with_lineage(extracted, str(self.sink))

    def outcome(self, spark, _rows) -> Rep:
        sink = spark.read.parquet(f"{self.sink}/extracted")
        rows = [tuple(r) for r in sink.select(
            "url", "warc_ts", F.sha2("text", 256), "n_nodes", "err").collect()]
        written = len(rows) - self.done_rows
        return Rep(rows, written, len(self.rows), {
            "io.done_keys_rows": self.done_rows,
            "io.rows_written": written,
            "io.resume_skipped_frac": 1.0 - written / self.n_latest,
        })

    def parsed_htmls(self) -> list[bytes]:
        return [r[2] for r in self.delta.values()]

    def reference(self):
        rows = self.base + list(self.delta.values())
        refs = battery.extract_reference([r[2] for r in rows])
        return sorted((r[0], r[1]) + ref for r, ref in zip(rows, refs))


WORKLOADS = {w.name: w for w in (CrawlExtract, SelectHeavy, RecrawlResume)}
