"""Tracing for the benchmark's traced runs.

Three sources, none of which touches the program:

- ``Spans``: an in-memory span log (name, start, end, parent, run id)
  kept by whoever calls into a layer.  Spark Python workers write their
  log once, when their partition's iterator ends; the driver reads the
  files after each action.
- ``traced_extract_fn``: wraps the program's ``mapInArrow`` function and,
  for the duration of one partition, the public calls it makes
  (``extract_document``, ``Parser.parse``), so the Arrow boundary's self
  time is the UDF's time minus the documents' time.
- ``Ledger``: per job group, Spark's own counters from ``statusTracker()``
  and the localhost REST API (``/jobs``, ``/stages``, ``/sql``).
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import statistics
import time
import urllib.request
import uuid
from collections import defaultdict
from contextlib import contextmanager, nullcontext

_NULL = nullcontext()


class NullSpans:
    """Recorder used when tracing is off: same calls, no records."""

    def span(self, name: str):
        return _NULL

    def count(self, name: str, n: int = 1) -> None:
        pass

    def dump(self, trace_dir) -> None:
        pass


class Spans:
    """Spans and counters of one process, kept in memory until ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list = []
        self.counts: dict = defaultdict(int)
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else -1
        idx = len(self.rows)
        self.rows.append(None)
        self._open.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.rows[idx] = (name, t0, time.perf_counter(), parent)
            self._open.pop()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] += n

    def dump(self, trace_dir) -> None:
        path = pathlib.Path(trace_dir) / f"{os.getpid()}-{uuid.uuid4().hex}.json"
        path.write_text(json.dumps({
            "run_id": self.run_id, "spans": self.rows, "counts": self.counts,
        }))


def load_spans(trace_dir) -> tuple[dict, dict, dict, dict]:
    """Read every span file under ``trace_dir``.  Returns per span name
    the summed duration, the summed self time (duration minus the time
    covered by direct children) and the list of durations, all in ms,
    plus the summed counters."""
    total: dict = defaultdict(float)
    self_ms: dict = defaultdict(float)
    durs: dict = defaultdict(list)
    counts: dict = defaultdict(int)
    for f in sorted(pathlib.Path(trace_dir).glob("*.json")):
        log = json.loads(f.read_text())
        rows = log["spans"]
        child = [0.0] * len(rows)
        for name, t0, t1, parent in rows:
            if parent >= 0:
                child[parent] += t1 - t0
        for i, (name, t0, t1, parent) in enumerate(rows):
            d = (t1 - t0) * 1000.0
            total[name] += d
            self_ms[name] += d - child[i] * 1000.0
            durs[name].append(d)
        for k, v in log["counts"].items():
            counts[k] += v
    return total, self_ms, durs, counts


def timed_batches(fn, iterator, rec):
    """Run a mapInArrow function under spans: ``arrow.udf_batch`` around
    each output batch it produces, ``arrow.input_wait`` around each input
    batch it pulls, so the UDF's own time excludes waiting for Spark."""

    def inputs():
        while True:
            with rec.span("arrow.input_wait"):
                batch = next(iterator, None)
            if batch is None:
                return
            rec.count("arrow.batches_in")
            rec.count("arrow.rows_in", batch.num_rows)
            yield batch

    out = fn(inputs())
    while True:
        with rec.span("arrow.udf_batch"):
            batch = next(out, None)
        if batch is None:
            return
        rec.count("arrow.batches_out")
        yield batch


def traced_extract_fn(fn, trace_dir: str, run_id: str):
    """Wrap the program's extraction ``mapInArrow`` function.  Inside the
    worker, for one partition, ``extract_document`` and ``Parser.parse``
    are replaced by timing wrappers and restored afterwards (workers are
    reused by untraced runs)."""

    def run(iterator):
        from crystal_html5_spark.html5x import extract as ex

        rec = Spans(run_id)
        orig_doc, orig_parse = ex.extract_document, ex.Parser.parse

        def extract_document(html, max_doc_bytes=0):
            with rec.span("html5x.extract.extract_document"):
                r = orig_doc(html, max_doc_bytes)
            rec.count("extract.docs")
            rec.count("extract.err_rows", r["err"] != "")
            return r

        def parse(self):
            with rec.span("html5x.parser.parse"):
                return orig_parse(self)

        ex.extract_document, ex.Parser.parse = extract_document, parse
        try:
            yield from timed_batches(fn, iterator, rec)
        finally:
            ex.extract_document, ex.Parser.parse = orig_doc, orig_parse
            rec.dump(trace_dir)

    return run


@contextmanager
def traced_extract(trace_dir: str, run_id: str):
    """While open, ``run_extract`` builds its UDF through
    ``traced_extract_fn``."""
    from crystal_html5_spark.sparkjob import extract_job

    orig = extract_job.make_extract_fn

    def make(*args, **kwargs):
        return traced_extract_fn(orig(*args, **kwargs), trace_dir, run_id)

    extract_job.make_extract_fn = make
    try:
        yield
    finally:
        extract_job.make_extract_fn = orig


# ---- Spark stage ledger ---------------------------------------------------

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+:")
_MB = float(1 << 20)
# The API is on localhost: never route it through a proxy from the
# environment.
_LOCAL = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _size_bytes(value: str) -> float:
    """Bytes in a SQL size metric as the REST API prints it, e.g.
    ``"total (min, med, max (stageId: taskId))\\n46.2 MiB (9.3 MiB, ...)"``."""
    m = _SIZE.search(value.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class Ledger:
    """Per job group counters from the driver's status tracker and the
    application's REST API on localhost."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with _LOCAL.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled(self, path: str, done) -> object:
        # The REST view is fed by an asynchronous listener: poll until it
        # has caught up with the finished action.
        for _ in range(100):
            data = self._get(path)
            if done(data):
                return data
            time.sleep(0.05)
        raise TimeoutError(f"REST API never settled on {path}")

    def collect(self, group: str) -> dict:
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in jobs:
            job = self._settled(f"/jobs/{j}",
                                lambda d: d["status"] != "RUNNING")
            stage_ids.update(job["stageIds"])
        stages, tasks = [], []
        for sid in sorted(stage_ids):
            attempts = self._settled(
                f"/stages/{sid}",
                lambda d: all(a["status"] != "ACTIVE" for a in d))
            for a in attempts:
                if a["status"] in ("SKIPPED", "PENDING"):
                    continue
                stages.append(a)
                tasks.append(self._get(
                    f"/stages/{sid}/{a['attemptId']}/taskList?length=100000"))
        udf_stages: set[int] = set()
        py_in = py_out = 0.0
        execs = self._get("/sql?details=true&planDescription=false"
                          "&offset=0&length=100000")
        for ex in execs:
            if not set(ex.get("successJobIds", [])) & set(jobs):
                continue
            for node in ex["nodes"]:
                if "Python" not in node["nodeName"] and "Arrow" not in node["nodeName"]:
                    continue
                for m in node["metrics"]:
                    udf_stages.update(int(s) for s in _STAGE_REF.findall(m["value"]))
                    if m["name"] == "data sent to Python workers":
                        py_in += _size_bytes(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        py_out += _size_bytes(m["value"])

        def run_s(pred) -> float:
            return sum(s["executorRunTime"] for s in stages if pred(s)) / 1000.0

        udf_task_ms = [
            [t["taskMetrics"]["executorRunTime"] for t in ts]
            for s, ts in zip(stages, tasks) if s["stageId"] in udf_stages
        ]
        heaviest = max(udf_task_ms, key=sum, default=[])
        all_tasks = [t for ts in tasks for t in ts]
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.busy_s": run_s(lambda s: True),
            "spark.exchange_stage_s": run_s(lambda s: s["shuffleWriteBytes"] > 0),
            "spark.udf_stage_s": run_s(lambda s: s["stageId"] in udf_stages),
            "spark.sink_stage_s": run_s(lambda s: s["outputBytes"] > 0),
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "spark.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1000.0,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in stages) / _MB,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "spark.sched_delay_s": sum(t.get("schedulerDelay", 0)
                                       for t in all_tasks) / 1000.0,
            "spark.task_skew": (max(heaviest) / statistics.median(heaviest)
                                if heaviest and statistics.median(heaviest) > 0
                                else 1.0),
            "spark.py_in_mb": py_in / _MB,
            "spark.py_out_mb": py_out / _MB,
        }
