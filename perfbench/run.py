"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root.  Spark runs ``local[<cores>]`` with as many
shuffle partitions as cores; every file the run writes (inputs, sink,
Spark's local and temp dirs, trace files) lives under ``perfbench/.work``
and is removed at exit.

A run: start Spark, generate the inputs ``GEN_REPS`` times (the copies
must be byte-identical), ``WARMUP_REPS`` untimed repetitions, then timed
repetitions until ``--seconds`` have passed, then the correctness check of
every repetition against an in-process reference.  With ``--trace 1``
traced and untraced repetitions alternate; the traced ones record spans in
the Python workers and read Spark's stage ledger, and an in-process pass
splits parse time into tokenizer and tree construction.

Every metric is printed as ``<name> = <value> <unit>``; the last line is
one JSON object {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = pathlib.Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

GEN_REPS = 3
# The first repetition starts the Python workers and compiles the plan
# (3-4x a steady one); the second still runs about 20% slow.
WARMUP_REPS = 2
MIN_REPS = 3
LAYER_SAMPLE_DOCS = 400


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def report(metrics: dict, units: dict, attempted: int, failed: int,
           correct: bool) -> list[str]:
    """Every declared metric as ``name = value unit``, the failure share,
    and last the JSON result line."""
    lines = [f"{name} = {metrics[name]:.6g} {unit}" for name, unit in units.items()]
    lines.append(f"failed_frac = {failed / attempted:.6g} frac "
                 f"({failed} of {attempted} timed repetitions)")
    lines.append(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return lines


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---- processes --------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in pathlib.Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        state = pathlib.Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return state.rpartition(")")[2].split()[0] != "Z"


def python_worker_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of the Spark Python daemon and workers."""
    kb, n = 0, 0
    for pid in descendants(os.getpid()):
        try:
            argv = pathlib.Path(f"/proc/{pid}/cmdline").read_bytes().split(b"\0")
            if not (os.path.basename(argv[0]).startswith(b"python")
                    and b"pyspark.daemon" in argv):
                continue
            for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
                    n += 1
        except OSError:
            continue
    log(f"python workers: {n} processes, summed VmHWM {kb / 1024.0:.1f} MB")
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---- statistics -------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


# ---- the run ----------------------------------------------------------------

class Sample:
    def __init__(self, kind: str, index: int, traced: bool):
        self.kind, self.index, self.traced = kind, index, traced
        self.wall = None
        self.rep = None
        self.ledger = None
        self.trace_dir = None
        self.correct = None


class Bench:
    def __init__(self, args, work: pathlib.Path, nproc: int):
        from perfbench.workloads import WORKLOADS

        self.args, self.work, self.nproc = args, work, nproc
        self.wl = WORKLOADS[args.workload](work, args.seed, nproc)
        self.samples: list[Sample] = []

    def start_spark(self):
        from crystal_html5_spark.sparkjob.session import get_spark

        spark = get_spark(
            f"perfbench-{self.wl.name}", master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def generate(self) -> list[float]:
        times, digests = [], []
        for k in range(GEN_REPS):
            out = self.work / f"input{k}"
            t0 = time.perf_counter()
            digests.append(self.wl.generate(out))
            times.append(time.perf_counter() - t0)
            if k + 1 < GEN_REPS:
                shutil.rmtree(out)
        if len(set(digests)) != 1:
            raise RuntimeError(f"generator is not deterministic: {digests}")
        return times

    def one_rep(self, spark, kind: str, index: int, traced: bool) -> None:
        from perfbench.trace import Ledger

        s = Sample(kind, index, traced)
        group = f"perfbench-{self.wl.name}-{kind}-{index}"
        trace_dir = None
        if traced:
            trace_dir = self.work / "trace" / group
            trace_dir.mkdir(parents=True)
        self.wl.before_rep()
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            rows = self.wl.run(spark, str(trace_dir) if traced else None, group)
            s.wall = time.perf_counter() - t0
            sc.setJobGroup(group + "-check", group + "-check")
            s.rep = self.wl.outcome(spark, rows)
            if traced:
                s.ledger = Ledger(sc).collect(group)
                s.trace_dir = trace_dir
        except Exception:  # noqa: BLE001 — a failed run counts in `failed`
            log(traceback.format_exc())
        load = os.getloadavg()[0]
        log(f"{kind} {index} traced={int(traced)} wall_s={s.wall} "
            f"docs={s.rep.docs if s.rep else None} loadavg1={load:.2f}")
        self.samples.append(s)

    def check(self) -> None:
        # In this process: a process pool would leave multiprocessing's
        # resource tracker running for a moment after the benchmark exits.
        expected = self.wl.reference()
        for s in self.samples:
            s.correct = s.rep is not None and self.wl.check(s.rep, expected)
            if s.rep is not None and not s.correct:
                log(f"{s.kind} {s.index}: output differs from the reference")

    def run(self) -> int:
        args = self.args
        t0 = time.perf_counter()
        spark = self.start_spark()
        try:
            jvm_s = time.perf_counter() - t0
            gen_times = self.generate()
            t1 = time.perf_counter()
            self.wl.prepare(spark)
            for i in range(WARMUP_REPS):
                self.one_rep(spark, "warmup", i, False)
            warmup_s = time.perf_counter() - t1
            t_first = time.perf_counter()
            setup_s = (t_first - T_START) - sum(gen_times) + median(gen_times)
            i = 0
            while (time.perf_counter() - t_first < args.seconds
                   or i < MIN_REPS * (1 + args.trace)):
                self.one_rep(spark, "timed", i, bool(args.trace) and i % 2 == 1)
                i += 1
            rss_mb = python_worker_rss_mb()
            layers = self.layer_pass() if args.trace else None
        finally:
            stop_spark(spark)
        self.check()

        timed = [s for s in self.samples if s.kind == "timed"]
        failed = sum(1 for s in timed if not s.correct)
        ok = [s for s in timed if s.correct]
        if not ok:
            log("no timed repetition produced a correct result")
            return 1
        correct = all(s.correct for s in self.samples)
        untraced = [s for s in ok if not s.traced]
        end_to_end, per_layer = declared_metrics()
        if args.trace:
            metrics = self.per_layer(ok, layers, {
                "setup.jvm_s": jvm_s, "setup.gen_s": median(gen_times),
                "setup.warmup_s": warmup_s,
            })
            units = per_layer
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": median(s.wall for s in untraced),
                "docs_per_s": median(s.rep.docs / s.wall for s in untraced),
                "worker_peak_rss_mb": rss_mb,
            }
            units = end_to_end
        print("\n".join(report(metrics, units, len(timed), failed, correct)))
        return 0

    def layer_pass(self) -> dict:
        """In process, over a fixed sample of the pages the workload
        parses: the tokenizer alone (the parser's own ``next_token`` loop)
        and the full parse, so tree construction = parse - tokenize."""
        from crystal_html5_spark.html5x.extract import count_nodes
        from crystal_html5_spark.html5x.parser import Parser
        from crystal_html5_spark.html5x.tokenizer import ERROR, Token, Tokenizer

        from perfbench.trace import Spans

        rec = Spans("inproc")
        htmls = self.wl.parsed_htmls()[:LAYER_SAMPLE_DOCS]
        tokens = nodes = 0
        for html in htmls:
            tz, tok = Tokenizer(html), Token()
            with rec.span("html5x.tokenizer.next_token"):
                while tz.next_token(tok).type != ERROR:
                    tokens += 1
            p = Parser(html)
            with rec.span("html5x.parser.parse"):
                p.parse()
            nodes += count_nodes(p.doc) - 1
        tot = {}
        for name, t0, t1, _ in rec.rows:
            tot[name] = tot.get(name, 0.0) + (t1 - t0) * 1000.0
        n = max(1, len(htmls))
        tok_ms = tot.get("html5x.tokenizer.next_token", 0.0) / n
        parse_ms = tot.get("html5x.parser.parse", 0.0) / n
        return {
            "tokenizer.ms_per_doc": tok_ms,
            "tokenizer.tokens_per_doc": tokens / n,
            "parser.ms_per_doc": parse_ms,
            "parser.tree_ms_per_doc": parse_ms - tok_ms,
            "parser.nodes_per_doc": nodes / n,
        }

    def per_layer(self, ok: list[Sample], layers: dict, setup: dict) -> dict:
        from perfbench.trace import load_spans

        traced = [s for s in ok if s.traced]
        untraced = [s for s in ok if not s.traced]
        total, self_ms, durs, counts = {}, {}, {}, {}
        for s in traced:
            t, sm, d, c = load_spans(s.trace_dir)
            for acc, src in ((total, t), (self_ms, sm), (counts, c)):
                for k, v in src.items():
                    acc[k] = acc.get(k, 0) + v
            for k, v in d.items():
                durs.setdefault(k, []).extend(v)
        reps = max(1, len(traced))

        def per(num: str, den: str) -> float:
            return total.get(num, 0.0) / max(1, counts.get(den, 0))

        ex_docs = counts.get("extract.docs", 0)
        sel_docs = counts.get("select.docs", 0)
        parse_ms = total.get("html5x.parser.parse", 0.0)
        # Parse spans sit inside extract_document spans only on the
        # extraction workloads; select_heavy has no extract_document.
        walk_ms = (total.get("html5x.extract.extract_document", 0.0) - parse_ms
                   if ex_docs else 0.0)
        batches_in = max(1, counts.get("arrow.batches_in", 0))
        udf_ms = total.get("arrow.udf_batch", 0.0) - total.get("arrow.input_wait", 0.0)
        busy_ms = 1000.0 * sum(s.ledger["spark.busy_s"] for s in traced) or 1.0
        m = dict(layers)
        m.update({
            "extract.walk_ms_per_doc": walk_ms / max(1, ex_docs),
            "extract.parse_ms_p50": quantile(durs.get("html5x.parser.parse", []), 0.50),
            "extract.parse_ms_p99": quantile(durs.get("html5x.parser.parse", []), 0.99),
            "extract.err_rows": counts.get("extract.err_rows", 0) / reps,
            "extract.kept_frac": median(s.rep.docs / s.rep.scanned for s in traced),
            "css.compile_ms": total.get("html5x.css.compile", 0.0)
            / max(1, len(durs.get("html5x.css.compile", []))),
            "css.select_ms_per_doc": per("html5x.css.select", "select.docs"),
            "css.matches_per_doc": counts.get("css.matches", 0) / max(1, sel_docs),
            "xpath.eval_ms_per_doc": per("html5x.xpath.eval", "select.docs"),
            "xpath.results_per_doc": counts.get("xpath.results", 0) / max(1, sel_docs),
            "arrow.udf_ms_per_batch": udf_ms / batches_in,
            "arrow.boundary_ms_per_batch": self_ms.get("arrow.udf_batch", 0.0) / batches_in,
            "arrow.batches_in": counts.get("arrow.batches_in", 0) / reps,
            "arrow.batches_out": counts.get("arrow.batches_out", 0) / reps,
            "share.parser": parse_ms / busy_ms,
            "share.css_xpath": (total.get("html5x.css.select", 0.0)
                                + total.get("html5x.xpath.eval", 0.0)) / busy_ms,
            "share.extract_walk": walk_ms / busy_ms,
            "share.arrow_boundary": self_ms.get("arrow.udf_batch", 0.0) / busy_ms,
            "share.spark_jvm": max(0.0, 1.0 - udf_ms / busy_ms),
            "trace.overhead_frac": median(s.wall for s in traced)
            / median(s.wall for s in untraced) - 1.0,
        })
        for k in ("io.done_keys_rows", "io.rows_written", "io.resume_skipped_frac"):
            m[k] = median(s.rep.io.get(k, 0.0) for s in traced)
        for k in traced[0].ledger:
            m[k] = median(s.ledger[k] for s in traced)
        m.update(setup)
        return m


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / "perfbench" / ".work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Python's tempfile, every JVM Spark starts and its Python workers
    # inherit these, so nothing is written outside the checkout (a JVM
    # writes its perf-data file to /tmp unless told not to).
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        args = parse_args(argv)
        return Bench(args, work, nproc).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
