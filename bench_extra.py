#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1): times each bench
query in isolation with the SAME actions bench.py uses and captures
.explain('formatted') plans.

Never used for the graded number — bench.py is frozen; this exists so
before/after evidence in OPTIMIZATION_r06.md is reproducible.

Usage: python bench_extra.py [--plans-dir plans/r06 --suffix before]
                             [--queries q1,q2] [--reps 3]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from crystal_html5_spark.sparkjob import queries as Q  # noqa: E402
from crystal_html5_spark.sparkjob import io as tableio  # noqa: E402
from crystal_html5_spark.sparkjob.extract_job import run_extract  # noqa: E402
from crystal_html5_spark.sparkjob.pages import (  # noqa: E402
    n_pages_for_sf,
    pages_parquet,
)
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    extra_conf = {}
    if os.path.isdir("/dev/shm"):
        extra_conf["spark.local.dir"] = "/dev/shm/spark-local-bench"
    spark = get_spark(
        "bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    n_pages = n_pages_for_sf(sf_dir)
    pages_path = pages_parquet(spark, n_pages)
    pages = tableio.read_table(spark, pages_path)

    # Same warm-ups as bench.py.
    run_extract(spark, pages.limit(512), num_partitions=cpus).agg(
        F.sum(F.length("text"))).collect()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in ("pricing_summary", "top_revenue_orders",
                     "docs_dedup_exact", "docs_minhash_bands",
                     "ann_cosine_topk", "ann_lsh_topk", "docs_winnow_fp",
                     "latest_event_per_user", "docs_ngram_dup"):
            with contextlib.suppress(Exception):
                Q.QUERIES[name](spark, warm_dir).count()
    run_extract(spark, pages, num_partitions=cpus).agg(F.count("*")).collect()

    def frame(name):
        if name == "page_xpath_stats":
            return Q.page_xpath_stats_scaled(spark, sf_dir)
        if name == "extract_near_dups":
            return Q.extract_near_dups_scaled(spark, sf_dir)
        if name == "extract_pipeline":
            return run_extract(spark, pages, num_partitions=cpus).agg(
                F.count("*").alias("n"),
                F.sum(F.length("text")).alias("text_bytes"),
                F.sum(F.when(F.col("err") != "", 1).otherwise(0))
                .alias("errs"))
        return Q.QUERIES[name](spark, sf_dir)

    ACTIONS = {  # mirror bench.py's timed action per query
        "pricing_summary": "collect", "top_revenue_orders": "collect",
        "ann_cosine_topk": "collect", "ann_lsh_topk": "collect",
        "extract_pipeline": "collect",
    }

    names = (args.queries.split(",") if args.queries else [
        "pricing_summary", "top_revenue_orders", "docs_dedup_exact",
        "docs_minhash_bands", "ann_cosine_topk", "ann_lsh_topk",
        "docs_winnow_fp", "docs_ngram_dup", "latest_event_per_user",
        "page_xpath_stats", "extract_near_dups", "extract_pipeline",
    ])

    plans_dir = pathlib.Path(args.plans_dir) if args.plans_dir else None
    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)

    report = {}
    for name in names:
        df = frame(name)
        if plans_dir:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{args.suffix}.txt").write_text(
                buf.getvalue())
        act = ACTIONS.get(name, "count")
        sc.setJobDescription(f"bench_extra:{name}")
        runs = []
        for _ in range(args.reps):
            df = frame(name)
            t0 = time.perf_counter()
            (df.collect() if act == "collect" else df.count())
            runs.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        report[name] = {"runs": runs, "median": statistics.median(runs)}
        print(json.dumps({name: report[name]}), flush=True)

    total = sum(v["median"] for v in report.values())
    print(json.dumps({"TOTAL_median": round(total, 3),
                      "queries": {k: v["median"] for k, v in report.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
