"""Task retries during write_with_lineage: a task attempt that fails and
is retried must leave the sink rows and the metrics table exactly as a
clean run leaves them.  Runs on ``local[4,2]`` (two attempts per task)."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from crystal_html5_spark.sparkjob.extract_job import (  # noqa: E402
    run_extract,
    write_with_lineage,
)
from crystal_html5_spark.sparkjob.pages import pages_df  # noqa: E402
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402

MASTER = "local[4,2]"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sink-retry-tests", master=MASTER, shuffle_partitions=4)
    assert s.sparkContext.master == MASTER, "another session is still up"
    yield s
    s.stop()


def _fail_first_attempt(after_first_batch: bool):
    """Identity mapInArrow function that raises on each task's first
    attempt: before reading any input, or after passing one batch on."""

    def run(batches):
        from pyspark import TaskContext

        first_attempt = TaskContext.get().attemptNumber() == 0
        if first_attempt and not after_first_batch:
            raise RuntimeError("injected failure, first attempt")
        for batch in batches:
            yield batch
            if first_attempt:
                raise RuntimeError("injected failure, first attempt")

    return run


def _flaky(df, after_first_batch):
    return df.mapInArrow(_fail_first_attempt(after_first_batch), df.schema)


def _written(spark, dest):
    """Sink rows and metrics rows, minus the timing and stamp columns
    (parse_ms is a wall-clock measurement and differs between runs)."""
    rows = spark.read.parquet(f"{dest}/extracted").drop(
        "parse_ms", "batch_ts").collect()
    metrics = spark.read.parquet(f"{dest}/metrics").drop(
        "sum_parse_ms", "batch_ts").collect()
    return sorted(map(tuple, rows)), sorted(map(tuple, metrics))


@pytest.mark.parametrize("stage", ["pages", "extracted"])
def test_retried_tasks_write_what_a_clean_run_writes(spark, tmp_path,
                                                     stage):
    """``pages``: the scan side of the materialization job fails once per
    task.  ``extracted``: the task that stores the materialized batch
    fails after emitting a batch, so a partial first attempt must not
    leak into either write."""
    pages = pages_df(spark, 60)
    clean = str(tmp_path / "clean")
    write_with_lineage(run_extract(spark, pages, num_partitions=4), clean)

    retried = str(tmp_path / "retried")
    if stage == "pages":
        out = run_extract(spark, _flaky(pages, False), num_partitions=4)
    else:
        out = _flaky(run_extract(spark, pages, num_partitions=4), True)
    write_with_lineage(out, retried)

    rows, metrics = _written(spark, retried)
    assert rows and metrics
    assert (rows, metrics) == _written(spark, clean)
    assert sum(m[1] for m in metrics) == len(rows)
