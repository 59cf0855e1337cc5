"""The production extraction pipeline.

Plan shape (all relational steps are stock Catalyst operators; the parser is
a single vectorized Arrow UDF):

    scan(url, warc_ts, html)            -- column-pruned parquet/Iceberg scan
      -> salted repartition             -- host # (xxhash64(url) % salt)
      -> sortWithinPartitions           -- url, desc(warc_ts)
      -> mapInArrow(doc_batches)        -- latest capture per url (skip
                                           consecutive urls) + tokenizer,
                                           tree and extract per batch
      -> localCheckpoint                -- write_with_lineage: ONE evaluation
      -> sink (parquet) + per-partition metrics table, both off the checkpoint

The resume path (``done_keys``) dedups with a window instead, so the
done-key anti-join can run on exact keys after it: scan -> latest-capture
window on url, desc(warc_ts) -> anti-join done keys -> salted repartition
-> mapInArrow(doc_batches), which then skips nothing.

The sink and the metrics table read the same materialized batch, so every
page is parsed once and the metrics describe exactly the rows extracted
(before the sink's idempotence anti-join drops keys already written).  A
local checkpoint, not ``persist()``: a resumed batch reads its done keys
from the sink's path, so the sink's write would make Spark re-cache a
persisted batch, re-running it against the keys just written.  The
checkpoint cuts lineage, so a lost executor fails the sink job rather than
recomputing; the idempotent sink plus ``read_done_keys`` make rerunning the
batch safe (details in write_with_lineage).

Scale notes (100 TB / 1000 executors):
- The fresh path has one shuffle, the salted repartition: its key is a
  pure function of url, so every capture of a url lands in one partition
  and the partition-local sort finishes the dedup.  The resume path adds
  the dedup window's exchange and, unless AQE broadcasts the done keys,
  the anti-join's.  The salted key spreads a dominant host over many
  partitions and AQE's skew-join handling covers the residue.
- Filters/column pruning reach the scan (only url, warc_ts, html cross
  into Python over Arrow).
- A single oversize or malformed page becomes an error row, never a task
  failure; `max_doc_bytes` bounds per-document memory.
- Output batches re-batch by accumulated byte size (doc_batches) so one
  50 MB page amid 4 KB pages cannot blow up a single Arrow batch.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RESULT_SCHEMA_DDL = (
    "url string, warc_ts timestamp, text binary, main_text string,"
    " n_nodes int, html_bytes bigint, err string, parse_ms double"
)

DEFAULT_MAX_DOC_BYTES = 64 * 1024 * 1024
_TARGET_OUT_BATCH_BYTES = 32 * 1024 * 1024

_ARROW_TYPES = {
    "string": pa.string(), "binary": pa.binary(), "int": pa.int32(),
    "long": pa.int64(), "bigint": pa.int64(), "double": pa.float64(),
    "timestamp": pa.timestamp("us"),
}


def _values(col) -> list:
    """A column's Python values; a null in a binary column becomes b""."""
    if col.null_count and col.type == pa.binary():
        col = col.fill_null(b"")
    return col.to_pylist()


def _var_bytes(values) -> int:
    return sum(len(v) for v in values if isinstance(v, (bytes, str)))


def doc_batches(per_doc, ddl: str, *, inputs=("html",), fallback=None,
                latest_only=False):
    """The one per-row Arrow operator: build the function handed to
    ``frame.mapInArrow(doc_batches(per_doc, ddl), ddl)``.

    ``per_doc(*values)`` gets each row's values of the ``inputs`` columns,
    in that order: a null in a binary column arrives as ``b""``, any
    other null as ``None``.  It returns a list of output tuples, one value
    per ``ddl`` column that is not also a column of the input frame: one
    tuple per row, or zero or more for multi-row sites.  The operator owns
    the rest:

    - pass-through: a ``ddl`` column that is also an input column is
      ``take``-n from the input (keeping the input's Arrow type),
      repeated once per output row;
    - error rows: a raising ``per_doc`` fails the task, unless
      ``fallback`` is given: then its constant rows (none for ``()``)
      are emitted for that input row and the task goes on;
    - ``latest_only``: the input is sorted by (url, warc_ts desc) within
      the partition and only the first row of each url run (the latest
      capture) is kept, tracked across input-batch boundaries;
    - re-batching: an output batch is cut at the end of each input batch
      and whenever its input plus output bytes (binary and string values)
      reach ``_TARGET_OUT_BATCH_BYTES``, so one 50 MB page amid 4 KB
      pages cannot blow up a single Arrow batch.

    Every ``ddl`` type is looked up in ``_ARROW_TYPES`` here, so an
    unsupported one fails when the operator is built, not in a task."""
    fields = [(name, _ARROW_TYPES[typ])
              for name, typ in (col.split() for col in ddl.split(","))]

    def out_batch(batch, idx, rows):
        idx = pa.array(idx, pa.int32())
        made = iter(zip(*rows))
        passed = set(batch.schema.names)
        return pa.RecordBatch.from_arrays(
            [batch.column(name).take(idx) if name in passed
             else pa.array(next(made), typ) for name, typ in fields],
            names=[name for name, _ in fields],
        )

    def doc_batch_map(iterator):
        last_url = None
        for batch in iterator:
            urls = batch.column("url").to_pylist() if latest_only else None
            values = zip(*(_values(batch.column(c)) for c in inputs))
            idx, rows, acc_bytes = [], [], 0
            for i, vals in enumerate(values):
                if latest_only:
                    if urls[i] == last_url:
                        continue  # older capture of the same url
                    last_url = urls[i]
                try:
                    out = per_doc(*vals)
                except Exception:  # noqa: BLE001 — error-row policy
                    if fallback is None:
                        raise
                    out = fallback
                acc_bytes += _var_bytes(vals)
                for row in out:
                    idx.append(i)
                    rows.append(row)
                    acc_bytes += _var_bytes(row)
                if acc_bytes >= _TARGET_OUT_BATCH_BYTES and rows:
                    yield out_batch(batch, idx, rows)
                    idx, rows, acc_bytes = [], [], 0
            if rows:
                yield out_batch(batch, idx, rows)

    return doc_batch_map


def make_extract_fn(max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
                    dedup_consecutive: bool = False):
    """The production extraction function for ``mapInArrow`` with
    ``RESULT_SCHEMA_DDL``: ``extract_document`` per page through
    ``doc_batches``.

    With ``dedup_consecutive`` the input is expected sorted by
    (url, warc_ts desc) within the partition; the first row of each url
    group (the latest capture) wins and the rest are skipped — this is the
    single-shuffle dedup path (see run_extract)."""
    from crystal_html5_spark.html5x import extract

    def extract_row(html):
        # Looked up on the module per call, so a wrapper installed in the
        # worker (perfbench's tracer) is the one that runs.
        r = extract.extract_document(html, max_doc_bytes=max_doc_bytes)
        return [(r["text"], r["main_text"], r["n_nodes"], len(html),
                 r["err"], r["parse_ms"])]

    return doc_batches(
        extract_row, RESULT_SCHEMA_DDL,
        fallback=[(b"", "", 0, 0, "extract_error", 0.0)],
        latest_only=dedup_consecutive,
    )


def dedup_latest_capture(pages: DataFrame) -> DataFrame:
    """Keep the latest (url, warc_ts) capture per url."""
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt: int | None = None) -> DataFrame:
    """Repartition on host + url-hash salt: keeps per-host grouping for
    cache locality while splitting mega-hosts across `salt` buckets
    (defeats domain skew — north_rule).

    The salt must scale with the parallelism: with a constant salt S, a
    single dominant host can never occupy more than S partitions and adding
    executors stops helping.  Default 4x the partition count so even a
    one-host corpus spreads across every core."""
    if salt is None:
        salt = 4 * num_partitions
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    key = F.concat_ws(
        "#", host,
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt)).cast("string"),
    )
    return df.repartition(num_partitions, key)


def run_extract(
    spark,
    pages: DataFrame,
    num_partitions: int | None = None,
    salt: int | None = None,
    max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
    dedup: bool = True,
    done_keys: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: prune -> [resume-filter ->] dedup -> salt -> extract.

    Hot path (no resume): ONE shuffle.  The salted key is a pure function
    of url, so every capture of a url lands in the same partition; a
    partition-local sort on (url, warc_ts desc) plus skip-consecutive in
    the UDF implements latest-capture dedup without the window's second
    full-data exchange.  The resume path (done_keys) keeps the explicit
    window dedup so the anti-join can run on exact (url, warc_ts) keys
    after it.
    """
    cols = pages.select("url", "warc_ts", "html")
    n = num_partitions or spark.sparkContext.defaultParallelism
    if dedup and done_keys is None:
        salted = salted_repartition(cols, n, salt)
        local_sorted = salted.sortWithinPartitions(
            "url", F.desc("warc_ts")
        )
        return local_sorted.mapInArrow(
            make_extract_fn(max_doc_bytes, dedup_consecutive=True),
            RESULT_SCHEMA_DDL,
        )
    if dedup:
        cols = dedup_latest_capture(cols)
    if done_keys is not None:
        # Resume: drop already-extracted (url, warc_ts) pairs.  Runs after
        # dedup so an older capture of a finished url cannot resurface.
        # No broadcast hint: done_keys grows without bound as extraction
        # progresses, so the join strategy is left to AQE (which picks
        # broadcast while the done set is small and shuffle after).
        cols = cols.join(
            done_keys.select("url", "warc_ts").distinct(),
            ["url", "warc_ts"], "left_anti",
        )
    salted = salted_repartition(cols, n, salt)
    return salted.mapInArrow(make_extract_fn(max_doc_bytes),
                             RESULT_SCHEMA_DDL)


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics table (north_rule: per-partition
    lineage + metrics enabling resume)."""
    return extracted.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("html_bytes").alias("sum_html_bytes"),
        F.sum(F.length("text")).alias("sum_text_bytes"),
        F.sum("parse_ms").alias("sum_parse_ms"),
        F.sum(F.when(F.col("err") == "", 0).otherwise(1)).alias("n_errors"),
    )


def top_error_pages(extracted: DataFrame, k: int = 20) -> DataFrame:
    """Fixture/error triage report: the k worst pages by error presence
    and size (SURVEY.md §2.8 'fixture top-k error report')."""
    return (
        extracted.filter(F.col("err") != "")
        .select("url", "warc_ts", "err", "html_bytes")
        .orderBy(F.desc("html_bytes"), "url")
        .limit(k)
    )


def write_with_lineage(extracted: DataFrame, out_dir: str) -> None:
    """Idempotent sink: extracted rows + metrics side table, through the
    io seam (Iceberg MERGE INTO keyed on (url, warc_ts) when the runtime
    is present; parquet with a key anti-join otherwise — see io.py).

    The batch is evaluated ONCE: ``localCheckpoint(eager=True)`` runs the
    scan, dedup, resume anti-join, shuffle and parse in one job, and both
    writes read its blocks.  So:

    - the sink keeps its own fresh done-key anti-join (idempotence under
      re-delivery), applied to the checkpointed rows;
    - the metrics describe the extracted batch BEFORE that anti-join, and
      ``partition_id`` still names the extraction partition (a local
      checkpoint keeps the partitioning); ``sum_parse_ms`` is the sum of
      the very ``parse_ms`` values the sink wrote.

    Not ``persist()``: a resumed batch's cached plan reads the done keys
    from ``{out_dir}/extracted``, the sink's write to that path makes
    Spark re-cache by path, and the recomputed cache anti-joins against
    the keys just written — so the resumed batch's metrics come out
    empty, and the pre-UDF stages run again anyway.

    Lineage trade: the checkpoint cuts the lineage, so losing an
    executor that holds its blocks fails the sink job instead of
    recomputing the lost partitions.  Rerunning the whole batch is safe:
    the sink is idempotent and ``read_done_keys`` resumes from what was
    written.  The blocks are released on the way out, success or not
    (``DataFrame.unpersist()`` does not reach a local checkpoint's
    blocks; unpersisting the checkpointed RDD does)."""
    from crystal_html5_spark.sparkjob import io as tableio

    spark = extracted.sparkSession
    batch = extracted.localCheckpoint(eager=True)
    try:
        tableio.write_extracted(spark, batch, out_dir)
        tableio.write_metrics(partition_metrics(batch), out_dir)
    finally:
        batch._jdf.queryExecution().analyzed().rdd().unpersist(True)


def read_done_keys(spark, out_dir: str) -> DataFrame | None:
    """High-water-mark for resume: keys already extracted (io seam)."""
    from crystal_html5_spark.sparkjob import io as tableio

    return tableio.read_done_keys(spark, out_dir)
