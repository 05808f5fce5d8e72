"""Structured-Streaming equivalent of the reference's `stream` mode
(SURVEY.md §2.8 T1-T5; src/extraction/stream.rs).

Reference semantics re-expressed:
  T1  head subscription, sequential per-block processing
      -> readStream + foreachBatch; each micro-batch handles a batch of
         blocks (strictly ordered within the sink by block partition).
  T2  catch-up sync from max(indexed)+1, then live
      -> backfill_then_live(): a bounded batch job over the missing range
         first, then the stream starts from the backfill ceiling.
  T3  exactly-once per block via delete-then-reinsert
      -> idempotent dynamic partition overwrite keyed on the block bucket:
         the batch's block keys are collected to the driver (at most one
         row per batch block), the touched buckets' surviving rows are read
         back through a partition-pruned filter, and both are rewritten
         together. Replaying a micro-batch rewrites the same partitions
         with the same rows (src/models/block.rs:171-284 without per-row
         transactions).
  T4  reorg signal: Log.removed carried through -> kept as a column; a
      reorged block re-enters as new rows for the same number and its
      partition is overwritten. Passing the batch's block numbers as
      `blocks` also deletes the old rows of a reorged block whose new
      version has none in that table.
  T5  skeleton dedup state across the stream -> anti-join each batch's
      skeletons against the already-written skeleton table (the stateless,
      rescalable version of the DashMap at src/extraction/stream.rs:184-246).

The transformation body is the SAME batch derivation pipeline
(operators.extract.derive_all) — foreachBatch exists precisely so batch and
streaming share one code path.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.eth import (
    BLOCK_BUCKET_COL,
    BLOCK_BUCKET_SIZE,
    read_eth_table,
    with_block_bucket,
)


def _read_sink_or_none(spark: SparkSession, table: str, base_path: str):
    """Read a sink table, distinguishing 'does not exist yet' (-> None) from
    REAL read errors (corrupt footer, storage outage, permissions), which
    must PROPAGATE: swallowing them would silently restart backfill from
    genesis / disable dedup and corrupt the sink."""
    from pyspark.errors import AnalysisException

    try:
        return read_eth_table(spark, table, base_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def last_indexed_block(spark: SparkSession, base_path: str) -> int:
    """W1 over the sink (src/extraction/stream.rs:284-300)."""
    df = _read_sink_or_none(spark, "blocks", base_path)
    if df is None:  # empty sink: start from genesis
        return -1
    row = df.agg(F.max("number").alias("m")).collect()[0]
    return -1 if row["m"] is None else int(row["m"])


def process_block_batch(
    batch: DataFrame,
    base_path: str,
    table: str,
    block_col: str = "block_number",
    blocks: Iterable[int] | None = None,
) -> None:
    """T3: idempotent write of one micro-batch with PER-BLOCK
    delete-then-reinsert semantics (src/models/block.rs:171-284).

    Dynamic partition overwrite replaces each touched 10k-block bucket
    WHOLESALE, so the batch's rows alone must never be the new bucket
    contents: a micro-batch covering part of a bucket would silently delete
    every other block already in it. The surviving rows of each touched
    bucket (blocks NOT replaced by this batch) are read back, lineage-cut
    with an eager localCheckpoint (Spark refuses to overwrite a path it is
    still reading), and rewritten together with the batch. Replaying the
    same batch is a no-op rewrite. (On a transactional table format —
    Delta/Iceberg — this whole dance is a MERGE; parquet-only sinks pay
    the bucket rewrite.)

    `blocks` names the block numbers this micro-batch replaces. When given,
    EVERY stored row of those blocks is deleted, including blocks the
    batch has no rows for: a reorged block whose new version carries no
    transactions loses its old ones (T4). Every batch row must then lie in
    `blocks`; a row outside it would overwrite its bucket without that
    bucket's surviving rows. When omitted, the replaced blocks are those
    that appear in `batch` — a block absent from this table's rows keeps
    whatever the sink already holds for it.

    Costs, stated plainly: without `blocks`, one driver collect of the
    batch's distinct (bucket, block) keys — at most one row per batch
    block — names the touched buckets; with `blocks` the buckets follow
    from the numbers and that job is skipped. The read-back is then one
    filter on the bucket partition column (pruned to the touched
    partitions) and the block column, checkpointed eagerly. Every
    micro-batch still rewrites ALL surviving rows of every touched bucket,
    so per-batch cost grows with bucket fill (bounded by bucket size x
    touched buckets, never by table size). The eager localCheckpoint lives
    in UNREPLICATED executor storage: losing an executor between
    checkpoint and write fails the batch (Structured Streaming then
    replays it — correctness holds, one batch of latency is lost).
    Production alternatives: reliable checkpoint() to HDFS/S3, or a
    staging-path write-then-swap."""
    spark = batch.sparkSession
    out = with_block_bucket(batch, block_col)
    path = f"{base_path}/{table}"
    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            existing = None
        else:
            raise
    if existing is not None:
        if blocks is None:
            keys = out.select(BLOCK_BUCKET_COL, block_col).distinct().collect()
            keys = [k for k in keys if k[1] is not None]
        else:
            keys = [(int(b) // BLOCK_BUCKET_SIZE, int(b)) for b in blocks]
        if keys:
            buckets = sorted({k[0] for k in keys})
            replaced = sorted({k[1] for k in keys})
            keep = existing.filter(
                F.col(BLOCK_BUCKET_COL).isin(buckets) & ~F.col(block_col).isin(replaced)
            ).localCheckpoint(eager=True)
            out = keep.unionByName(out)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BLOCK_BUCKET_COL)
        .parquet(path)
    )


def dedup_against_sink(
    batch_skeletons: DataFrame, spark: SparkSession, base_path: str
) -> DataFrame:
    """T5: keep only skeletons not yet in the sink (left-anti against the
    skeleton table), then append. Stateless — state lives in the table.
    A missing table means 'first batch'; a FAILING read raises (returning
    the batch unfiltered would append duplicates into a table whose
    contract is global uniqueness — corruption appends can't undo)."""
    existing = _read_sink_or_none(spark, "skeletons", base_path)
    if existing is None:
        return batch_skeletons
    return batch_skeletons.join(
        existing.select("skeleton_hash"), "skeleton_hash", "left_anti"
    )


def backfill_then_live(
    spark: SparkSession,
    source_blocks: Callable[[int, int], DataFrame],
    head: int,
    base_path: str,
    batch_handler: Callable[[DataFrame, str], None],
    backfill_batch: int = 10_000,
) -> int:
    """T2: bounded catch-up from max(indexed)+1 to `head` in bucket-sized
    batch jobs, before any stream starts. `source_blocks(lo, hi)` yields the
    raw block rows for [lo, hi]. Returns the next block to stream from."""
    start = last_indexed_block(spark, base_path) + 1
    lo = start
    while lo <= head:
        hi = min(lo + backfill_batch - 1, head)
        batch_handler(source_blocks(lo, hi), base_path)
        lo = hi + 1
    return head + 1


def start_block_stream(
    stream_df: DataFrame,
    base_path: str,
    derive_and_write: Callable[[DataFrame, int, str], None],
    checkpoint: str,
    trigger_secs: int | None = None,
    available_now: bool = False,
):
    """T1: attach the shared derivation to a block stream via foreachBatch.

    `stream_df` is any streaming DataFrame of raw block rows (file source
    over a landing dir, Kafka of new heads, rate source in tests).
    `derive_and_write(batch_df, batch_id, base_path)` runs the batch
    pipeline + idempotent writes — exactly-once per block partition even if
    a micro-batch replays after failure (T3)."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        derive_and_write(batch_df, batch_id, base_path)

    w = stream_df.writeStream.foreachBatch(_handle).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_secs:
        w = w.trigger(processingTime=f"{trigger_secs} seconds")
    return w.start()
