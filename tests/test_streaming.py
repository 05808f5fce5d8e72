"""Streaming-mode tests (T1-T5): idempotent per-block overwrite, backfill
then live, sink-backed skeleton dedup, and a real foreachBatch stream over a
file source."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from eth2dgraph_spark.schemas import BLOCKS
from eth2dgraph_spark.streaming.live import (
    backfill_then_live,
    dedup_against_sink,
    last_indexed_block,
    process_block_batch,
)

from .fixtures import make_chain


def _blocks_df(spark, lo, hi, miner="0xaaa"):
    rows = [(b, b * 12, miner, "1", 30_000_000, 10, None, 100) for b in range(lo, hi + 1)]
    return spark.createDataFrame(rows, BLOCKS)


def test_idempotent_partition_overwrite(spark, tmp_path):
    base = str(tmp_path / "sink")
    b1 = _blocks_df(spark, 1, 100)
    process_block_batch(b1, base, "blocks", block_col="number")
    # replay the same range with different content (reorg): same row count,
    # new values — the partition is REPLACED, not appended (T3)
    b2 = _blocks_df(spark, 1, 100, miner="0xbbb")
    process_block_batch(b2, base, "blocks", block_col="number")
    got = spark.read.parquet(f"{base}/blocks")
    assert got.count() == 100
    assert got.select("miner").distinct().collect()[0]["miner"] == "0xbbb"


def test_partial_overwrite_keeps_other_buckets(spark, tmp_path):
    base = str(tmp_path / "sink2")
    process_block_batch(_blocks_df(spark, 1, 15000), base, "blocks", block_col="number")
    # overwrite only bucket 0 (blocks < 10000)
    process_block_batch(_blocks_df(spark, 1, 9999, miner="0xccc"), base, "blocks", block_col="number")
    got = spark.read.parquet(f"{base}/blocks")
    assert got.count() == 15000  # bucket 1 untouched
    assert got.filter(F.col("number") >= 10000).count() == 5001


def test_last_indexed_and_backfill(spark, tmp_path):
    base = str(tmp_path / "sink3")
    assert last_indexed_block(spark, base) == -1
    process_block_batch(_blocks_df(spark, 0, 49), base, "blocks", block_col="number")
    assert last_indexed_block(spark, base) == 49

    calls = []

    def source(lo, hi):
        calls.append((lo, hi))
        return _blocks_df(spark, lo, hi)

    def handler(df, path):
        process_block_batch(df, path, "blocks", block_col="number")

    next_block = backfill_then_live(spark, source, head=120, base_path=base,
                                    batch_handler=handler, backfill_batch=30)
    assert next_block == 121
    assert calls == [(50, 79), (80, 109), (110, 120)]  # bounded batches (T2)
    assert last_indexed_block(spark, base) == 120
    # ALL blocks survive: batches share bucket 0, and each partial-bucket
    # write must merge with the surviving blocks, not replace the bucket
    # (this exact scenario previously lost blocks 0-49 silently)
    got = spark.read.parquet(f"{base}/blocks")
    assert got.count() == 121
    assert got.select(F.min("number"), F.max("number")).collect()[0] == (0, 120)


def test_partial_batch_within_bucket_preserves_existing_blocks(spark, tmp_path):
    # sequential micro-batches inside ONE 10k bucket: every earlier block
    # must survive each later partial write, and replays stay idempotent
    base = str(tmp_path / "sink5")
    process_block_batch(_blocks_df(spark, 0, 9), base, "blocks", block_col="number")
    process_block_batch(_blocks_df(spark, 10, 19), base, "blocks", block_col="number")
    process_block_batch(_blocks_df(spark, 5, 12, miner="0xeee"), base, "blocks", block_col="number")  # reorg replay
    got = spark.read.parquet(f"{base}/blocks")
    assert got.count() == 20  # nothing lost, nothing duplicated
    assert got.filter(F.col("miner") == "0xeee").count() == 8  # 5..12 replaced


def test_reorg_replaces_blocks_without_rows(spark, tmp_path):
    # T4: a reorged block 2 whose new version has no txs. The batch's rows
    # alone cannot say block 2 was replaced; `blocks` does.
    def txs(rows):
        return spark.createDataFrame(rows, "hash string, block_number long")

    first = [("a1", 1), ("a2", 2), ("a3", 3), ("a4", 4)]
    replay = txs([("b1", 1), ("b3", 3)])
    for blocks, want in (
        (None, {"a2", "a4", "b1", "b3"}),  # omitted: block 2 keeps its rows
        ([1, 2, 3], {"a4", "b1", "b3"}),
    ):
        base = str(tmp_path / f"sink_{blocks is None}")
        process_block_batch(txs(first), base, "transactions")
        process_block_batch(replay, base, "transactions", blocks=blocks)
        got = {r["hash"] for r in spark.read.parquet(f"{base}/transactions").collect()}
        assert got == want, blocks


# Spark jobs a repeat process_block_batch on a 10-block batch may run: the
# sink's footer-schema read, the key distinct (shuffle + collect), the
# read-back checkpoint and the write. Measured 5 on local[4]; the broadcast
# semi-join + left-anti form it replaced ran 7.
_REWRITE_JOB_FLOOR = 5


def test_repeat_batch_job_floor(spark, tmp_path):
    base = str(tmp_path / "sink_jobs")
    sc = spark.sparkContext
    process_block_batch(_blocks_df(spark, 0, 9), base, "blocks", block_col="number")
    batch = _blocks_df(spark, 5, 14, miner="0xddd")
    group = "test_repeat_batch_job_floor"
    sc.setJobGroup(group, "second process_block_batch")
    try:
        process_block_batch(batch, base, "blocks", block_col="number")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= _REWRITE_JOB_FLOOR, len(jobs)
    got = spark.read.parquet(f"{base}/blocks")
    assert got.count() == 15
    assert got.filter(F.col("miner") == "0xddd").count() == 10


def test_skeleton_dedup_against_sink(spark, tmp_path):
    from eth2dgraph_spark.sources.eth import write_eth_table

    base = str(tmp_path / "sink4")
    existing = spark.createDataFrame(
        [("0xsk1", "0x60", False, 0, 0, 1)],
        "skeleton_hash string, bytecode string, failed_decompilation boolean, "
        "erc20_compliancy int, erc721_compliancy int, first_block long",
    )
    write_eth_table(existing, "skeletons", base)
    batch = spark.createDataFrame(
        [("0xsk1", "0x60"), ("0xsk2", "0x61")], "skeleton_hash string, bytecode string"
    )
    fresh = dedup_against_sink(batch, spark, base)
    assert [r["skeleton_hash"] for r in fresh.collect()] == ["0xsk2"]  # T5


def test_foreachbatch_stream_end_to_end(spark, tmp_path):
    """T1: a real Structured Streaming run — file source of raw block rows,
    foreachBatch derivation (gas stats via the shared batch operator),
    idempotent partition write, availableNow trigger."""
    from eth2dgraph_spark.operators.blocks import gas_price_stats
    from eth2dgraph_spark.streaming.live import start_block_stream

    landing = str(tmp_path / "landing")
    base = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    _, txs, _, _ = make_chain(spark, n_blocks=6, txs_per_block=5)
    txs.write.parquet(landing)

    stream = spark.readStream.schema(txs.schema).parquet(landing)

    def derive_and_write(batch_df, batch_id, base_path):
        stats = gas_price_stats(batch_df)
        process_block_batch(stats, base_path, "block_gas_stats")

    q = start_block_stream(stream, base, derive_and_write, ckpt, available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{base}/block_gas_stats")
    assert got.count() == 6
    assert "gas_price_std_dev" in got.columns
