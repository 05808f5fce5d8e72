"""Contract-lifetime analytics RQ1-RQ4 (SURVEY.md §2.5 A8-A11, §2.4 J8).

Reference semantics (src/analysys/lifetimes.rs):
  - RQ1 (:65-82): how many contracts were destroyed at least once vs never.
  - RQ2 (:84-104): of destroyed contracts, destroyed exactly once vs multiple.
  - RQ3 (:106-157): deploy+destroy pairs in the same block / same tx — pair
    count and distinct-contract count.
  - RQ4 (:159-294): lifetime = max(destruction block) - min(deploy block)
    (and the same in seconds from datetimes); mean + population stddev.

Spark-first: everything is groupBy/join on `contract` — one shuffle key reused
across all four questions. The reference streams the whole graph to one
machine and folds with rayon; here each RQ is a distributed agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def per_contract_lifecycle(deployments: DataFrame, destructions: DataFrame) -> DataFrame:
    """One row per deployed contract: deploy/destroy counts and block
    extrema (W3). One groupBy over a tagged union of both event kinds.
    Contracts never deployed are dropped. Destructions of a null contract
    are not counted: a deployed null contract has destroy_count = 0 and
    null destroy blocks, as under an equi-join on `contract`."""
    dep = F.col("_dep")
    block = F.col("block_number")
    events = deployments.select("contract", "block_number", F.lit(True).alias("_dep")).unionByName(
        destructions.filter(F.col("contract").isNotNull()).select(
            "contract", "block_number", F.lit(False).alias("_dep")
        )
    )
    return (
        events.groupBy("contract")
        .agg(
            F.count(F.when(dep, 1)).alias("deploy_count"),
            F.min(F.when(dep, block)).alias("first_deploy_block"),
            F.max(F.when(dep, block)).alias("last_deploy_block"),
            F.count(F.when(~dep, 1)).alias("destroy_count"),
            F.min(F.when(~dep, block)).alias("first_destroy_block"),
            F.max(F.when(~dep, block)).alias("last_destroy_block"),
        )
        .filter(F.col("deploy_count") > 0)
    )


def rq1_destroyed_vs_not(lifecycle: DataFrame) -> DataFrame:
    return lifecycle.agg(
        F.count(F.when(F.col("destroy_count") > 0, 1)).alias("destroyed"),
        F.count(F.when(F.col("destroy_count") == 0, 1)).alias("never_destroyed"),
    )


def rq2_destroyed_once_vs_multiple(lifecycle: DataFrame) -> DataFrame:
    return lifecycle.filter(F.col("destroy_count") > 0).agg(
        F.count(F.when(F.col("destroy_count") == 1, 1)).alias("destroyed_once"),
        F.count(F.when(F.col("destroy_count") > 1, 1)).alias("destroyed_multiple"),
    )


def rq3_same_block_tx(deployments: DataFrame, destructions: DataFrame) -> DataFrame:
    """J8/A10: deploy x destroy pairs per contract, same-block and same-tx.
    One per-contract count of matching pairs, then one global sum; the
    sums are coalesced so empty input still returns one row of zeros."""
    dep = deployments.select("contract", F.col("block_number").alias("dep_block"), F.col("tx_hash").alias("dep_tx"))
    des = destructions.select("contract", F.col("block_number").alias("des_block"), F.col("tx_hash").alias("des_tx"))
    per_contract = (
        dep.join(des, "contract")
        .groupBy("contract")
        .agg(
            F.count(F.when(F.col("dep_block") == F.col("des_block"), 1)).alias("_block"),
            F.count(F.when(F.col("dep_tx") == F.col("des_tx"), 1)).alias("_tx"),
        )
    )
    return per_contract.agg(
        F.coalesce(F.sum("_block"), F.lit(0)).alias("same_block_pairs"),
        F.count(F.when(F.col("_block") > 0, 1)).alias("same_block_contracts"),
        F.coalesce(F.sum("_tx"), F.lit(0)).alias("same_tx_pairs"),
        F.count(F.when(F.col("_tx") > 0, 1)).alias("same_tx_contracts"),
    )


def rq4_lifetime_stats(lifecycle: DataFrame, blocks: DataFrame | None = None) -> DataFrame:
    """A11: avg + stddev_pop of (max destroy block - min deploy block) over
    destroyed contracts; if `blocks` given, also in seconds via timestamps."""
    destroyed = lifecycle.filter(F.col("destroy_count") > 0).withColumn(
        "lifetime_blocks", F.col("last_destroy_block") - F.col("first_deploy_block")
    )
    out = destroyed.agg(
        F.avg("lifetime_blocks").alias("avg_lifetime_blocks"),
        F.stddev_pop("lifetime_blocks").alias("stddev_lifetime_blocks"),
    )
    if blocks is not None:
        ts = blocks.select(F.col("number").alias("_bn"), F.col("timestamp").alias("_ts"))
        with_ts = (
            destroyed.join(ts.withColumnRenamed("_ts", "_dep_ts"), destroyed["first_deploy_block"] == ts["_bn"])
            .drop("_bn")
            .join(
                ts.withColumnRenamed("_ts", "_des_ts"),
                F.col("last_destroy_block") == ts["_bn"],
            )
            .withColumn("lifetime_secs", F.col("_des_ts") - F.col("_dep_ts"))
        )
        secs = with_ts.agg(
            F.avg("lifetime_secs").alias("avg_lifetime_secs"),
            F.stddev_pop("lifetime_secs").alias("stddev_lifetime_secs"),
        )
        out = out.crossJoin(secs)
    return out
