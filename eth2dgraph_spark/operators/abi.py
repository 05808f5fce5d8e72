"""ABI / skeleton-table derivations (SURVEY.md §2.3 P13-P14, §2.5 A3-A4,
§2.4 J2-J3).

Reference semantics:
  - A3: one Skeleton row per distinct skeleton hash, first writer wins
    (DashMap at src/extraction/extract.rs:170-246).
  - A4/K2: functions/events/errors globally deduped on signature
    (src/extraction/writer.rs:56-58,163-191).
  - P13: signature = keccak256("name(type1,type2)"); Unresolved_xxxxxxxx
    function names hash normally; Event_<64-hex> names carry the hash
    verbatim (src/models/function.rs:18-28, src/models/event.rs:15-30).
  - P14: ERC-20 compliancy = how many of the 6 standard function signatures
    the skeleton's ABI contains; ERC-721 the 9 (src/models/skeleton.rs:38-157).

Scale notes: dedup is a shuffle on the hash key — exactly the partitioning the
downstream join (J2 deployments->skeletons) wants, so the exchange is reused.
The expensive per-skeleton work (decompile UDF) runs strictly after
dropDuplicates, the dedup-before-UDF pattern Catalyst won't insert for us
(SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.keccak import keccak256_hex, keccak256_udf

# The 6 ERC-20 standard function signatures probed by
# src/models/skeleton.rs:38-84 (name + input types).
ERC20_FUNCTIONS = [
    "totalSupply()",
    "balanceOf(address)",
    "transfer(address,uint256)",
    "transferFrom(address,address,uint256)",
    "approve(address,uint256)",
    "allowance(address,address)",
]

# The 9 ERC-721 standard function signatures probed by
# src/models/skeleton.rs:86-157.
ERC721_FUNCTIONS = [
    "balanceOf(address)",
    "ownerOf(uint256)",
    "safeTransferFrom(address,address,uint256,bytes)",
    "safeTransferFrom(address,address,uint256)",
    "transferFrom(address,address,uint256)",
    "approve(address,uint256)",
    "setApprovalForAll(address,bool)",
    "getApproved(uint256)",
    "isApprovedForAll(address,address)",
]


def distinct_skeletons(
    deployments: DataFrame,
    bytecode_col: str = "deployed_bytecode",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """A3: first-writer-wins skeleton table from deployments.

    row_number over (skeleton_hash order by block, tx) = 1 keeps the earliest
    deployment's bytecode as the canonical skeleton row, matching the
    reference's first-discovery emission (src/extraction/extract.rs:170-246).
    THE single definition of the first-writer-wins rule — derive_skeleton_tables
    reuses it (with `bytecode_col`/`extra_cols`) so a tie-break change can
    never drift between the two call sites.
    """
    w = Window.partitionBy("skeleton_hash").orderBy(
        F.col("block_number").asc_nulls_last(), F.col("tx_hash").asc_nulls_last()
    )
    return (
        deployments.filter(F.col("skeleton_hash").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "skeleton_hash",
            F.col(bytecode_col).alias("bytecode"),
            *extra_cols,
            F.col("block_number").alias("first_block"),
        )
    )


def dedup_abi(abi: DataFrame) -> DataFrame:
    """A4/K2: one abi row per signature (src/extraction/writer.rs:163-191)."""
    return abi.dropDuplicates(["signature"])


def function_signature_column(name, inputs):
    """P13 for functions: keccak256('name(inputs)') as 0x-hex.

    Unresolved_xxxxxxxx names are hashed like any other (the reference hashes
    the literal string, src/models/function.rs:18-28)."""
    return keccak256_udf(F.concat(name, F.lit("("), F.coalesce(inputs, F.lit("")), F.lit(")")))


def event_signature_column(name, inputs):
    """P13 for events/errors: Event_<64-hex> names pass the embedded hash
    through verbatim (src/models/event.rs:15-30)."""
    embedded = F.regexp_extract(name, r"^(?:Event|Error)_([0-9a-fA-F]{64})$", 1)
    return F.when(embedded != "", F.concat(F.lit("0x"), F.lower(embedded))).otherwise(
        function_signature_column(name, inputs)
    )


def with_signatures(abi: DataFrame) -> DataFrame:
    """Attach signature + bytes4 to raw abi rows (name, type, inputs[, outputs])."""
    sig = F.when(
        F.col("type").isin("event", "error"),
        event_signature_column(F.col("name"), F.col("inputs")),
    ).otherwise(function_signature_column(F.col("name"), F.col("inputs")))
    out = abi.withColumn("signature", sig)
    # bytes4: Unresolved_xxxxxxxx names carry the REAL dispatch selector in
    # the name (the signature hash of the synthetic name is wrong by
    # construction) — src/models/function.rs:60-64.
    embedded_sel = F.regexp_extract(F.col("name"), r"^Unresolved_([0-9a-fA-F]{8})$", 1)
    return out.withColumn(
        "bytes4",
        F.when(
            F.col("type") == "function",
            F.when(embedded_sel != "", F.concat(F.lit("0x"), F.lower(embedded_sel))).otherwise(
                F.concat(F.lit("0x"), F.substring("signature", 3, 8))
            ),
        ),
    )


def compliancy_scores(membership: DataFrame) -> DataFrame:
    """P14: per-skeleton ERC-20 (0-6) and ERC-721 (0-9) compliancy.

    One groupBy over the skeleton->signature bridge (J3) counts, per
    skeleton, the function rows whose signature is in each standard list —
    the Spark-native form of the reference's per-ABI probing loop
    (src/models/skeleton.rs:38-157). The 15 standard signatures are hashed
    on the driver, so the bridge is scanned once and no join is planned.
    Needs only the membership bridge (skeleton_hash, signature, type).
    """
    is_function = F.col("type") == "function"

    def score(names: list[str], alias: str):
        sigs = ["0x" + keccak256_hex(n.encode()) for n in names]
        hit = is_function & F.col("signature").isin(sigs)
        return F.count(F.when(hit, 1)).cast("int").alias(alias)

    return membership.groupBy("skeleton_hash").agg(
        score(ERC20_FUNCTIONS, "erc20_compliancy"),
        score(ERC721_FUNCTIONS, "erc721_compliancy"),
    )
