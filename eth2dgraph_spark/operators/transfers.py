"""Token-transfer decode from logs (SURVEY.md §2.3 P5, P10; §2.1 S4).

Reference semantics (src/extraction/logs.rs:45-113): keep logs whose topic[0]
is keccak("Transfer(address,address,uint256)"); 3 topics -> ERC-20 (value is
the first 32-byte word of data), 4 topics -> ERC-721 (token_id is topic[3]);
anything else under the Transfer signature is dropped (logs.rs:52-58).
Addresses are the low 20 bytes of the 32-byte topics.

Spark-first: pure column expressions — the topic0 equality filter is pushed
into the Parquet scan (the engine-side analog of the reference's server-side
eth_getLogs topic filter, logs.rs:12-30); hex word slicing via substring.
U256 values stay canonical as hex-derived decimal *strings*; a Decimal(38,0)
companion is provided for arithmetic within documented bounds (SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import TRANSFER_TOPIC


def explode_topics(logs: DataFrame, n: int = 4) -> DataFrame:
    """P10: topics array -> topic_0..topic_{n-1} columns
    (src/models/log.rs:157-175)."""
    out = logs
    for i in range(n):
        out = out.withColumn(
            f"topic_{i}", F.get("topics", i)
        )
    return out


def _topic_to_address(topic):
    """32-byte topic -> 20-byte address: '0x' + last 40 hex chars."""
    return F.concat(F.lit("0x"), F.substring(topic, -40, 40))


def _hex_word_to_decimal_string(word):
    """0x-prefixed 32-byte hex word -> decimal string (exact U256).

    conv() works on unsigned 64-bit, so split the 256-bit word into four
    64-bit limbs and recombine exactly with Decimal(38) arithmetic per limb
    pair — all JVM-side, no UDF. 2^256 needs 78 digits, beyond Decimal(38),
    so the recombination happens in string space via a final concat-free sum
    using Decimal(38,0) on the low 128 bits and a separate high-128 check.

    Practical bound: token values overwhelmingly fit well under 10^38.
    Decimal(38,0) holds at most 10^38 - 1 (38 digits), NOT the full 128-bit
    range (~3.4e38), so the exact-decimal path covers values <= 10^38 - 1 and
    we fall back to the raw hex word for anything larger — both values in
    [10^38, 2^128) and values with nonzero high 128 bits — flagged by the
    returned overflow column. The boundary is exact:
        10^38 - 1 = T * 2^64 + R  with  T = 5421010862427522170,
                                        R = 687399551400673279.
    """
    h = F.lpad(F.regexp_replace(word, "^0x", ""), 64, "0")
    hi = F.substring(h, 1, 32)  # high 128 bits
    lo_hi = F.conv(F.substring(h, 33, 16), 16, 10).cast("decimal(38,0)")
    lo_lo = F.conv(F.substring(h, 49, 16), 16, 10).cast("decimal(38,0)")
    # 2^64 exceeds a Java long, so go through the SQL parser's decimal literal
    two64 = F.expr("CAST(18446744073709551616 AS DECIMAL(38,0))")
    # exact capacity check: lo_hi*2^64 + lo_lo > 10^38-1  <=>
    #   lo_hi > T  or  (lo_hi == T and lo_lo > R)
    cap_t = F.lit(5421010862427522170).cast("decimal(38,0)")
    cap_r = F.lit(687399551400673279).cast("decimal(38,0)")
    overflow = (
        (hi != F.lit("0" * 32))
        | (lo_hi > cap_t)
        | ((lo_hi == cap_t) & (lo_lo > cap_r))
    )
    low128 = (lo_hi * two64 + lo_lo).cast("decimal(38,0)")
    return F.when(overflow, word).otherwise(low128.cast("string")), overflow


def decode_token_transfers(logs: DataFrame) -> DataFrame:
    """P5: logs -> token_transfers rows (ERC-20 / ERC-721 discriminated by
    topic count, src/extraction/logs.rs:52-58)."""
    t = logs.filter(
        F.get("topics", 0) == TRANSFER_TOPIC  # null-safe: get() tolerates empty arrays (ANSI mode)
    ).filter(F.size("topics").isin(3, 4))

    n_topics = F.size("topics")
    erc20 = n_topics == 3
    first_word = F.concat(F.lit("0x"), F.substring(F.regexp_replace("data", "^0x", ""), 1, 64))
    value_dec, value_ovf = _hex_word_to_decimal_string(first_word)
    token_id_dec, token_id_ovf = _hex_word_to_decimal_string(F.get("topics", 3))

    # the overflow flag is part of the row contract, not discarded: when
    # true, value/token_id hold the RAW 0x-hex word (values >= 10^38 —
    # routine for keccak-derived ERC-721 token ids), which downstream
    # consumers must parse as hex (functions/u256.py does)
    return t.select(
        F.col("address").alias("contract"),
        _topic_to_address(F.get("topics", 1)).alias("from"),
        _topic_to_address(F.get("topics", 2)).alias("to"),
        F.when(erc20, value_dec).alias("value"),
        F.when(~erc20, token_id_dec).alias("token_id"),
        F.when(erc20, F.lit("erc20")).otherwise(F.lit("erc721")).alias("token_type"),
        F.when(erc20, value_ovf).otherwise(token_id_ovf).alias("value_overflow"),
        F.col("block_number"),
        F.col("tx_hash"),
        F.col("log_index"),
    )
