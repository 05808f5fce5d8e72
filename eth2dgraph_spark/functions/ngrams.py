"""Opcode tokenizer + n-grams (P15) feeding the similarity kernels (A5-A7).

Reference: src/analysys/similarities.rs:113-143 — walk the bytecode, skip
PUSH argument bytes, emit the opcode sequence; slide a window of n (default 5)
and count n-gram frequencies.

Spark-first: the tokenizer is a Python kernel (sequential scan), but the
n-gram *rows* form — (id, ngram, count) — is the native representation: it
feeds groupBy/join-based cosine (A6) without MapType wrangling, distributes
the frequency counting, and lets the similarity join block on shared n-grams
instead of all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StringType
from .hexparse import parse_bytecode_hex

from .skeleton import _NP_MIN_BYTES, instruction_mask

DEFAULT_N = 5  # src/main.rs:132-134


def _opcode_tokens_scalar(code: bytes) -> list[int]:
    out = []
    i = 0
    n = len(code)
    while i < n:
        op = code[i]
        out.append(op)
        i += 1
        if 0x60 <= op <= 0x7F:
            i += op - 0x5F
    return out


def opcode_tokens(code: bytes) -> bytes:
    """Opcode sequence with PUSH args skipped, as a byte string
    (src/analysys/similarities.rs:113-126). Shares the vectorized
    instruction-start mask with the skeleton kernel (P8).

    API NOTE: this returns ``bytes``, not ``list[int]`` (it changed in an
    early revision to feed numpy zero-copy). ``bytes`` still iterates and
    indexes as ints, but is NOT ``==`` to the old list form — callers that
    compared against lists need ``list(opcode_tokens(code))``."""
    if len(code) < _NP_MIN_BYTES:
        return bytes(_opcode_tokens_scalar(code))
    arr = np.frombuffer(code, dtype=np.uint8)
    return arr[instruction_mask(arr)].tobytes()


def opcode_ngrams(code: bytes, n: int = DEFAULT_N) -> list[str]:
    """All n-grams (as hex strings) of the opcode sequence — duplicates kept;
    frequency counting happens in the groupBy (A5).

    Hex encoding happens ONCE over the whole token string (C speed); each
    n-gram is then a 2n-char slice of that hex string — no per-gram
    bytes()/hex() round trip."""
    toks = opcode_tokens(code)
    m = len(toks) - n + 1
    if m <= 0:
        return []
    h = toks.hex()
    return [h[2 * i : 2 * (i + n)] for i in range(m)]


def _ngram_udf(n: int):
    @pandas_udf(ArrayType(StringType()))
    def udf(code_hex: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            code = parse_bytecode_hex(v)
            return [] if code is None else opcode_ngrams(code, n)

        return code_hex.map(one)

    return udf


def _packed_ngram_udf(n: int):
    """n-grams packed losslessly into int64 (big-endian byte order, n <= 8;
    n = 8 wraps through the sign bit but stays injective mod 2^64). The
    whole kernel is numpy — sliding windows + one matmul — so no Python
    string is ever materialized, and every downstream shuffle/join moves
    8-byte longs instead of 2n-char strings."""
    powers = np.array([256 ** i for i in range(n - 1, -1, -1)], dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def udf(code_hex: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            code = parse_bytecode_hex(v)
            if code is None:
                return []
            toks = np.frombuffer(opcode_tokens(code), dtype=np.uint8)
            m = toks.shape[0] - n + 1
            if m <= 0:
                return []
            win = np.lib.stride_tricks.sliding_window_view(toks, n).astype(np.int64)
            return (win @ powers).tolist()

        return code_hex.map(one)

    return udf


def ngram_rows(
    skeletons: DataFrame,
    id_col: str = "skeleton_hash",
    code_col: str = "bytecode",
    n: int = DEFAULT_N,
    packed: bool | None = None,
) -> DataFrame:
    """(id, ngram, cnt) frequency rows — A5
    (src/analysys/similarities.rs:127-142).

    By default (n <= 8) the ngram column is the PACKED int64 form — an
    injective encoding, so counts, joins, and cosine similarity over these
    rows are identical to the hex-string form while shuffling 8-byte keys.
    Pass packed=False for the human-readable hex n-grams.

    The output type depends on the mode: LONG when packed, STRING when not.
    To keep that flip from being silent: packed=True with n > 8 is an ERROR
    (int64 packing stops being injective there — it would return wrong
    counts, not a wrong type), and leaving packed unset with n > 8 warns
    that the column type differs from the n <= 8 default."""
    if packed is None:
        packed = n <= 8
        if not packed:
            import warnings

            warnings.warn(
                f"ngram_rows(n={n}): ngram column will be STRING (hex); the "
                "n <= 8 default is packed LONG. Pass packed=False explicitly "
                "to silence.",
                stacklevel=2,
            )
    elif packed and n > 8:
        raise ValueError(
            f"packed int64 n-grams require n <= 8 (got n={n}); packing more "
            "than 8 opcode bytes into int64 is not injective"
        )
    udf = _packed_ngram_udf(n) if packed else _ngram_udf(n)
    # explode_outer + a null filter, not explode: under an inner explode
    # Catalyst infers a size(_ngrams) > 0 filter below the Generate, and
    # that filter evaluates the pandas UDF a second time in its own
    # ArrowEvalPython. The UDF's arrays hold no nulls, so the rows are the
    # same.
    return (
        skeletons.select(F.col(id_col).alias("id"), udf(F.col(code_col)).alias("_ngrams"))
        .select("id", F.explode_outer("_ngrams").alias("ngram"))
        .filter(F.col("ngram").isNotNull())
        .groupBy("id", "ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
