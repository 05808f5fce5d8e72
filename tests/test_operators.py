"""DataFrame-operator tests on handcrafted eth-shaped fixtures
(FIXTURES.md schemas; expected values per SURVEY.md §2 / FIXTURES.md §2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth2dgraph_spark.functions.keccak import keccak256_hex
from eth2dgraph_spark.operators import abi as abi_ops
from eth2dgraph_spark.operators import blocks, lifetimes, similarity, traces, transfers
from eth2dgraph_spark.functions.ngrams import ngram_rows
from eth2dgraph_spark.schemas import TRACES, TRANSFER_TOPIC, ZERO_ADDRESS


# ------------------------------------------------------------------ traces

@pytest.fixture()
def trace_df(spark):
    rows = [
        # tx1: root create ok, nested create under failed parent
        (1, "0xt1", [], "create", None, "0xa", "0xinit1", None, None, None, "0xc1", "0x60ff"),
        (1, "0xt1", [0], "call", "Reverted", "0xa", None, None, None, None, None, None),
        (1, "0xt1", [0, 0], "create", None, "0xa", "0xinit2", None, None, None, "0xc2", "0x60aa"),
        (1, "0xt1", [0, 1], "call", None, "0xa", None, None, None, None, None, None),
        (1, "0xt1", [1], "call", None, "0xa", None, None, None, None, None, None),
        # tx2: suicide
        (2, "0xt2", [], "suicide", None, None, None, "0xc1", "123", "0xr", None, None),
        # tx2: failed suicide (own error)
        (2, "0xt2", [0], "suicide", "OutOfGas", None, None, "0xc2", "0", "0xr", None, None),
    ]
    return spark.createDataFrame(rows, TRACES)


def test_error_propagation(spark, trace_df):
    out = traces.propagate_trace_errors(trace_df)
    got = {(r["tx_hash"], tuple(r["trace_address"] or [])): r["error"] for r in out.collect()}
    assert got[("0xt1", ())] is None
    # reference's non-strict prefix (src/extraction/traces.rs:28): an errored
    # trace matches itself, so its OWN error string is overwritten too
    assert got[("0xt1", (0,))] == traces.PARENT_FAILED
    assert got[("0xt1", (0, 0))] == traces.PARENT_FAILED  # inherited
    assert got[("0xt1", (0, 1))] == traces.PARENT_FAILED
    assert got[("0xt1", (1,))] is None  # sibling unaffected
    assert got[("0xt2", (0,))] == traces.PARENT_FAILED  # own error, overwritten
    assert got[("0xt2", ())] is None


def test_extract_deployments(spark, trace_df):
    deps = traces.extract_deployments(trace_df).collect()
    by_contract = {r["contract"]: r for r in deps}
    assert set(by_contract) == {"0xc1", "0xc2"}
    assert by_contract["0xc1"]["failed_deploy"] is False
    assert by_contract["0xc2"]["failed_deploy"] is True  # parent failed
    assert by_contract["0xc1"]["deployed_bytecode"] == "0x60ff"


def test_extract_destructions(spark, trace_df):
    des = traces.extract_destructions(trace_df).collect()
    by_contract = {r["contract"]: r for r in des}
    assert by_contract["0xc1"]["failed"] is False
    assert by_contract["0xc1"]["balance_left"] == "123"
    assert by_contract["0xc2"]["failed"] is True


# ------------------------------------------------------------------ blocks

def test_gas_price_stats(spark):
    txs = spark.createDataFrame(
        [(1, 10 * 10**9), (1, 20 * 10**9), (1, None), (2, 5 * 10**9)],
        "block_number long, gas_price long",
    )
    got = {r["block_number"]: r for r in blocks.gas_price_stats(txs).collect()}
    assert got[1]["tx_count"] == 3  # all txs counted (block.rs:75)
    assert got[1]["gas_price_min"] == 10.0  # Gwei, nulls excluded (block.rs:38-40)
    assert got[1]["gas_price_max"] == 20.0
    assert got[1]["gas_price_avg"] == 15.0
    assert got[1]["gas_price_std_dev"] == 5.0  # population stddev (block.rs:57-61)
    assert got[2]["gas_price_std_dev"] == 0.0


def test_tx_normalize_and_bytes4(spark):
    txs = spark.createDataFrame(
        [("0xh1", None, "0xa9059cbb0001"), ("0xh2", "0xb", "0x"), ("0xh3", "0xb", "0xaabb")],
        "hash string, to string, input string",
    )
    out = {r["hash"]: r for r in blocks.tx_bytes4(blocks.normalize_tx_to(txs)).collect()}
    assert out["0xh1"]["to"] == ZERO_ADDRESS  # P12
    assert out["0xh1"]["bytes4"] == "0xa9059cbb"  # P9
    assert out["0xh2"]["bytes4"] is None  # < 4 bytes -> null (transaction.rs:59-63)
    assert out["0xh3"]["bytes4"] is None


# --------------------------------------------------------------- transfers

def test_decode_token_transfers(spark):
    t_erc20 = [TRANSFER_TOPIC, "0x" + "00" * 12 + "aa" * 20, "0x" + "00" * 12 + "bb" * 20]
    t_erc721 = t_erc20 + ["0x" + "00" * 31 + "2a"]  # token_id 42
    rows = [
        (1, "0xt1", 0, 0, "0xc0ffee", t_erc20, "0x" + "00" * 31 + "64", False),  # value 100
        (1, "0xt1", 0, 1, "0xc0ffee", t_erc721, "0x", False),
        (1, "0xt1", 0, 2, "0xc0ffee", [TRANSFER_TOPIC, t_erc20[1]], "0x", False),  # 2 topics: dropped
        (1, "0xt1", 0, 3, "0xc0ffee", ["0xdead"], "0x", False),  # wrong topic0
    ]
    logs = spark.createDataFrame(
        rows,
        "block_number long, tx_hash string, tx_index long, log_index long, "
        "address string, topics array<string>, data string, removed boolean",
    )
    out = {r["log_index"]: r for r in transfers.decode_token_transfers(logs).collect()}
    assert set(out) == {0, 1}  # logs.rs:52-58 drop rule
    assert out[0]["token_type"] == "erc20"
    assert out[0]["value"] == "100"
    assert out[0]["from"] == "0x" + "aa" * 20
    assert out[0]["to"] == "0x" + "bb" * 20
    assert out[1]["token_type"] == "erc721"
    assert out[1]["token_id"] == "42"
    assert out[1]["value"] is None


def test_transfer_value_overflow_keeps_hex(spark):
    big = "0x" + "ff" * 32  # 2^256-1 > decimal(38) -> canonical hex kept
    logs = spark.createDataFrame(
        [(1, "0xt", 0, 0, "0xc", ["%s" % TRANSFER_TOPIC, "0x" + "00" * 32, "0x" + "00" * 32], big, False)],
        "block_number long, tx_hash string, tx_index long, log_index long, "
        "address string, topics array<string>, data string, removed boolean",
    )
    row = transfers.decode_token_transfers(logs).collect()[0]
    assert row["value"] == big


def test_transfer_value_decimal38_boundary(spark):
    # Decimal(38,0) holds up to 10^38-1. Values in [10^38, 2^128) must fall
    # back to the raw hex word (NOT decode to null): the low-128 recombination
    # lo_hi*2^64+lo_lo overflows Decimal(38,0) even with zero high bits.
    fits = 10**38 - 1
    too_big_low128 = 10**38  # zero high-128 bits, still > Decimal(38,0)
    mid_range = 2**127 + 12345  # deep inside [10^38, 2^128)

    def word(v):
        return "0x" + format(v, "064x")

    rows = [
        (1, "0xt", 0, i, "0xc",
         [TRANSFER_TOPIC, "0x" + "00" * 32, "0x" + "00" * 32], word(v), False)
        for i, v in enumerate([fits, too_big_low128, mid_range])
    ]
    logs = spark.createDataFrame(
        rows,
        "block_number long, tx_hash string, tx_index long, log_index long, "
        "address string, topics array<string>, data string, removed boolean",
    )
    out = {r["log_index"]: r["value"] for r in transfers.decode_token_transfers(logs).collect()}
    assert out[0] == str(fits)  # exactly at capacity: exact decimal
    assert out[1] == word(too_big_low128)  # just over: hex fallback, not null
    assert out[2] == word(mid_range)


def test_explode_topics(spark):
    logs = spark.createDataFrame([(["0xa", "0xb"],)], "topics array<string>")
    row = transfers.explode_topics(logs).collect()[0]
    assert row["topic_0"] == "0xa" and row["topic_1"] == "0xb"
    assert row["topic_2"] is None and row["topic_3"] is None


# --------------------------------------------------------------------- abi

def test_signatures_and_bytes4(spark):
    rows = [
        ("function", "transfer", "address,uint256", "bool"),
        ("function", "Unresolved_f8b2cb4f", None, None),
        ("event", "Event_" + "ab" * 32, None, None),
        ("event", "Transfer", "address,address,uint256", None),
    ]
    df = spark.createDataFrame(rows, "type string, name string, inputs string, outputs string")
    out = {r["name"]: r for r in abi_ops.with_signatures(df).collect()}
    assert out["transfer"]["signature"] == "0xa9059cbb2ab09eb219583f4a59a5d0623ade346d962bcd4e46b11da047c9049b"
    assert out["transfer"]["bytes4"] == "0xa9059cbb"
    assert out["Unresolved_f8b2cb4f"]["signature"] == "0xc0d559150c15862e872a031a8e11f466df4b16d14e736187f2e7fb162060f9d0"
    assert out["Event_" + "ab" * 32]["signature"] == "0x" + "ab" * 32  # hash passthrough (event.rs:15-30)
    assert out["Transfer"]["signature"] == "0x" + "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"


def test_compliancy_scores(spark):
    erc20_sigs = ["0x" + keccak256_hex(s.encode()) for s in abi_ops.ERC20_FUNCTIONS]
    rows = [("0xsk1", s, "function") for s in erc20_sigs]  # full ERC-20: 6/6
    rows += [("0xsk2", erc20_sigs[2], "function")]  # transfer only: 1/6
    rows += [("0xsk3", "0xdeadbeef", "event")]
    # an event row carrying an ERC-20 function signature is not a function
    rows += [("0xsk4", erc20_sigs[1], "event")]
    df = spark.createDataFrame(rows, "skeleton_hash string, signature string, type string")
    got = {r["skeleton_hash"]: r for r in abi_ops.compliancy_scores(df).collect()}
    assert got["0xsk1"]["erc20_compliancy"] == 6
    # balanceOf/transferFrom/approve overlap with ERC-721 (skeleton.rs:86-157)
    assert got["0xsk1"]["erc721_compliancy"] == 3
    assert got["0xsk2"]["erc20_compliancy"] == 1
    assert got["0xsk3"]["erc20_compliancy"] == 0
    assert got["0xsk4"]["erc20_compliancy"] == 0
    assert got["0xsk4"]["erc721_compliancy"] == 0


def test_distinct_skeletons_first_wins(spark):
    deps = spark.createDataFrame(
        [("0xsk", "0xcode_v1", 10, "0xt1"), ("0xsk", "0xcode_v2", 5, "0xt0"), ("0xsk2", "0xz", 7, "0xt2")],
        "skeleton_hash string, deployed_bytecode string, block_number long, tx_hash string",
    )
    got = {r["skeleton_hash"]: r for r in abi_ops.distinct_skeletons(deps).collect()}
    assert len(got) == 2
    assert got["0xsk"]["bytecode"] == "0xcode_v2"  # earliest block wins (A3)
    assert got["0xsk"]["first_block"] == 5


# --------------------------------------------------------------- lifetimes

@pytest.fixture()
def lifecycle_frames(spark):
    # contracts: c1 never destroyed; c2 destroyed once; c3 destroyed twice;
    # c4 deploy+destroy same block different tx; c5 same tx
    deps = spark.createDataFrame(
        [("c1", 1, "t1"), ("c2", 2, "t2"), ("c3", 3, "t3"), ("c4", 10, "t4a"), ("c5", 20, "t5")],
        "contract string, block_number long, tx_hash string",
    )
    dess = spark.createDataFrame(
        [("c2", 5, "tx"), ("c3", 6, "ty"), ("c3", 8, "tz"), ("c4", 10, "t4b"), ("c5", 20, "t5")],
        "contract string, block_number long, tx_hash string",
    )
    return deps, dess


def test_lifetimes_rq1_rq2(spark, lifecycle_frames):
    deps, dess = lifecycle_frames
    lc = lifetimes.per_contract_lifecycle(deps, dess)
    rq1 = lifetimes.rq1_destroyed_vs_not(lc).collect()[0]
    assert rq1["destroyed"] == 4 and rq1["never_destroyed"] == 1
    rq2 = lifetimes.rq2_destroyed_once_vs_multiple(lc).collect()[0]
    assert rq2["destroyed_once"] == 3 and rq2["destroyed_multiple"] == 1


def test_lifetimes_rq3(spark, lifecycle_frames):
    deps, dess = lifecycle_frames
    rq3 = lifetimes.rq3_same_block_tx(deps, dess).collect()[0]
    assert rq3["same_block_pairs"] == 2 and rq3["same_block_contracts"] == 2
    assert rq3["same_tx_pairs"] == 1 and rq3["same_tx_contracts"] == 1


def test_lifetimes_edge_rules(spark, lifecycle_frames):
    # a contract destroyed but never deployed is dropped; a deployed null
    # contract keeps destroy_count 0 even when null destructions exist;
    # rq3 over empty input is one row of zeros
    deps, dess = lifecycle_frames
    schema = "contract string, block_number long, tx_hash string"
    deps = deps.unionByName(spark.createDataFrame([(None, 30, "tn")], schema))
    dess = dess.unionByName(spark.createDataFrame([(None, 31, "tn"), ("c9", 40, "t9")], schema))
    lc = {r["contract"]: r for r in lifetimes.per_contract_lifecycle(deps, dess).collect()}
    assert set(lc) == {"c1", "c2", "c3", "c4", "c5", None}
    assert lc[None]["deploy_count"] == 1 and lc[None]["destroy_count"] == 0
    assert lc[None]["first_destroy_block"] is None
    assert (lc["c3"]["destroy_count"], lc["c3"]["first_destroy_block"], lc["c3"]["last_destroy_block"]) == (2, 6, 8)
    empty = deps.limit(0)
    assert lifetimes.rq3_same_block_tx(empty, empty).collect()[0].asDict() == {
        "same_block_pairs": 0, "same_block_contracts": 0, "same_tx_pairs": 0, "same_tx_contracts": 0,
    }


def test_lifetimes_rq4(spark, lifecycle_frames):
    deps, dess = lifecycle_frames
    lc = lifetimes.per_contract_lifecycle(deps, dess)
    rq4 = lifetimes.rq4_lifetime_stats(lc).collect()[0]
    # lifetimes: c2: 5-2=3, c3: 8-3=5, c4: 0, c5: 0 -> avg 2.0
    assert rq4["avg_lifetime_blocks"] == 2.0


def test_observe_run_counters(spark, trace_df):
    # A12 (extract.rs:446-466): counters ride the SAME action as the data —
    # derive deployments from traces, observe totals/failed, read after the
    # action; no second pass over the frame
    from eth2dgraph_spark.operators import metrics

    deps = traces.extract_deployments(trace_df)
    frame, obs = metrics.observe_counts(
        deps, failed_col="failed_deploy", distinct_col="contract"
    )
    with metrics.timed_run(obs) as run:
        n = frame.count()
    assert n == 2
    assert run.report["total"] == 2
    assert run.report["failed"] == 1 and run.report["succeeded"] == 1
    assert run.report["success_ratio"] == 0.5
    assert run.report["approx_distinct"] == 2
    assert run.report["rows_per_sec"] > 0


# -------------------------------------------------------------- similarity

def test_cosine_pairs_spark_golden(spark):
    import os

    from .conftest import DATA

    a = open(os.path.join(DATA, "cosine_a.hex")).read().strip()
    b = open(os.path.join(DATA, "cosine_b.hex")).read().strip()
    df = spark.createDataFrame([("a", a), ("b", b)], "skeleton_hash string, bytecode string")
    ng = ngram_rows(df, n=5)
    pairs = similarity.cosine_similarity_pairs(ng, threshold=0.98).collect()
    assert len(pairs) == 1
    assert pairs[0]["similarity"] > 0.98  # similarities.rs:495


def test_ngram_rows_packed_matches_hex(spark):
    # the packed int64 encoding is injective, so per-id frequency
    # multisets must be identical to the hex-string form
    code = "0x" + "60ff0161aabb005b565b" * 50
    df = spark.createDataFrame(
        [("a", code), ("b", "0x6001600201")], "skeleton_hash string, bytecode string"
    )
    packed = ngram_rows(df, n=5).collect()
    hexed = ngram_rows(df, n=5, packed=False).collect()

    def key(rows, conv):
        return sorted((r["id"], conv(r["ngram"]), r["cnt"]) for r in rows)

    assert key(packed, lambda g: format(g, "010x")) == key(hexed, lambda g: g)


def test_ngram_rows_schema_flip_is_loud(spark):
    import warnings

    import pytest

    df = spark.createDataFrame([("a", "0x6001600201")], "skeleton_hash string, bytecode string")
    # explicit packed=True with n > 8 would silently return wrong counts
    # (int64 packing stops being injective) -> hard error
    with pytest.raises(ValueError, match="n <= 8"):
        ngram_rows(df, n=9, packed=True)
    # implicit flip to STRING at n > 8 warns; explicit packed=False doesn't
    with pytest.warns(UserWarning, match="STRING"):
        ngram_rows(df, n=9)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ngram_rows(df, n=9, packed=False)


def test_jaccard_pairs(spark):
    rows = [("s1", "f1"), ("s1", "f2"), ("s1", "f3"), ("s2", "f1"), ("s2", "f2"), ("s2", "f3"), ("s3", "f9")]
    df = spark.createDataFrame(rows, "id string, token string")
    pairs = similarity.jaccard_similarity_pairs(df, threshold=0.75).collect()
    assert len(pairs) == 1
    assert pairs[0]["similarity"] == 1.0  # identical interfaces -> 1.0


def test_hot_posting_cap_bounds_expansion_and_never_inflates(spark):
    # a token shared by MORE than max_posting_len ids is dropped from the
    # pair expansion (the mainnet 'totalSupply()' single-reducer guard);
    # capped scores are exact-or-underestimated, never inflated
    hot = [(f"s{i}", "hot") for i in range(10)]  # posting length 10
    rare = [("s0", "rare"), ("s1", "rare")]
    df = spark.createDataFrame(hot + rare, "id string, token string")
    exact = {
        (r["id_a"], r["id_b"]): r["similarity"]
        for r in similarity.jaccard_similarity_pairs(
            df, threshold=0.01, max_posting_len=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["similarity"]
        for r in similarity.jaccard_similarity_pairs(
            df, threshold=0.01, max_posting_len=5
        ).collect()
    }
    # only the rare-token pair survives: s0-s1 share 'rare' (inter 1 of
    # union 3 -> 1/3); the 45 hot-only pairs vanish with the capped posting
    assert set(capped) == {("s0", "s1")}
    assert len(exact) == 45  # C(10,2) hot pairs; (s0,s1) is one of them
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12  # never inflated
    # cosine path: same guard
    cg = similarity.cosine_similarity_pairs(
        spark.createDataFrame(
            [(f"s{i}", "hot", 1) for i in range(10)] + [("s0", "rare", 1), ("s1", "rare", 1)],
            "id string, ngram string, cnt long",
        ),
        threshold=0.01,
        max_posting_len=5,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in cg} == {("s0", "s1")}


def test_one_vs_all(spark):
    rows = [("a", "x", 2), ("a", "y", 1), ("b", "x", 2), ("b", "y", 1), ("c", "z", 5)]
    df = spark.createDataFrame(rows, "id string, ngram string, cnt long")
    out = similarity.one_vs_all_cosine(df, "a", threshold=0.9).collect()
    assert len(out) == 1 and out[0]["id"] == "b"
    assert abs(out[0]["similarity"] - 1.0) < 1e-12


def test_symmetric_edges(spark):
    pairs = spark.createDataFrame([("a", "b", 0.99)], "id_a string, id_b string, similarity double")
    edges = similarity.symmetric_edges(pairs, "cosine").collect()
    assert {(e["src"], e["dst"]) for e in edges} == {("a", "b"), ("b", "a")}
