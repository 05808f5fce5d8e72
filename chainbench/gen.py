"""Seeded input generators for the chain benchmark, with planted answers.

Every generator is a pure function of (workload, seed, size): the same
triple always yields byte-identical parquet inputs and the same planted
answers, and shapes are fixed per size (only content depends on the seed),
so run-to-run differences in the measured work come from the program, not
from the input. Inputs are written with pyarrow, never through the program
under test, and cached on disk under `<cache>/<workload>-<size>-s<seed>/`.

Nothing here imports pyspark or the package under test.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# keccak256("Transfer(address,address,uint256)"): fixed by the ERC-20 and
# ERC-721 standards, spelled out so the generator owes nothing to the program.
TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
# Every block of the reorged range carries this miner, so a check can tell
# the replacement content from the original.
FORK_MINER = "0x" + "f0" * 20

# Sizes are fixed per name; only content depends on the seed. Code sizes
# are bytes of deployed code: 24 KB is the EIP-170 cap.
SIZES: dict[str, dict[str, dict]] = {
    "follow": {
        "small": dict(prefix_blocks=8, batch_blocks=4, max_batches=4, reorg_batch=1,
                      txs_per_block=4, n_templates=6, prefix_templates=3,
                      new_templates_per_batch=1, variants=2, min_kb=1, max_kb=3,
                      addr_pool=32),
        "default": dict(prefix_blocks=12, batch_blocks=10, max_batches=8, reorg_batch=1,
                        txs_per_block=6, n_templates=30, prefix_templates=4,
                        new_templates_per_batch=1, variants=2, min_kb=3.5, max_kb=16,
                        addr_pool=300),
    },
    "analyse": {
        "small": dict(family_sizes=(2, 3), family_repeats=2, n_singletons=3, code_ops=300,
                      iface_tokens=10, n_contracts=40, n_accounts=120, attach=2,
                      n_components=4, n_docs=60, near_families=4, near_family_size=3,
                      exact_groups=3, low_quality=3, doc_words=40),
        "default": dict(family_sizes=(2, 3, 4, 5), family_repeats=3, n_singletons=10,
                        code_ops=1000, iface_tokens=12, n_contracts=1000, n_accounts=1000,
                        attach=2, n_components=10, n_docs=400, near_families=12,
                        near_family_size=4, exact_groups=8, low_quality=6, doc_words=80),
    },
}

# ---------------------------------------------------------------- helpers


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _hexes(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8)
    return ["0x" + row.tobytes().hex() for row in raw]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _table(columns: dict[str, list], schema: pa.Schema) -> pa.Table:
    return pa.table({f.name: pa.array(columns[f.name], type=f.type) for f in schema}, schema=schema)


BLOCKS = pa.schema([
    ("number", pa.int64()), ("timestamp", pa.int64()), ("miner", pa.string()),
    ("difficulty", pa.string()), ("gas_limit", pa.int64()), ("gas_used", pa.int64()),
    ("base_fee_per_gas", pa.int64()), ("size", pa.int64()),
])
TRANSACTIONS = pa.schema([
    ("hash", pa.string()), ("block_number", pa.int64()), ("from", pa.string()),
    ("to", pa.string()), ("value", pa.string()), ("gas", pa.int64()),
    ("gas_price", pa.int64()), ("max_fee_per_gas", pa.int64()),
    ("max_priority_fee_per_gas", pa.int64()), ("input", pa.string()), ("nonce", pa.int64()),
    ("r", pa.string()), ("s", pa.string()), ("v", pa.int64()), ("tx_index", pa.int64()),
])
LOGS = pa.schema([
    ("block_number", pa.int64()), ("tx_hash", pa.string()), ("tx_index", pa.int64()),
    ("log_index", pa.int64()), ("address", pa.string()), ("topics", pa.list_(pa.string())),
    ("data", pa.string()), ("removed", pa.bool_()),
])
TRACES = pa.schema([
    ("block_number", pa.int64()), ("tx_hash", pa.string()),
    ("trace_address", pa.list_(pa.int32())), ("type", pa.string()), ("error", pa.string()),
    ("action_from", pa.string()), ("action_init", pa.string()),
    ("action_address", pa.string()), ("action_balance", pa.string()),
    ("action_refund_address", pa.string()), ("result_address", pa.string()),
    ("result_code", pa.string()),
])
RAW_SCHEMAS = {"blocks": BLOCKS, "transactions": TRANSACTIONS, "logs": LOGS, "traces": TRACES}

# ---------------------------------------------------------------- bytecode

# Single-byte opcodes the body draws from: arithmetic, comparison, stack,
# memory, flow. No LOG1/LOG2 (0xa1/0xa2 open the metadata markers) and no
# PUSH4, which only the dispatcher uses, so the selectors a lifter finds
# are exactly the planted ones.
_PLAIN_OPS = np.array(
    list(range(0x01, 0x0C)) + list(range(0x10, 0x1E)) + list(range(0x50, 0x5C))
    + list(range(0x80, 0xA0)) + [0xF3, 0xFD],
    dtype=np.uint8,
)
_PUSH_OPS = np.array([0x60, 0x61, 0x62, 0x64, 0x67, 0x73, 0x7F], dtype=np.uint8)
# metadata hash bytes avoid PUSH opcodes, so a scan that walks into the
# tail never reads a selector out of it
_HASH_BYTES = np.array([b for b in range(256) if not 0x60 <= b <= 0x7F], dtype=np.uint8)


def _body_ops(rng: np.random.Generator, n_bytes: int) -> np.ndarray:
    """A template's opcode stream, exactly `n_bytes` long once pushed."""
    push = rng.random(n_bytes) < 0.3
    ops = np.where(push, rng.choice(_PUSH_OPS, n_bytes), rng.choice(_PLAIN_OPS, n_bytes))
    width = np.where(push, ops.astype(np.int64) - 0x5F, 0)
    ends = np.cumsum(1 + width)
    keep = int(np.searchsorted(ends, n_bytes, side="right"))
    pad = n_bytes - (int(ends[keep - 1]) if keep else 0)  # JUMPDESTs to the exact size
    return np.concatenate([ops[:keep], np.full(pad, 0x5B, dtype=np.uint8)])


def _assemble(ops: np.ndarray, rng: np.random.Generator) -> bytes:
    """Lay the opcodes out with fresh random PUSH arguments."""
    width = np.where((ops >= 0x60) & (ops <= 0x7F), ops.astype(np.int64) - 0x5F, 0)
    starts = np.concatenate([[0], np.cumsum(1 + width)[:-1]])
    code = rng.integers(0, 256, int(starts[-1] + 1 + width[-1]), dtype=np.uint8)
    code[starts] = ops
    return code.tobytes()


def _dispatcher(selectors: list[bytes]) -> bytes:
    out = bytes.fromhex("6080604052600035" + "60e01c")  # mstore prelude, selector >> 224
    for i, sel in enumerate(selectors):
        # DUP1 PUSH4 sel EQ PUSH2 dest JUMPI
        out += b"\x80\x63" + sel + b"\x14\x61" + (0x100 + i).to_bytes(2, "big") + b"\x57"
    return out


def _metadata_tail(rng: np.random.Generator) -> bytes:
    ipfs = rng.choice(_HASH_BYTES, 34).astype(np.uint8).tobytes()
    return b"\xa2\x64ipfs\x58\x22" + ipfs + b"\x64solc\x43\x00\x08\x13\x00\x33"


def make_codes(seed: int, n_templates: int, variants: int, min_kb: float,
               max_kb: float) -> tuple[list[list[str]], list[list[str]]]:
    """`n_templates` contract templates x `variants` deployed bytecodes each.

    Variants of one template differ only in PUSH arguments (never PUSH4) and
    in the metadata hash, so they share one skeleton and one lifted selector
    set; templates differ in opcode structure, so each has its own skeleton.
    Template sizes are an evenly spaced [min_kb, max_kb] ladder in an order
    fixed for every seed, so template t has the same size whatever the seed.
    Returns codes[template][variant] as 0x-hex."""
    rng = _rng(seed, 1)
    sizes = np.linspace(min_kb * 1024, max_kb * 1024, n_templates).astype(int)
    sizes = sizes[np.random.default_rng(0).permutation(n_templates)]  # same for every seed
    codes = []
    seen: set[bytes] = set()
    for t in range(n_templates):
        sels = []
        while len(sels) < 4 + t % 5:
            s = rng.bytes(4)
            if s not in seen and s != b"\xff\xff\xff\xff":
                seen.add(s)
                sels.append(s)
        ops = _body_ops(rng, int(sizes[t]))
        head = _dispatcher(sels)
        codes.append([
            "0x" + (head + _assemble(ops, rng) + _metadata_tail(rng)).hex()
            for _ in range(variants)
        ])
    return codes


# ---------------------------------------------------------------- chain


def _code_picker(codes: list[list[str]], cover: list[int], pool: list[int]):
    """Draw (template, variant, code): first every variant of the `cover`
    templates once, then a fixed stride through `pool`. The draws depend on
    the template indices only, so every seed processes the same code sizes."""
    pending = [(t, v) for t in cover for v in range(len(codes[t]))]
    drawn = 0

    def pick() -> tuple[int, int, str]:
        nonlocal drawn
        if pending:
            t, v = pending.pop(0)
        else:
            t = pool[(drawn * 5) % len(pool)]
            v = drawn % len(codes[t])
            drawn += 1
        return t, v, codes[t][v]

    return pick


CHAIN_TABLES = ("blocks", "transactions", "logs", "token_transfers", "deployments",
                "destructions")


def _chain(rng: np.random.Generator, blocks: range, txs_per_block: int,
           code_for_create, addrs: list[str], contracts: list[str], fork: bool) -> dict:
    """Raw blocks/transactions/logs/traces rows for `blocks`, plus per-block
    row counts of the derived tables that the raw rows fix.

    The shape of every block is fixed and only content is seeded: tx 0 is a
    successful root create; in every 4th block tx 1 is a reverted root
    create with a nested create under it; in every 2nd block tx 2
    self-destructs an earlier contract; every tx emits one log, cycling
    ERC-20 / ERC-721 / wrong-arity Transfer / noise shapes. `contracts`
    (shared across calls) collects created addresses for later
    self-destructs."""
    cols = {name: {f.name: [] for f in schema} for name, schema in RAW_SCHEMAS.items()}
    per_block: dict[str, list[int]] = {t: [] for t in CHAIN_TABLES}
    created: list[tuple[str, int, int]] = []  # (address, template, variant)
    n_addr = len(addrs)

    def pick() -> str:
        return addrs[int(rng.integers(n_addr))]

    def word() -> str:
        return "0x" + "00" * 12 + pick()[2:]

    def add(table: str, **row) -> None:
        c = cols[table]
        for k in c:
            c[k].append(row.get(k))

    def create(b: int, h: str, trace_address: list[int], creator: str, error) -> str:
        template, variant, code = code_for_create()
        contract = _hexes(rng, 1, 20)[0]
        add("traces", block_number=b, tx_hash=h, trace_address=trace_address, type="create",
            error=error, action_from=creator, action_init="0x6080604052" + code[2:66],
            result_address=contract, result_code=code)
        created.append((contract, template, variant))
        return contract

    log_kinds = ("erc20", "erc721", "arity", "noise", "erc20", "erc721")
    for b in blocks:
        add("blocks", number=b, timestamp=1_600_000_000 + 12 * b,
            miner=FORK_MINER if fork else pick(), difficulty=str(int(rng.integers(1 << 62))),
            gas_limit=30_000_000, gas_used=int(rng.integers(30_000_000)),
            base_fee_per_gas=None if b % 10 == 0 else int(rng.integers(10**9, 10**11)),
            size=int(rng.integers(500, 5000)))
        n_created = len(created)
        n_des = n_tt = 0
        for i, h in enumerate(_hexes(rng, txs_per_block, 32)):
            kind = "call"
            if i == 0:
                kind = "create"
            elif i == 1 and b % 4 == 0:
                kind = "reverted_create"
            elif i == 2 and b % 2 == 0 and contracts:
                kind = "suicide"
            frm = pick()
            to = None if kind.endswith("create") else pick()
            add("transactions", hash=h, block_number=b, **{"from": frm, "to": to},
                value=str(int(rng.integers(1 << 62)) * 1000),
                gas=21000 + int(rng.integers(10**6)),
                gas_price=None if i % 17 == 5 else int(rng.integers(10**9, 10**11)),
                input="0xa9059cbb" + "00" * 64 if i % 3 else "0x",
                nonce=int(rng.integers(1000)), r=_hexes(rng, 1, 32)[0],
                s=_hexes(rng, 1, 32)[0], v=27, tx_index=i)
            if kind == "create":
                create(b, h, [], frm, None)
            elif kind == "reverted_create":
                parent = create(b, h, [], frm, "Reverted")
                create(b, h, [0], parent, None)  # succeeds, fails through its parent
            elif kind == "suicide":
                refund = pick()
                add("traces", block_number=b, tx_hash=h, trace_address=[], type="suicide",
                    action_address=contracts[int(rng.integers(len(contracts)))],
                    action_balance=str(int(rng.integers(1 << 60))),
                    action_refund_address=refund)
                n_des += 1
            else:
                add("traces", block_number=b, tx_hash=h, trace_address=[], type="call",
                    action_from=frm)
            lk = log_kinds[(b + i) % len(log_kinds)]
            if lk == "erc20":
                topics = [TRANSFER_TOPIC, word(), word()]
                data = "0x" + int(rng.integers(1 << 62)).to_bytes(32, "big").hex()
                n_tt += 1
            elif lk == "erc721":
                topics = [TRANSFER_TOPIC, word(), word(), _hexes(rng, 1, 32)[0]]
                data = "0x"
                n_tt += 1
            elif lk == "arity":
                topics = [TRANSFER_TOPIC, word()] if i % 2 else [TRANSFER_TOPIC] + [word()] * 4
                data = "0x"
            else:
                topics = _hexes(rng, 1 + i % 4, 32)
                data = "0x" + "ab" * 32
            add("logs", block_number=b, tx_hash=h, tx_index=i, log_index=i, address=pick(),
                topics=topics, data=data, removed=False)
        contracts.extend(c for c, _, _ in created[n_created:])
        for t, n in (("blocks", 1), ("transactions", txs_per_block), ("logs", txs_per_block),
                     ("token_transfers", n_tt), ("deployments", len(created) - n_created),
                     ("destructions", n_des)):
            per_block[t].append(n)
    tables = {name: _table(cols[name], schema) for name, schema in RAW_SCHEMAS.items()}
    return {"tables": tables, "per_block": per_block, "created": created}


def gen_follow(seed: int, size: dict, out: str) -> dict:
    """Landing batches for the stream: batch 0 is a `prefix_blocks` prefix
    of the chain, then `max_batches` batches of `batch_blocks` blocks. Each
    batch's block rows land as one file under `out/landing_all/<src>` (with
    a `_src` column naming the batch), its txs/logs/traces under
    `out/raw/<table>/src=<src>`. Batch `reorg_batch` replays the block range
    of the batch before it with new content (FORK_MINER, new txs and
    contracts); every other batch extends the chain. The prefix deploys
    every variant of the first `prefix_templates` templates and each later
    batch brings `new_templates_per_batch` new ones.

    Planted answers, per batch: the rows each block adds to the six
    per-block tables and the templates it deploys (see follow_expected)."""
    codes = make_codes(seed, size["n_templates"], size["variants"], size["min_kb"],
                          size["max_kb"])
    rng = _rng(seed, 2)
    addrs = _hexes(rng, size["addr_pool"], 20)
    bb, reorg = size["batch_blocks"], size["reorg_batch"]
    head = 5_000_000  # one 10k-block sink bucket holds the whole run
    known: list[int] = []
    contracts: list[str] = []
    batches = []
    for k in range(1 + size["max_batches"]):
        n_new = size["prefix_templates"] if k == 0 else size["new_templates_per_batch"]
        fresh = [t for t in range(len(known), len(known) + n_new) if t < size["n_templates"]]
        known = known + fresh
        n_blocks = size["prefix_blocks"] if k == 0 else bb
        lo = head - bb if k == reorg else head
        ch = _chain(rng, range(lo, lo + n_blocks), size["txs_per_block"],
                    _code_picker(codes, fresh, known), addrs, contracts, fork=k == reorg)
        src = f"b{k:03d}"
        for name, table in ch["tables"].items():
            if name == "blocks":
                table = table.append_column("_src", pa.array([src] * table.num_rows))
                _write(table, os.path.join(out, "landing_all", src))
            else:
                _write(table, os.path.join(out, "raw", name, f"src={src}"))
        batches.append({
            "src": src, "lo": lo, "per_block": ch["per_block"],
            "templates": sorted({t for _, t, _ in ch["created"]}),
            "distinct_codes": len({(t, v) for _, t, v in ch["created"]}),
            "input_bytes": sum(os.path.getsize(os.path.join(out, "raw", n, f"src={src}",
                                                            "part-00000.parquet"))
                               for n in ("transactions", "logs", "traces"))
            + os.path.getsize(os.path.join(out, "landing_all", src, "part-00000.parquet")),
        })
        if k != reorg:
            head = lo + n_blocks
    return {"batches": batches, "reorg_batch": reorg, "batch_blocks": bb}


def follow_expected(answers: dict, processed: int) -> dict:
    """Planted sink contents after the first `processed` batches: row counts
    of the six per-block tables (a reorged range counts once, with its
    replacement content), the distinct skeleton count (the skeleton table
    is append-only, so the replaced blocks' skeletons stay), and how many
    blocks carry FORK_MINER."""
    rows: dict[int, dict[str, int]] = {}
    fork_blocks: set[int] = set()
    templates: set[int] = set()
    for k, b in enumerate(answers["batches"][:processed]):
        for j in range(len(b["per_block"]["blocks"])):
            rows[b["lo"] + j] = {t: v[j] for t, v in b["per_block"].items()}
            (fork_blocks.add if k == answers["reorg_batch"] else fork_blocks.discard)(b["lo"] + j)
        templates.update(b["templates"])
    counts = {t: sum(r[t] for r in rows.values()) for t in CHAIN_TABLES}
    counts["skeletons"] = len(templates)
    return {"counts": counts, "fork_blocks": len(fork_blocks)}


# ---------------------------------------------------------------- analyse

STOPWORDS = ("the", "and", "of", "to", "a")


def _vocab() -> list[str]:
    """A fixed 3-to-8-letter pseudo-word vocabulary (seed-independent)."""
    rng = _rng(0, 99)
    letters = np.array(list("bcdfghjklmnpqrstvwxyz"))
    words = {"".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(4000)}
    return sorted(words)


def _skeleton_families(rng: np.random.Generator,
                       size: dict) -> tuple[list[tuple[str, int]], list[int]]:
    """(skeleton 0x-hex, family) rows. Each member after the first changes
    one opcode of a shared stream, which keeps in-family 5-gram cosine
    above 0.99; other families are independent streams with cosine near 0."""
    rows, family_sizes = [], []
    shape = list(size["family_sizes"]) * size["family_repeats"] + [1] * size["n_singletons"]
    for fam, fsize in enumerate(shape):
        base = _body_ops(rng, size["code_ops"] * 2)[: size["code_ops"]]
        for member in range(fsize):
            ops = base.copy()
            if member:
                ops[int(rng.integers(len(ops)))] = rng.choice(_PLAIN_OPS)
            width = np.where((ops >= 0x60) & (ops <= 0x7F), ops.astype(np.int64) - 0x5F, 0)
            code = np.zeros(int(np.sum(1 + width)), dtype=np.uint8)
            code[np.concatenate([[0], np.cumsum(1 + width)[:-1]])] = ops
            rows.append(("0x" + code.tobytes().hex(), fam))
        family_sizes.append(fsize)
    return rows, family_sizes


def _transfer_graph(rng: np.random.Generator, n_nodes: int, attach: int,
                    n_comp: int) -> list[tuple[int, int]]:
    """Directed edges over `n_comp` disjoint blocks of nodes, each grown by
    preferential attachment: every new node sends `attach` edges to
    distinct earlier nodes of its block, picked in proportion to degree
    (with a 20% uniform share), so degrees follow a power law and each
    block is one component. A block's first `attach` nodes send nothing:
    they are PageRank's dangling nodes."""
    bounds = np.linspace(0, n_nodes, n_comp + 1).astype(int)
    edges = []
    for c in range(n_comp):
        lo, hi = int(bounds[c]), int(bounds[c + 1])
        ends: list[int] = []  # one entry per edge endpoint: degree-weighted draws
        for v in range(lo + attach, hi):
            targets: set[int] = set()
            while len(targets) < attach:
                if ends and rng.random() < 0.8:
                    targets.add(ends[int(rng.integers(len(ends)))])
                else:
                    targets.add(int(rng.integers(lo, v)))
            for t in sorted(targets):
                edges.append((v, t))
                ends += [v, t]
    return edges


def _lifetimes(rng: np.random.Generator, n: int, addrs: list[str]) -> tuple[dict, dict, dict]:
    """Deployments and destructions with a fixed shape per contract index:
    every 10th contract is deployed twice; indices 1-3 (mod 10) are destroyed
    once and 4 (mod 10) twice; every 20th contract (index 1 mod 20) dies in
    its deploy block, every 40th in its deploy tx. Returns the two tables'
    columns and the planted RQ1-RQ4 answers."""
    dep = {"contract": [], "creator": [], "block_number": [], "tx_hash": [],
           "failed_deploy": []}
    des = {"contract": [], "block_number": [], "tx_hash": [], "failed": [],
           "balance_left": [], "refund_address": []}
    rq3 = {"same_block_pairs": 0, "same_block_contracts": set(),
           "same_tx_pairs": 0, "same_tx_contracts": set()}
    lifetimes = []
    contracts = _hexes(rng, n, 20)
    for i, c in enumerate(contracts):
        first = int(rng.integers(0, 9000))
        deps = [(first, _hexes(rng, 1, 32)[0])]
        if i % 10 == 0:
            deps.append((first + int(rng.integers(1, 100)), _hexes(rng, 1, 32)[0]))
        n_des = {1: 1, 2: 1, 3: 1, 4: 2}.get(i % 10, 0)
        dess = []
        for j in range(n_des):
            if j == 0 and i % 20 == 1:
                dess.append((first, deps[0][1] if i % 40 == 1 else _hexes(rng, 1, 32)[0]))
            else:
                prev = dess[-1][0] if dess else first
                dess.append((prev + int(rng.integers(1, 2000)), _hexes(rng, 1, 32)[0]))
        for blk, tx in deps:
            dep["contract"].append(c)
            dep["creator"].append(addrs[int(rng.integers(len(addrs)))])
            dep["block_number"].append(blk)
            dep["tx_hash"].append(tx)
            dep["failed_deploy"].append(False)
        for blk, tx in dess:
            des["contract"].append(c)
            des["block_number"].append(blk)
            des["tx_hash"].append(tx)
            des["failed"].append(False)
            des["balance_left"].append("0")
            des["refund_address"].append(addrs[int(rng.integers(len(addrs)))])
        for db, dt in deps:
            for xb, xt in dess:
                if db == xb:
                    rq3["same_block_pairs"] += 1
                    rq3["same_block_contracts"].add(c)
                if dt == xt:
                    rq3["same_tx_pairs"] += 1
                    rq3["same_tx_contracts"].add(c)
        if dess:
            lifetimes.append(max(b for b, _ in dess) - min(b for b, _ in deps))
    life = np.array(lifetimes, dtype=float)
    answers = {
        "destroyed": len(lifetimes), "never_destroyed": n - len(lifetimes),
        "destroyed_once": sum(1 for i in range(n) if i % 10 in (1, 2, 3)),
        "destroyed_multiple": sum(1 for i in range(n) if i % 10 == 4),
        **{k: (len(v) if isinstance(v, set) else v) for k, v in rq3.items()},
        "avg_lifetime_blocks": float(life.mean()),
        "stddev_lifetime_blocks": float(life.std()),
        "avg_lifetime_secs": float(life.mean() * 12),
    }
    return dep, des, answers


def _documents(rng: np.random.Generator, size: dict) -> tuple[dict, dict]:
    """Documents with planted structure: near-duplicate families (each
    member swaps one word of a shared base, so member pairs keep 3-shingle
    Jaccard near 0.9), exact-duplicate pairs (the copy differs only in case
    and spacing), low-quality rows (under 5 words) and unique documents."""
    vocab = _vocab()

    def words(n: int) -> list[str]:
        w = [vocab[int(i)] for i in rng.integers(len(vocab), size=n)]
        for j in range(0, n, 4):  # stopwords keep quality and language stable
            w[j] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return w

    n, nw = size["n_docs"], size["doc_words"]
    texts: list[str] = []
    for _ in range(size["near_families"]):
        base = words(nw)
        texts.append(" ".join(base))
        # each member swaps a different non-stopword slot for a different
        # word, so no member repeats the base or another member exactly
        slots = rng.choice(np.arange(1, nw, 4), size["near_family_size"] - 1, replace=False)
        for j in slots.tolist():
            w = list(base)
            while w[j] == base[j]:
                w[j] = vocab[int(rng.integers(len(vocab)))]
            texts.append(" ".join(w))
    for _ in range(size["exact_groups"]):
        t = " ".join(words(nw))
        texts += [t, "  " + t.upper().replace(" ", "  ") + " "]
    texts += [" ".join(words(3)) for _ in range(size["low_quality"])]
    texts += [" ".join(words(nw)) for _ in range(n - len(texts))]
    order = rng.permutation(len(texts))
    docs = {"doc_id": list(range(len(texts))), "text": [texts[i] for i in order]}
    answers = {
        "curated_docs": n - size["exact_groups"] - size["low_quality"],
        "dup_clusters": size["near_families"] + size["exact_groups"],
    }
    return docs, answers


def gen_analyse(seed: int, size: dict, out: str) -> dict:
    """At-rest tables in the sink layout under `out/atrest/<table>` and a
    document corpus under `out/documents`, each with planted answers."""
    rng = _rng(seed, 3)
    at = os.path.join(out, "atrest")
    sk_rows, family_sizes = _skeleton_families(rng, size)
    sk_hash = _hexes(rng, len(sk_rows), 32)
    _write(pa.table({
        "skeleton_hash": sk_hash,
        "bytecode": [c for c, _ in sk_rows],
        "failed_decompilation": [False] * len(sk_rows),
        "erc20_compliancy": pa.array([0] * len(sk_rows), pa.int32()),
        "erc721_compliancy": pa.array([0] * len(sk_rows), pa.int32()),
        "first_block": [int(b) for b in rng.integers(0, 9000, len(sk_rows))],
    }), os.path.join(at, "skeletons"))
    # interface names: each family owns `iface_tokens` names and each member
    # drops at most one, so in-family Jaccard >= (t-2)/t and cross-family is 0
    vocab = _vocab()
    t = size["iface_tokens"]
    names: dict[int, list[str]] = {}
    mem = {"skeleton_hash": [], "signature": [], "type": []}
    for (_, fam), h in zip(sk_rows, sk_hash):
        toks = names.setdefault(
            fam, [f"{vocab[int(i)]}F{fam}" for i in rng.choice(len(vocab), t, replace=False)])
        drop = int(rng.integers(t + 1))
        for j, name in enumerate(toks):
            if j != drop:
                mem["skeleton_hash"].append(h)
                mem["signature"].append(_sig(name))
                mem["type"].append("function")
    _write(pa.table(mem), os.path.join(at, "abi_membership"))
    all_names = [n for toks in names.values() for n in toks]
    _write(pa.table({
        "signature": [_sig(n) for n in all_names], "type": ["function"] * len(all_names),
        "name": all_names, "inputs": [""] * len(all_names),
        "outputs": [""] * len(all_names), "bytes4": [_sig(n)[:10] for n in all_names],
    }), os.path.join(at, "abi"))

    addrs = _hexes(rng, size["n_accounts"], 20)
    dep, des, life = _lifetimes(rng, size["n_contracts"], addrs)
    _write(pa.table(dep), os.path.join(at, "deployments"))
    _write(pa.table(des), os.path.join(at, "destructions"))
    top = max(dep["block_number"] + des["block_number"]) + 1
    _write(pa.table({"number": list(range(top)),
                     "timestamp": [1_600_000_000 + 12 * b for b in range(top)]}),
           os.path.join(at, "blocks"))

    edges = _transfer_graph(rng, size["n_accounts"], size["attach"], size["n_components"])
    m = len(edges)
    _write(pa.table({
        "contract": [addrs[int(i)] for i in rng.integers(len(addrs), size=m)],
        "from": [addrs[s] for s, _ in edges], "to": [addrs[d] for _, d in edges],
        "value": [str(int(v)) for v in rng.integers(1, 1 << 40, m)],
        "token_id": pa.array([None] * m, pa.string()), "token_type": ["erc20"] * m,
        "value_overflow": [False] * m,
        "block_number": [int(b) for b in rng.integers(0, 9000, m)],
        "tx_hash": _hexes(rng, m, 32), "log_index": list(range(m)),
    }), os.path.join(at, "token_transfers"))

    docs, doc_answers = _documents(rng, size)
    _write(pa.table({"doc_id": pa.array(docs["doc_id"], pa.int64()), "text": docs["text"]}),
           os.path.join(out, "documents"))
    return {
        "cosine_pairs": sum(f * (f - 1) // 2 for f in family_sizes),
        "jaccard_pairs": sum(f * (f - 1) // 2 for f in family_sizes),
        "components": size["n_components"],
        "n_edges": m,
        "lifetimes": life,
        **doc_answers,
    }


def _sig(name: str) -> str:
    import hashlib

    return "0x" + hashlib.sha256(f"{name}()".encode()).hexdigest()


# ---------------------------------------------------------------- cache

GENERATORS = {"follow": gen_follow, "analyse": gen_analyse}


def ensure_inputs(cache: str, workload: str, seed: int,
                  size_name: str = "default") -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one (workload, seed, size) and
    return (directory, planted answers). A directory is complete only once
    its answers.json exists; it is built in a temporary sibling and renamed
    into place, so an interrupted run never leaves a half-written cache
    entry behind."""
    size = SIZES[workload][size_name]
    out = os.path.join(cache, f"{workload}-{size_name}-s{seed}")
    answers_path = os.path.join(out, "answers.json")
    if os.path.exists(answers_path):
        with open(answers_path) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        answers = GENERATORS[workload](seed, size, tmp)
        answers["size"] = size_name
        with open(os.path.join(tmp, "answers.json"), "w") as f:
            json.dump(answers, f, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(answers_path) as f:
        return out, json.load(f)
