"""One benchmark run inside its own process: set up Spark, run one workload
for the requested seconds, check its outputs against the planted answers,
and write the metrics to a JSON file.

run.py starts this file as a child process (so it can sample the memory
of the whole process tree from outside) and prints the final result line.
Every call into the package goes through its public API, wrapped in a
tracer span; spans are only recorded in traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Tracer, engine_totals, read_event_log  # noqa: E402

import gen  # noqa: E402
from run import group_stats  # noqa: E402

# power iterations per PageRank call: enough rounds to show the per-round
# cost, few enough that a whole analysis pass fits the run budget
PAGERANK_ITERS = 5
# setups per run: the first includes starting the JVM, the others stop and
# re-create the SparkContext in it; setup_s is their median
N_SETUPS = 3

E2E = ("setup_s", "cpu_s", "peak_rss_mb")
STREAM_TABLES = ("blocks", "transactions", "logs", "token_transfers", "deployments",
                 "destructions")
GRAPH_KERNELS = ("pagerank", "connected_components", "coreness", "duplicate_clusters")
ENGINE = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
    ("sources.write_eth_table_s", "s"),
    ("sources.read_eth_table_s", "s"), ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"), ("sources.sink_bytes_per_input_byte", "ratio"),
    ("sources.rewrite_rows_per_new_row", "ratio"),
    ("functions.udf_exec_s", "s"), ("functions.udf_rows", "count"),
    ("functions.udf_rows_per_distinct_code", "ratio"),
    ("operators.extract_all_s", "s"), ("operators.cosine_similarity_pairs_s", "s"),
    ("operators.jaccard_similarity_pairs_s", "s"), ("operators.lifetimes_s", "s"),
    *((f"graph.{k}{suffix}", unit) for k in GRAPH_KERNELS
      for suffix, unit in (("_s", "s"), ("_build_s", "s"), ("_jobs", "count"))),
    ("streaming.trigger_s", "s"), ("streaming.foreach_body_s", "s"),
    ("streaming.trigger_overhead_s", "s"), ("streaming.process_block_batch_s", "s"),
    ("streaming.dedup_against_sink_s", "s"), ("streaming.jobs_per_batch", "count"),
    ("streaming.reorg_batch_s", "s"),
    ("pipeline.curate_corpus_s", "s"), ("pipeline.minhash_dedup_pairs_s", "s"),
    ("pipeline.lsh_candidates", "count"), ("pipeline.verified_pairs", "count"),
    ("pipeline.pairs_per_candidate", "ratio"),
    ("plans.graph_edges_s", "s"),
    *((f"spark.{k}", "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"))
      for k in ENGINE),
    ("trace.wall_s", "s"),
)


class Run:
    """State of one workload run: the session, tracer, timings and tallies."""

    def __init__(self, spark, tracer: Tracer, inputs: str, answers: dict, work: str,
                 seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.answers = answers
        self.work = work
        self.seconds = seconds
        self.iter_s: list[float] = []
        self.cpu_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer values only the workload knows
        self.distinct_codes = 0  # bytecodes the byte kernels had to see, over the timed units
        self.new_rows = 0  # rows the timed micro-batches added to the sink

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a failed correctness check is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def check(self, failures: list[str]) -> None:
        """Record failed correctness checks; each counts as a failed op."""
        self.failed += len(failures)
        self.failures += failures

    def start(self) -> tuple[float, float]:
        return time.perf_counter(), group_cpu_s()

    def lap(self, started: tuple[float, float]) -> None:
        """Record one timed iteration begun at `started` (from start())."""
        self.iter_s.append(time.perf_counter() - started[0])
        self.cpu_s.append(group_cpu_s() - started[1])
        print(f"chainbench: iteration {len(self.iter_s)} took {self.iter_s[-1]:.2f} s, "
              f"{self.cpu_s[-1]:.2f} CPU s", file=sys.stderr, flush=True)

    def keep_going(self, started: float, minimum: int) -> bool:
        """Iterate until --seconds have passed, and at least `minimum` times."""
        return len(self.iter_s) < minimum or time.perf_counter() - started < self.seconds


def group_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process group: this
    process, the JVM, the Python workers, and the exited children they
    reaped. Steal time on a shared host is not in it, unlike wall time."""
    ticks = sum(sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
                for fields in group_stats(os.getpgid(0)).values())
    return ticks / os.sysconf("SC_CLK_TCK")


def _sink_files(path: str) -> dict[str, tuple[int, int]]:
    """Data files under a sink: relative path -> (mtime_ns, size)."""
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith("part-"):
                st = os.stat(os.path.join(d, f))
                out[os.path.relpath(os.path.join(d, f), path)] = (st.st_mtime_ns, st.st_size)
    return out


def _new_files(before: dict, after: dict) -> tuple[int, int]:
    new = [v for k, v in after.items() if before.get(k) != v]
    return len(new), sum(size for _, size in new)


# ------------------------------------------------------------------- follow


def run_follow(r: Run) -> None:
    """Catch-up sync as a closed loop. A Structured Streaming query
    (`start_block_stream`, file source, one file per trigger) watches an
    empty landing directory; one block file lands, and the next lands only
    after its micro-batch has been committed. The foreachBatch body runs
    `extract_all` on the batch, `process_block_batch` for the six per-block
    tables, and `dedup_against_sink` plus a `write_eth_table` append for
    skeletons. Batch 0 (a longer prefix of the chain) is warm-up and is not
    timed; batch `reorg_batch` replays the range before it with new
    content. One iteration, and one operation, is one micro-batch."""
    from pyspark.sql import functions as F

    from eth2dgraph_spark.operators.extract import extract_all
    from eth2dgraph_spark.sources.eth import read_eth_table, write_eth_table
    from eth2dgraph_spark.streaming.live import (
        dedup_against_sink,
        process_block_batch,
        start_block_stream,
    )

    spark, a = r.spark, r.answers
    sink = os.path.join(r.work, "sink")
    landing = os.path.join(r.work, "landing")
    staging = os.path.join(r.work, "staging")
    os.makedirs(landing)
    os.makedirs(staging)
    raw = os.path.join(r.inputs, "raw")

    body_s: dict[int, float] = {}
    batch_info: dict[int, dict] = {}

    def derive_and_write(batch_df, batch_id: int, base: str) -> None:
        t0 = time.perf_counter()
        before = _sink_files(base) if r.tracer.enabled else {}
        with r.tracer.span("streaming.batch"):
            src = batch_df.select(F.first("_src")).collect()[0][0]
            blocks = batch_df.drop("_src")
            txs, logs, traces = (spark.read.parquet(os.path.join(raw, t, f"src={src}"))
                                 for t in ("transactions", "logs", "traces"))
            with r.tracer.span("operators.extract_all"):
                res = extract_all(blocks, txs, logs, traces)
            try:
                for t in STREAM_TABLES:
                    with r.tracer.span(f"streaming.process_block_batch.{t}"):
                        process_block_batch(getattr(res, t), base, t,
                                            "number" if t == "blocks" else "block_number")
                with r.tracer.span("streaming.dedup_against_sink"):
                    fresh = dedup_against_sink(res.skeletons, spark, base)
                with r.tracer.span("sources.write_eth_table"):
                    write_eth_table(fresh, "skeletons", base, mode="append")
            finally:
                res.release()
        body_s[batch_id] = time.perf_counter() - t0
        info = {"src": src}
        if r.tracer.enabled:
            info["files"], info["bytes"] = _new_files(before, _sink_files(base))
        batch_info[batch_id] = info

    schema = spark.read.parquet(os.path.join(r.inputs, "landing_all", "b000")).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    query = start_block_stream(stream, sink, derive_and_write, os.path.join(r.work, "ckpt"))

    def land(k: int) -> None:
        src = a["batches"][k]["src"]
        tmp = os.path.join(staging, f"{src}.parquet")
        shutil.copyfile(os.path.join(r.inputs, "landing_all", src, "part-00000.parquet"), tmp)
        os.rename(tmp, os.path.join(landing, f"{src}.parquet"))  # atomic: never half a file
        query.processAllAvailable()

    processed = 0
    try:
        r.tracer.phase = "warmup"
        land(0)
        processed = 1
        r.tracer.phase = "timed"
        started = time.perf_counter()
        # the reorg batch runs in every run: keep going at least past it
        while processed < len(a["batches"]) and (
                processed <= a["reorg_batch"] or r.keep_going(started, 1)):
            t0 = r.start()
            ok = True
            try:
                land(processed)
            except Exception:  # noqa: BLE001 - a failed batch is a counted failure
                traceback.print_exc()
                ok = False
            r.op(ok, f"batch {processed}")
            if not ok:
                break
            r.lap(t0)
            processed += 1
    finally:
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        query.stop()
    r.tracer.phase = "check"
    t_check = time.perf_counter()
    counts = {t: read_eth_table(spark, t, sink).count() for t in STREAM_TABLES[1:]}
    counts["skeletons"], skeleton_hashes = read_eth_table(spark, "skeletons", sink).agg(
        F.count(F.lit(1)), F.countDistinct("skeleton_hash")).collect()[0]
    counts["blocks"], block_numbers, fork_blocks = read_eth_table(spark, "blocks", sink).agg(
        F.count(F.lit(1)), F.countDistinct("number"),
        F.count(F.when(F.col("miner") == gen.FORK_MINER, 1))).collect()[0]
    r.check(check_follow({"counts": counts, "skeleton_hashes": skeleton_hashes,
                          "block_numbers": block_numbers, "fork_blocks": fork_blocks},
                         gen.follow_expected(a, processed)))
    print(f"chainbench: checks took {time.perf_counter() - t_check:.2f} s", file=sys.stderr)

    # a micro-batch's wall time is the trigger execution time Structured
    # Streaming reports; batch ids follow landing order, the first is warm-up
    trig = {p.batchId: p.durationMs["triggerExecution"] / 1e3 for p in progress}
    ids = sorted(trig)[1:]
    if len(ids) == len(r.iter_s):  # else keep the closed loop's own wall times
        r.iter_s = [trig[i] for i in ids]
    batches = a["batches"][1:processed]
    r.distinct_codes = sum(b["distinct_codes"] for b in batches)
    r.new_rows = sum(sum(sum(b["per_block"][t]) for t in STREAM_TABLES) for b in batches)
    if ids and all(i in body_s for i in ids):
        r.layer["streaming.trigger_s"] = statistics.fmean(trig[i] for i in ids)
        r.layer["streaming.foreach_body_s"] = statistics.fmean(body_s[i] for i in ids)
        r.layer["streaming.trigger_overhead_s"] = (
            r.layer["streaming.trigger_s"] - r.layer["streaming.foreach_body_s"])
        reorg_src = a["batches"][a["reorg_batch"]]["src"]
        r.layer["streaming.reorg_batch_s"] = next(
            (trig[i] for i in ids if batch_info[i]["src"] == reorg_src), 0.0)
        if r.tracer.enabled:
            nbytes = sum(batch_info[i]["bytes"] for i in ids)
            r.layer["sources.files_written"] = sum(batch_info[i]["files"] for i in ids) / len(ids)
            r.layer["sources.bytes_written"] = nbytes / len(ids)
            r.layer["sources.sink_bytes_per_input_byte"] = nbytes / sum(
                b["input_bytes"] for b in batches)


# ------------------------------------------------------------------ analyse


def _pagerank_reference(edges: list[tuple[str, str]], num_iter: int = PAGERANK_ITERS,
                        damping: float = 0.85) -> dict[str, float]:
    """Independent numpy power iteration with the same conventions: every
    edge endpoint is a node, repeated edges carry weight, dangling mass is
    spread uniformly, ranks start at 1/n."""
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    n = len(nodes)
    outdeg = np.bincount(src, minlength=n).astype(float)
    dangling = outdeg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(num_iter):
        contrib = np.bincount(dst, weights=rank[src] / outdeg[src], minlength=n)
        rank = (1 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return dict(zip(nodes, rank.tolist()))


def _coreness_reference(edges: list[tuple[str, str]]) -> dict[str, int]:
    """Core numbers by sequential peeling of the simple undirected graph."""
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict[str, int] = {}
    k = 0
    alive = set(adj)
    while alive:
        k = max(k, min(deg[v] for v in alive))
        stack = [v for v in alive if deg[v] <= k]
        while stack:
            v = stack.pop()
            if v not in alive:
                continue
            alive.discard(v)
            core[v] = k
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        stack.append(u)
    return core


def check_follow(observed: dict, want: dict) -> list[str]:
    """Failures of the sink after a follow run against gen.follow_expected:
    every table's row count, no duplicate skeleton_hash or block number,
    and the reorged blocks carrying the replacement content."""
    out = [f"follow {t}: {observed['counts'].get(t)} rows, planted {n}"
           for t, n in want["counts"].items() if observed["counts"].get(t) != n]
    if observed["skeleton_hashes"] != observed["counts"].get("skeletons"):
        out.append(f"follow: {observed['counts'].get('skeletons')} skeleton rows but "
                   f"{observed['skeleton_hashes']} distinct skeleton_hash values")
    if observed["block_numbers"] != observed["counts"].get("blocks"):
        out.append(f"follow: {observed['counts'].get('blocks')} block rows but "
                   f"{observed['block_numbers']} distinct block numbers")
    if observed["fork_blocks"] != want["fork_blocks"]:
        out.append(f"follow reorg: {observed['fork_blocks']} blocks carry the replacement, "
                   f"planted {want['fork_blocks']}")
    return out


def check_analyse(got: dict, a: dict, pr_ref: dict[str, float],
                  core_ref: dict[str, int]) -> list[str]:
    """Failures of one analysis pass against the planted answers and the
    independent PageRank and coreness references."""
    out = []
    for key, planted in (("cosine", "cosine_pairs"), ("jaccard", "jaccard_pairs"),
                         ("components", "components"), ("curated", "curated_docs"),
                         ("clusters", "dup_clusters")):
        if got.get(key) != a[planted]:
            out.append(f"{key}: {got.get(key)!r}, planted {a[planted]}")
    for err in (check_lifetimes(got.get("lifetimes") or {}, a["lifetimes"]),
                check_pagerank(got.get("pagerank") or {}, pr_ref)):
        if err:
            out.append(err)
    if got.get("coreness") != core_ref:
        out.append("coreness differs from sequential peeling")
    return out


def check_pagerank(ranks: dict[str, float], ref: dict[str, float]) -> str | None:
    """None when `ranks` sums to 1 and matches the reference per node."""
    total = sum(ranks.values())
    if abs(total - 1.0) > 1e-9:
        return f"pagerank sums to {total!r}"
    if ranks.keys() != ref.keys():
        return f"pagerank ranks {len(ranks)} nodes, reference {len(ref)}"
    worst = max(abs(ranks[v] - ref[v]) for v in ref)
    return None if worst <= 1e-12 else f"pagerank differs from numpy by {worst:.3g}"


def check_lifetimes(got: dict, want: dict) -> str | None:
    """None when RQ1-RQ3 counts match exactly and RQ4 to 1e-9 relative."""
    for k, v in want.items():
        g = got.get(k)
        if isinstance(v, float):
            if g is None or abs(g - v) > 1e-9 * max(1.0, abs(v)):
                return f"lifetimes {k}: {g!r}, planted {v!r}"
        elif g != v:
            return f"lifetimes {k}: {g!r}, planted {v!r}"
    return None


def run_analyse(r: Run) -> None:
    """Closed loop of analysis passes over at-rest tables and a document
    corpus. One pass: read the tables with `read_eth_table`, cosine n-gram
    and interface Jaccard similarity, lifetimes RQ1-4, `graph_edges` of
    the transfer graph, `pagerank`, `connected_components`, `coreness`,
    then `curate_corpus` + `corpus_report`, `minhash_dedup_pairs` and
    `duplicate_clusters`. One iteration is one pass; one operation is one
    call. Nothing is written."""
    from pyspark.sql import functions as F

    from eth2dgraph_spark import graph
    from eth2dgraph_spark.functions.ngrams import ngram_rows
    from eth2dgraph_spark.operators import lifetimes as lt
    from eth2dgraph_spark.operators.similarity import (
        cosine_similarity_pairs,
        jaccard_similarity_pairs,
    )
    from eth2dgraph_spark.pipeline.corpus import corpus_report, curate_corpus
    from eth2dgraph_spark.pipeline.dedup import (
        minhash_dedup_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from eth2dgraph_spark.plans.views import graph_edges
    from eth2dgraph_spark.sources.eth import read_eth_table

    spark, a = r.spark, r.answers
    at = os.path.join(r.inputs, "atrest")
    docs = spark.read.parquet(os.path.join(r.inputs, "documents"))
    # the references read the generator's file directly, not through Spark
    tt = pq.read_table(os.path.join(at, "token_transfers"), columns=["from", "to"])
    edges_ref = list(zip(tt.column("from").to_pylist(), tt.column("to").to_pylist()))
    pr_ref = _pagerank_reference(edges_ref)
    core_ref = _coreness_reference(edges_ref)
    results: list[dict] = []

    def call(name: str, fn):
        """One public call as one counted operation; returns None on error."""
        try:
            with r.tracer.span(name):
                out = fn()
        except Exception:  # noqa: BLE001 - a failed call is a counted failure
            traceback.print_exc()
            out = None
        if r.tracer.phase == "timed":
            r.op(out is not None, name)
        return out

    def kernel(name: str, build, consume):
        def fn():
            with r.tracer.span(f"{name}_build"):
                df = build()
            return consume(df)
        return call(name, fn)

    def one_pass() -> dict:
        got: dict = {}
        t = call("sources.read_eth_table", lambda: {
            n: read_eth_table(spark, n, at) for n in (
                "skeletons", "abi", "abi_membership", "deployments", "destructions",
                "blocks", "token_transfers")})
        if t is None:
            return got
        got["cosine"] = call("operators.cosine_similarity_pairs", lambda: cosine_similarity_pairs(
            ngram_rows(t["skeletons"], id_col="skeleton_hash", code_col="bytecode")).count())
        tokens = t["abi_membership"].join(t["abi"], "signature").select(
            F.col("skeleton_hash").alias("id"), F.col("name").alias("token"))
        got["jaccard"] = call("operators.jaccard_similarity_pairs",
                              lambda: jaccard_similarity_pairs(tokens).count())

        def lifetimes():
            lc = lt.per_contract_lifecycle(t["deployments"], t["destructions"])
            row = {}
            for df in (lt.rq1_destroyed_vs_not(lc), lt.rq2_destroyed_once_vs_multiple(lc),
                       lt.rq3_same_block_tx(t["deployments"], t["destructions"]),
                       lt.rq4_lifetime_stats(lc, t["blocks"])):
                row.update(df.collect()[0].asDict())
            return row
        got["lifetimes"] = call("operators.lifetimes", lifetimes)
        edges = call("plans.graph_edges", lambda: graph_edges(
            {"token_transfers": t["token_transfers"]}).filter(
                F.col("type") == "token_transfer").select("src", "dst"))
        if edges is not None:
            got["pagerank"] = kernel("graph.pagerank",
                                     lambda: graph.pagerank(edges, num_iter=PAGERANK_ITERS),
                                     lambda df: {x["node"]: x["rank"] for x in df.collect()})
            got["components"] = kernel(
                "graph.connected_components", lambda: graph.connected_components(edges),
                lambda df: df.select(F.countDistinct("component")).collect()[0][0])
            got["coreness"] = kernel("graph.coreness", lambda: graph.coreness(edges),
                                     lambda df: {x["node"]: x["coreness"] for x in df.collect()})
        got["curated"] = call("pipeline.curate_corpus", lambda: sum(
            x["n_docs"] for x in corpus_report(curate_corpus(docs)).collect()))
        pairs = call("pipeline.minhash_dedup_pairs", lambda: minhash_dedup_pairs(docs))
        if pairs is not None:
            got["verified_pairs"] = pairs.count()
            got["clusters"] = kernel(
                "graph.duplicate_clusters", lambda: graph.duplicate_clusters(pairs),
                lambda df: df.select(F.countDistinct("component")).collect()[0][0])
        return got

    # no warm-up pass: the setups warmed the JVM and the Python workers, and
    # a pass is long enough (hundreds of jobs) to measure on its own
    r.tracer.phase = "timed"
    started = time.perf_counter()
    while r.keep_going(started, 1):
        t0 = r.start()
        with r.tracer.span("iteration"):
            results.append(one_pass())
        r.lap(t0)
    r.tracer.phase = "check"
    for i, got in enumerate(results):
        r.check([f"pass {i}: {e}" for e in check_analyse(got, a, pr_ref, core_ref)])
    # the n-gram kernel sees each skeleton once per pass
    r.distinct_codes = len(results) * spark.read.parquet(
        os.path.join(at, "skeletons")).count()
    if r.tracer.enabled:
        # a separate candidate count, outside the timed region: the share of
        # LSH candidates that exact-Jaccard verification keeps
        r.tracer.phase = "extra"
        with r.tracer.span("pipeline.minhash_lsh_candidates"):
            cands = minhash_lsh_candidates(minhash_signatures(docs)).count()
        verified = results[-1].get("verified_pairs") or 0
        r.layer["pipeline.lsh_candidates"] = cands
        r.layer["pipeline.verified_pairs"] = verified
        r.layer["pipeline.pairs_per_candidate"] = verified / cands if cands else 0.0


WORKLOADS = {"follow": run_follow, "analyse": run_analyse}


# -------------------------------------------------------------------- setup


def setup(conf: dict, cpus: int):
    """Create the session and warm it: one JVM query and one Python UDF
    stage with a task per core, so the Python workers are running."""
    from pyspark.sql.functions import pandas_udf

    from eth2dgraph_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("chainbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, 100_000, numPartitions=cpus).selectExpr("sum(id)").collect()

    def plus_one(s: pd.Series) -> pd.Series:  # nested: pickled by value
        return s + 1

    spark.range(0, 1_000, numPartitions=cpus).select(pandas_udf(plus_one, "long")("id")).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def layer_metrics(r: Run, setups: list[tuple[float, float, float]], events: dict) -> dict:
    """Per-layer values, each per timed iteration unless it is a ratio."""
    spans = [s for s in r.tracer.spans if s.phase == "timed"]
    n = max(1, len(r.iter_s))
    by_id = {s.id: s for s in r.tracer.spans}

    def secs(pred) -> float:
        return sum(s.seconds for s in spans if pred(s.name)) / n

    def engine(pred) -> dict:
        ids = {s.id for s in spans if pred(s.name)}
        # a job belongs to its innermost span; count descendants too
        groups = {s.id for s in spans
                  if any(p in ids for p in _ancestors(s, by_id))}
        return engine_totals(events, ids | groups)

    m: dict[str, float] = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    m["session.get_spark_s"] = statistics.median(s[1] for s in setups)
    m["session.warmup_s"] = statistics.median(s[2] for s in setups)
    m["sources.write_eth_table_s"] = secs(lambda x: x == "sources.write_eth_table")
    m["sources.read_eth_table_s"] = secs(lambda x: x == "sources.read_eth_table")
    allspans = engine(lambda x: x in ("iteration", "streaming.batch"))
    m["functions.udf_exec_s"] = allspans["udf_exec_s"] / n
    m["functions.udf_rows"] = allspans["udf_rows"] / n
    m["functions.udf_rows_per_distinct_code"] = (
        allspans["udf_rows"] / r.distinct_codes if r.distinct_codes else 0.0)
    for k in ENGINE:
        m[f"spark.{k}"] = allspans[k] / n
    m["operators.extract_all_s"] = secs(lambda x: x == "operators.extract_all")
    for k in ("cosine_similarity_pairs", "jaccard_similarity_pairs", "lifetimes"):
        m[f"operators.{k}_s"] = secs(lambda x, k=k: x == f"operators.{k}")
    for k in GRAPH_KERNELS:
        m[f"graph.{k}_s"] = secs(lambda x, k=k: x == f"graph.{k}")
        m[f"graph.{k}_build_s"] = secs(lambda x, k=k: x == f"graph.{k}_build")
        m[f"graph.{k}_jobs"] = engine(lambda x, k=k: x == f"graph.{k}")["jobs"] / n
    m["streaming.process_block_batch_s"] = secs(
        lambda x: x.startswith("streaming.process_block_batch."))
    m["streaming.dedup_against_sink_s"] = secs(lambda x: x == "streaming.dedup_against_sink")
    batches = sum(1 for s in spans if s.name == "streaming.batch")
    if batches:
        m["streaming.jobs_per_batch"] = engine(lambda x: x == "streaming.batch")["jobs"] / batches
        written = engine(
            lambda x: x.startswith("streaming.process_block_batch."))["records_written"]
        m["sources.rewrite_rows_per_new_row"] = (
            (written - r.new_rows) / r.new_rows if r.new_rows else 0.0)
    m["pipeline.curate_corpus_s"] = secs(lambda x: x == "pipeline.curate_corpus")
    m["pipeline.minhash_dedup_pairs_s"] = secs(lambda x: x == "pipeline.minhash_dedup_pairs")
    m["plans.graph_edges_s"] = secs(lambda x: x == "plans.graph_edges")
    m["trace.wall_s"] = statistics.median(r.iter_s) if r.iter_s else 0.0
    m.update(r.layer)
    return m


def _ancestors(span, by_id):
    p = span.parent
    while p is not None:
        yield p
        p = by_id[p].parent if p in by_id else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-file", required=True)
    ap.add_argument("--spawned", type=float, required=True, help="wall-clock spawn time")
    args = ap.parse_args(argv)
    with open(os.path.join(args.inputs, "answers.json")) as f:
        answers = json.load(f)
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(args.work, "local"),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -Xms: a heap committed up front; grown on demand, its size (and so
        # the JVM's resident memory) follows GC timing from run to run.
        # -XX:-UsePerfData: no hsperfdata file, which the JVM puts in /tmp.
        "spark.driver.extraJavaOptions": f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '2g')} "
                                         f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(args.work, 'tmp')}",
    }
    evdir = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        })
    setups = []
    t_setup = time.perf_counter()
    for i in range(N_SETUPS):
        t0 = time.time()
        spark, t_get, t_warm = setup(conf, cpus)
        # the first setup counts from process start: interpreter, imports, JVM
        setups.append(((time.time() - args.spawned) if i == 0 else time.time() - t0, t_get, t_warm))
        if i < N_SETUPS - 1:
            spark.stop()
    print(f"chainbench: {N_SETUPS} setups took {time.perf_counter() - t_setup:.2f} s",
          file=sys.stderr)
    tracer = Tracer(spark.sparkContext if args.trace else None)
    r = Run(spark, tracer, args.inputs, answers, args.work, args.seconds)
    try:
        WORKLOADS[args.workload](r)
    finally:
        app_id = spark.sparkContext.applicationId
        spark.stop()
    for f in r.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    n = len(r.iter_s)
    if n:
        print(f"{args.workload}: {n} timed iterations, median {statistics.median(r.iter_s):.2f} "
              f"s wall and {statistics.median(r.cpu_s):.2f} CPU s")
    if args.trace:
        events = read_event_log(os.path.join(evdir, app_id))
        values = layer_metrics(r, setups, events)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}
        with open(args.trace_file, "w") as f:
            json.dump({"workload": args.workload, "spans": tracer.to_json(),
                       "engine_by_span": events}, f)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(s[0] for s in setups), "unit": "s"},
            "cpu_s": {"value": statistics.median(r.cpu_s) if n else 0.0, "unit": "s"},
        }
    with open(args.result, "w") as f:
        json.dump({"correct": not r.failures, "attempted": max(1, r.attempted),
                   "failed": r.failed, "metrics": metrics}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
