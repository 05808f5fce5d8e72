"""Round-12 graph soaks (VERDICT r11 items 3 + 7).

1. ZIPFIAN-SKEW soak for the iterative kernels (sssp / msf / harmonic):
   tools/soak_graph_r11.py proved scale on a UNIFORM-degree graph, but
   real similarity graphs are power-law and every frontier round joins
   the edge list on src — a hub's fan-out lands on one reducer. This
   soak generates a zipf out-degree graph (rank r gets ~C/r^alpha edges,
   alpha in {1.1, 1.5}; node 0 is a genuine mega-hub holding several
   percent of ALL edges at 1.1) with hash-scattered destinations, then
   measures rounds/wall for each kernel. The diagnostic: if the round
   that drains the hub is super-linear vs the uniform baseline's
   per-round cost, the salted-join lever (plans/physical.py salted_join)
   is the named fix; either way the measured pair lands in BASELINE.md.

   Degree construction, generated INSIDE Spark (no driver loop): the
   normalization constant C = m_target / H(n, alpha) is one numpy sum on
   the driver; each mapInPandas batch emits node i's d_i = max(1,
   int(C/(i+1)^alpha)) edges with dst_j = (i*2654435761 + j*40503 + 17)
   % n — deterministic, self-loop-filtered, hash-scattered so hub edges
   spread over DESTINATION space (the skew under test is the SRC key).

2. TARGETED-SSSP rounds-saved pair: the r11 soak graph (chain i->i+1
   w=i%7+1 + doubling i->(2i+1)%n w=3, seeds every 1000th node) runs
   shortest_paths to its ~30-round fixpoint; shortest_paths_targeted
   with targets adjacent to seeds must stop in a small fraction of the
   rounds and return identical target dists — the measured saving that
   justifies the two extra per-round driver actions.

3. pagerank / coreness ON BOTH SIDES OF THE SMALL-GRAPH SWITCH: below
   graph._DRIVER_MAX_EDGES both kernels run on the driver, so a
   benchmark-sized graph never reaches their distributed loops. These
   ops time each kernel on the zipfian graph twice (`switch_pair`): on
   the driver path, when the graph fits under the switch, and on the
   distributed path with the switch set one row below the graph (at its
   default for a graph above it), so the rejected size probe every graph
   above the switch pays is timed too.
   Near the switch (SOAK_M just under 1M) the pair is the evidence for
   where the switch sits; at 10x/100x it keeps the distributed path
   measured.

Usage: python tools/soak_graph_r12.py
       SOAK_N=2000000 SOAK_M=4000000 SOAK_ALPHAS=1.1,1.5
       SOAK_OPS=sssp,msf,harmonic,betweenness,betweenness_weighted,targeted,
                pagerank,coreness
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from eth2dgraph_spark.session import get_spark  # noqa: E402

N = int(os.environ.get("SOAK_N", "2000000"))
M = int(os.environ.get("SOAK_M", "4000000"))
ALPHAS = [float(x) for x in os.environ.get("SOAK_ALPHAS", "1.1,1.5").split(",")]
OPS = os.environ.get("SOAK_OPS", "sssp,msf,harmonic,targeted,pagerank,coreness").split(",")


def zipf_edges(spark, n: int, m: int, alpha: float):
    """Edges with zipf out-degrees: node i emits max(1, int(C/(i+1)^a))
    hash-scattered dsts; C normalizes the total to ~m."""
    c = m / float(np.sum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** alpha))

    def kernel(batches):
        for pdf in batches:
            srcs, dsts = [], []
            for i in pdf["id"]:
                i = int(i)
                d = max(1, int(c / (i + 1) ** alpha))
                j = np.arange(d, dtype=np.int64)
                dst = (i * 2654435761 + j * 40503 + 17) % n
                keep = dst != i
                dsts.append(dst[keep])
                srcs.append(np.full(int(keep.sum()), i, dtype=np.int64))
            yield pd.DataFrame(
                {
                    "src": np.concatenate(srcs),
                    "dst": np.concatenate(dsts),
                }
            )

    return (
        spark.range(n)
        .repartition(64)
        .mapInPandas(kernel, "src long, dst long")
        .withColumn("w", (F.col("dst") % 7 + 1).cast("double"))
    )


def chain_edges(spark, n: int):
    """The r11 soak graph (uniform degree 2, O(log n) weighted diameter
    from the seed set) for the targeted-SSSP pair."""

    def kernel(batches):
        for pdf in batches:
            i = pdf["id"]
            a = pd.DataFrame(
                {"src": i, "dst": (i + 1) % n, "w": (i % 7 + 1).astype("float64")}
            )
            b = pd.DataFrame({"src": i, "dst": (2 * i + 1) % n, "w": 3.0})
            yield pd.concat([a, b], ignore_index=True)

    return (
        spark.range(n)
        .repartition(max(32, n // 500_000))
        .mapInPandas(kernel, "src long, dst long, w double")
    )



def _peak_rss_mb(pid: "int | str", reset: bool = False) -> float:
    """Peak resident set of process `pid` in MB (VmHWM); `reset` restarts
    the peak at the current RSS (Linux clear_refs code 5)."""
    if reset:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return round(kb / 1024, 1)


def switch_pair(spark, G, rows: int, run) -> dict:
    """Time `run()` on both sides of the small-graph switch on one graph
    whose probed frame has `rows` rows: on the driver path (the switch at
    its default, when `rows` fits under it) and on the distributed path
    with the switch ONE ROW below `rows` (or at its default, for a graph
    already above it), so the run includes the rejected bounded-collect
    probe every graph above the switch pays. On that arm the probed
    frame is first persisted and counted (fill_s: the upstream build the
    distributed loop needs anyway), so probe_s is the probe's own extra
    cost, the bounded collect from the cache; on the driver arm probe_s
    is the whole fetch. `run` returns (per-node
    Series, stats dict); the two answers are compared. Peak RSS of the
    driver's Python and JVM processes is reset before each arm."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    default, real_probe = G._DRIVER_MAX_EDGES, G._collect_small
    probe_s: list = []
    fill_s: list = []

    def timed_probe(e):
        if G._DRIVER_MAX_EDGES < rows:
            t0 = time.time()
            e.persist(G.StorageLevel.MEMORY_AND_DISK).count()
            fill_s.append(time.time() - t0)
        t0 = time.time()
        try:
            return real_probe(e)
        finally:
            probe_s.append(time.time() - t0)

    # a graph above the switch takes the distributed path as it is
    arms = {"driver": default, "distributed": min(default, rows - 1)}
    res: dict = {"probed_rows": rows, "switch": default}
    answers = {}
    try:
        G._collect_small = timed_probe
        for arm, switch in arms.items():
            if arm == "driver" and rows > default:
                res[arm] = "skipped: graph above the switch"
                continue
            G._DRIVER_MAX_EDGES = switch
            probe_s.clear()
            fill_s.clear()
            _peak_rss_mb("self", reset=True)
            _peak_rss_mb(jvm_pid, reset=True)
            t0 = time.time()
            answers[arm], st = run()
            res[arm] = {
                "wall_s": round(time.time() - t0, 2),
                "fill_s": round(sum(fill_s), 2),
                "probe_s": round(sum(probe_s), 2),
                "nodes": len(answers[arm]),
                "py_peak_rss_mb": _peak_rss_mb("self"),
                "jvm_peak_rss_mb": _peak_rss_mb(jvm_pid),
                **st,
            }
    finally:
        G._DRIVER_MAX_EDGES, G._collect_small = default, real_probe
    if len(answers) == 2:
        a, b = answers["driver"], answers["distributed"].reindex(answers["driver"].index)
        res["max_abs_diff"] = float((a - b).abs().max())
    return res


def main() -> None:
    import eth2dgraph_spark.graph as G
    from eth2dgraph_spark.graph import (
        coreness,
        harmonic_closeness_sampled,
        minimum_spanning_forest,
        pagerank,
        shortest_paths,
        shortest_paths_targeted,
    )

    out: dict = {"n": N, "m_target": M, "alphas": {}}
    for alpha in ALPHAS:
        spark = get_spark(f"soak-graph-zipf-{alpha}", shuffle_partitions=64)
        spark.sparkContext.setLogLevel("ERROR")
        edges = zipf_edges(spark, N, M, alpha)
        n_edges = edges.count()
        hub = edges.groupBy("src").count().orderBy(F.desc("count")).limit(1).first()
        rec: dict = {
            "edges": n_edges,
            "max_out_degree": hub["count"],
            "hub_share": round(hub["count"] / n_edges, 4),
        }
        seeds = spark.range(0, N, 100_000).selectExpr("id AS node")
        if "sssp" in OPS:
            st: dict = {}
            t0 = time.time()
            cnt = shortest_paths(edges, seeds, weight="w", max_iter=60, stats=st).count()
            rec["sssp"] = {"wall_s": round(time.time() - t0, 2), "reached": cnt, **st}
            print(f"# alpha={alpha} sssp: {rec['sssp']}", file=sys.stderr)
        if "msf" in OPS:
            st2: dict = {}
            t0 = time.time()
            cnt = minimum_spanning_forest(edges, stats=st2).count()
            rec["msf"] = {
                "wall_s": round(time.time() - t0, 2),
                "forest_edges": cnt,
                **st2,
            }
            print(f"# alpha={alpha} msf: {rec['msf']}", file=sys.stderr)
        if "harmonic" in OPS:
            lm = spark.range(0, N, N // 4).selectExpr("CAST(id AS STRING) AS node")
            t0 = time.time()
            cnt = harmonic_closeness_sampled(
                edges, lm, weight="w", max_iter=30
            ).count()
            rec["harmonic"] = {"wall_s": round(time.time() - t0, 2), "nodes": cnt}
            print(f"# alpha={alpha} harmonic: {rec['harmonic']}", file=sys.stderr)
        if "betweenness" in OPS:
            # 2 landmarks keep the product graph at 2x edges. Landmarks =
            # sample_landmarks(by='degree') — the realistic
            # degree-biased sampling choice, and the one that keeps BFS
            # depth O(log n) on this graph: a TAIL landmark (out-degree 1)
            # starts a pseudo-random chain hundreds of hops deep (measured:
            # landmarks {0, N/2} truncated at max_iter=40, converged=false,
            # 129 s — kept as the truncation-semantics receipt), while the
            # head landmarks converge in ~log n levels. The scale shape
            # under test is the per-level DAG slice join vs the hub fan-out.
            from eth2dgraph_spark.graph import betweenness_landmarks

            from eth2dgraph_spark.graph import sample_landmarks

            lm2 = sample_landmarks(edges, 2, by="degree")
            st3: dict = {}
            t0 = time.time()
            cnt = betweenness_landmarks(edges, lm2, max_iter=40, stats=st3).count()
            rec["betweenness"] = {
                "wall_s": round(time.time() - t0, 2),
                "nodes_with_dependency": cnt,
                **st3,
            }
            print(f"# alpha={alpha} betweenness: {rec['betweenness']}", file=sys.stderr)
        if "betweenness_weighted" in OPS:
            # round-13: the weighted variant on the same zipfian graph
            # (the chain weights w=src%7+1 already ride zipf_edges) —
            # the scale question is the D full-DAG backward rounds vs
            # the unweighted kernel's per-level slices
            from eth2dgraph_spark.graph import betweenness_weighted, sample_landmarks as _sl

            lmw = _sl(edges, 2, by="degree")
            st4: dict = {}
            t0 = time.time()
            cnt = betweenness_weighted(
                edges, lmw, weight="w", max_iter=40, stats=st4
            ).count()
            rec["betweenness_weighted"] = {
                "wall_s": round(time.time() - t0, 2),
                "nodes_with_dependency": cnt,
                **st4,
            }
            print(
                f"# alpha={alpha} betweenness_weighted: {rec['betweenness_weighted']}",
                file=sys.stderr,
            )
        if "pagerank" in OPS:
            rows = edges.count()  # pagerank probes the raw edge list

            def run_pagerank():
                st5: dict = {}
                ranks = pagerank(edges, num_iter=10, tol=1e-9, stats=st5)
                return ranks.toPandas().set_index("node")["rank"], st5

            rec["pagerank"] = switch_pair(spark, G, rows, run_pagerank)
            print(f"# alpha={alpha} pagerank: {rec['pagerank']}", file=sys.stderr)
        if "coreness" in OPS:
            # coreness probes the simple undirected pairs
            rows = G._simple_undirected(edges, "src", "dst").count()

            def run_coreness():
                core = coreness(edges).toPandas().set_index("node")["coreness"]
                return core, {"degeneracy": int(core.max())}

            rec["coreness"] = switch_pair(spark, G, rows, run_coreness)
            print(f"# alpha={alpha} coreness: {rec['coreness']}", file=sys.stderr)
        out["alphas"][str(alpha)] = rec
        spark.stop()

    if "targeted" in OPS:
        spark = get_spark("soak-targeted", shuffle_partitions=64)
        spark.sparkContext.setLogLevel("ERROR")
        edges = chain_edges(spark, N)
        seeds = spark.range(0, N, 1000).selectExpr("id AS node")
        # targets adjacent to three seeds — the point-to-point case
        tgts = spark.createDataFrame(
            [(1,), (1001,), (2001,)], "node long"
        )
        stf: dict = {}
        t0 = time.time()
        full = shortest_paths(edges, seeds, weight="w", max_iter=60, stats=stf)
        full_t = {
            r["node"]: r["dist"]
            for r in full.join(
                tgts.selectExpr("CAST(node AS STRING) AS node"), "node"
            ).collect()
        }
        full_wall = round(time.time() - t0, 2)
        stt: dict = {}
        t0 = time.time()
        got = {
            r["node"]: r["dist"]
            for r in shortest_paths_targeted(
                edges, seeds, tgts, weight="w", max_iter=60, stats=stt
            ).collect()
        }
        tgt_wall = round(time.time() - t0, 2)
        assert got == full_t, (got, full_t)
        out["targeted"] = {
            "full_rounds": stf["iterations"],
            "full_wall_s": full_wall,
            "targeted_rounds": stt["iterations"],
            "targeted_wall_s": tgt_wall,
            "early_stopped": stt["early_stopped"],
            "dists_equal": True,
        }
        print(f"# targeted: {out['targeted']}", file=sys.stderr)
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
