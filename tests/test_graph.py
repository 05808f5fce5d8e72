"""Graph layer kernels: connected components (alternating star), PageRank,
degrees, k-hop. Reference analogue: Dgraph's graph traversals
(dgraph/contracts.schema:96-212) and the analyse jobs' reverse-edge walks
(src/analysys/lifetimes.rs:320-357)."""

import math

import pytest
from pyspark.sql import functions as F

import eth2dgraph_spark.graph as G
from eth2dgraph_spark.graph import (
    connected_components,
    dedup_by_clusters,
    degrees,
    duplicate_clusters,
    k_hop,
    pagerank,
    personalized_pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


@pytest.fixture
def distributed(monkeypatch):
    """Small-graph switch at 0: every kernel takes its distributed path."""
    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)


def _no_rounds(*_a, **_k):
    raise AssertionError("a distributed round ran on the driver path")


def _driver_and_distributed(monkeypatch, run):
    """run() below the small-graph switch (asserting no distributed round
    cuts lineage), then with the switch at 0; `run` must collect."""
    with monkeypatch.context() as m:
        m.setattr(G, "_truncator", _no_rounds)
        fast = run()
    with monkeypatch.context() as m:
        m.setattr(G, "_DRIVER_MAX_EDGES", 0)
        slow = run()
    return fast, slow


def test_connected_components_two_components(spark):
    # chain a-b-c-d plus triangle x-y-z, plus a duplicate/reversed edge
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("z", "x"), ("b", "a")],
    )
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x", "z": "x"}


def test_connected_components_long_chain_converges(spark):
    # diameter 63 — plain min-propagation would need 63 rounds; the
    # star algorithm must finish well inside max_iter=20
    e = _edges(spark, [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)])
    got = connected_components(e, max_iter=20).collect()
    assert len(got) == 64
    assert {r["component"] for r in got} == {"n000"}


def test_connected_components_driver_path_equals_distributed(spark, monkeypatch):
    # the small-graph union-find path (r14) must be row-identical to the
    # distributed star rounds — exercised on a graph with chains, a star
    # hub, duplicate/reversed edges and self-loops
    edges = (
        [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)]
        + [("hub", f"leaf{i}") for i in range(9)]
        + [("q1", "q2"), ("q2", "q1"), ("q3", "q3"), ("q3", "q4")]
    )
    e = _edges(spark, edges)
    fast, slow = _driver_and_distributed(
        monkeypatch, lambda: {tuple(r) for r in connected_components(e).collect()}
    )
    assert fast == slow
    assert ("q3", "q3") in fast  # self-loop alone must not isolate q3-q4


def test_size_partitions_regimes(spark):
    """_size_partitions: parallelism floor only while there's >=50k rows
    per task worth of work; 2M-rows-per-task ceiling for big inputs."""
    from eth2dgraph_spark.graph import _size_partitions

    par = spark.sparkContext.defaultParallelism
    assert _size_partitions(1, spark) == 1
    assert _size_partitions(50_000, spark) == 1
    assert _size_partitions(100_001, spark) == min(par, 3)
    # mid-size: one task per 50k rows, capped at the core count
    assert _size_partitions(50_000 * (par + 5), spark) == par
    # big: rows/2M wins over the core cap
    assert _size_partitions(2_000_000 * (par + 3), spark) == par + 3


def test_small_star_oriented_skip_equivalent(spark):
    """oriented=True (the CC round loop's r14 shuffle skip) must be a pure
    no-op on _large_star output: same rows as the orienting path, on a
    graph with multi-component structure, reversed duplicates and a hub."""
    from eth2dgraph_spark.graph import _canonical_undirected, _large_star, _small_star

    raw = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "a"),
         ("h", "x1"), ("h", "x2"), ("h", "x3"), ("x3", "x1"),
         ("p", "q"), ("q", "r")],
    )
    ls = _large_star(_canonical_undirected(raw, "src", "dst"))
    want = sorted((r["u"], r["v"]) for r in _small_star(ls).collect())
    got = sorted((r["u"], r["v"]) for r in _small_star(ls, oriented=True).collect())
    assert got == want and len(want) > 0
    # and the precondition itself: large-star output is oriented (it is a
    # multiset since r14 — duplicates collapse in small_star's distinct)
    rows = [(r["u"], r["v"]) for r in ls.collect()]
    assert all(u > v for u, v in rows)


def test_duplicate_clusters_and_dedup(spark):
    docs = spark.createDataFrame(
        [("d1", "t"), ("d2", "t"), ("d3", "t"), ("d4", "u"), ("d5", "v")],
        "doc_id string, text string",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3")], "id_a string, id_b string"
    )
    clusters = {r["node"]: r["component"] for r in duplicate_clusters(pairs).collect()}
    assert clusters == {"d1": "d1", "d2": "d1", "d3": "d1"}
    kept = sorted(r["doc_id"] for r in dedup_by_clusters(docs, pairs).collect())
    assert kept == ["d1", "d4", "d5"]  # d2/d3 dropped, untouched docs kept


def test_degrees(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    got = {r["node"]: (r["in_degree"], r["out_degree"], r["degree"]) for r in degrees(e).collect()}
    assert got == {"a": (0, 2, 2), "b": (1, 1, 2), "c": (2, 0, 2)}


def test_pagerank_sums_to_one_and_ranks_hub(spark):
    # star: everyone links to hub; hub is dangling
    e = _edges(spark, [("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub")])
    ranks = {r["node"]: r["rank"] for r in pagerank(e, num_iter=15).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, rel_tol=1e-6)
    assert ranks["hub"] == max(ranks.values())
    leaf = [v for k, v in ranks.items() if k != "hub"]
    assert max(leaf) - min(leaf) < 1e-12  # symmetry


def test_pagerank_known_cycle(spark):
    # 3-cycle: uniform stationary distribution 1/3 each
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ranks = {r["node"]: r["rank"] for r in pagerank(e, num_iter=20).collect()}
    for v in ranks.values():
        assert math.isclose(v, 1 / 3, rel_tol=1e-9)


def test_pagerank_tol_early_exit(spark):
    # a 3-cycle is at its stationary distribution from iteration 1 (uniform
    # init is the fixed point), so a tol run must stop long before num_iter
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    st = {}
    ranks = {r["node"]: r["rank"] for r in pagerank(e, num_iter=50, tol=1e-12, stats=st).collect()}
    assert st["iterations"] <= 2 and st["last_delta"] <= 1e-12
    for v in ranks.values():
        assert math.isclose(v, 1 / 3, rel_tol=1e-9)
    # tol off: runs the pinned count (the gate's determinism contract)
    st2 = {}
    pagerank(e, num_iter=4, stats=st2).collect()
    assert st2["iterations"] == 4 and st2["last_delta"] is None
    # tol on but not immediately converged: the star graph's L1 delta decays
    # ~0.85x/round from 1.088, crossing 0.05 at iteration 9 — strictly
    # between the lower bound and the num_iter cap
    e2 = _edges(spark, [("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub")])
    st3 = {}
    r3 = {r["node"]: r["rank"] for r in pagerank(e2, num_iter=15, tol=0.05, stats=st3).collect()}
    assert 2 < st3["iterations"] < 15
    assert math.isclose(sum(r3.values()), 1.0, rel_tol=1e-6)


def test_pagerank_driver_path_equals_distributed(spark, monkeypatch):
    """The small-graph numpy iteration must reproduce the distributed
    power iteration: dangling nodes, duplicate edges (weight 2), a
    self-loop, plain and tol mode with stats, and empty input."""
    e = _edges(
        spark,
        [("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "c"),
         ("c", "d"), ("d", "e"), ("x", "y"), ("y", "z")],
    )

    def run(**kw):
        st: dict = {}
        ranks = {r["node"]: r["rank"] for r in pagerank(e, stats=st, **kw).collect()}
        return ranks, st

    for kw in ({"num_iter": 7}, {"num_iter": 40, "tol": 1e-6}):
        (fast, fst), (slow, sst) = _driver_and_distributed(monkeypatch, lambda: run(**kw))
        assert set(fast) == set(slow) == set("abcdexyz")
        for n in fast:
            assert fast[n] == pytest.approx(slow[n], abs=1e-12), (kw, n)
        assert fst["iterations"] == sst["iterations"]
        if "tol" in kw:
            assert 1 < fst["iterations"] < kw["num_iter"]
            assert fst["last_delta"] == pytest.approx(sst["last_delta"], abs=1e-12)
        else:
            assert fst["last_delta"] is sst["last_delta"] is None

    empty = _edges(spark, [])
    fast, slow = _driver_and_distributed(
        monkeypatch, lambda: pagerank(empty, stats={}).collect()
    )
    assert fast == slow == []


def test_small_graph_switch_boundary(spark, monkeypatch):
    """The bounded collect decides the path: a graph at the switch runs on
    the driver, one edge over it runs the distributed rounds from the
    probe's cache. Both give the same answer and leave nothing cached."""
    from eth2dgraph_spark.graph import coreness, k_core

    e = _edges(spark, [(f"a{i}", f"a{i + 1}") for i in range(6)])
    cuts = []
    real = G._truncator
    monkeypatch.setattr(G, "_truncator", lambda df, ck: cuts.append(1) or real(df, ck))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    kernels = {
        "pagerank": lambda: {r["node"]: pytest.approx(r["rank"], abs=1e-12)
                             for r in pagerank(e, num_iter=2).collect()},
        "k_core": lambda: set(map(tuple, k_core(e, k=1).collect())),
        "coreness": lambda: set(map(tuple, coreness(e).collect())),
        "cc": lambda: set(map(tuple, connected_components(e).collect())),
    }
    for name, kernel in kernels.items():
        got = {}
        for switch, over in ((6, False), (5, True)):
            monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", switch)
            cuts.clear()
            got[over] = kernel()
            assert bool(cuts) == over, (name, switch)
            assert cache.isEmpty(), (name, switch)
        assert got[False] == got[True], name


def test_ppr_mass_stays_near_sources(spark):
    # chain a->b->c plus a DISCONNECTED pair x->y: teleport only restarts
    # at the source, so the x/y component gets exactly zero rank, the
    # source holds the largest share, and Σrank = 1
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    srcs = spark.createDataFrame([("a",)], "node string")
    ranks = {r["node"]: r["rank"] for r in personalized_pagerank(e, srcs, num_iter=20).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, rel_tol=1e-9)
    assert ranks["x"] == 0.0 and ranks["y"] == 0.0
    assert ranks["a"] == max(ranks.values())
    assert ranks["a"] > ranks["b"] > ranks["c"] > 0


def test_ppr_matches_pure_python_simulation(spark):
    # randomized pin: replay the exact update rule in python on a random
    # graph (incl. dangling nodes) and compare every rank
    import random

    rng = random.Random(42)
    nodes = [f"n{i}" for i in range(30)]
    pairs = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)})
    pairs = [(u, v) for u, v in pairs if u != v]
    sources = ["n1", "n2", "n3"]
    d, iters = 0.85, 6

    out_adj: dict = {}
    for u, v in pairs:
        out_adj.setdefault(u, []).append(v)
    graph_nodes = sorted({x for p in pairs for x in p})
    in_graph = [s for s in sources if s in graph_nodes]
    reset = {v: (1.0 / len(in_graph) if v in in_graph else 0.0) for v in graph_nodes}
    rank = dict(reset)
    for _ in range(iters):
        contrib = {v: 0.0 for v in graph_nodes}
        dm = 0.0
        for u in graph_nodes:
            outs = out_adj.get(u)
            if not outs:
                dm += rank[u]
                continue
            share = rank[u] / len(outs)
            for v in outs:
                contrib[v] += share
        rank = {
            v: (1 - d) * reset[v] + d * (contrib[v] + dm * reset[v])
            for v in graph_nodes
        }

    e = _edges(spark, pairs)
    srcs = spark.createDataFrame([(s,) for s in sources], "node string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, srcs, num_iter=iters, damping=d).collect()
    }
    assert set(got) == set(graph_nodes)
    for v in graph_nodes:
        assert math.isclose(got[v], rank[v], rel_tol=1e-9, abs_tol=1e-12), v
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)


def test_ppr_all_sources_equals_uniform_pagerank(spark):
    # S = V makes the reset vector uniform 1/n -> identical to pagerank
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    e = _edges(spark, pairs)
    allnodes = spark.createDataFrame([(x,) for x in "abcd"], "node string")
    pr = {r["node"]: r["rank"] for r in pagerank(e, num_iter=8).collect()}
    ppr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, allnodes, num_iter=8).collect()
    }
    for v in pr:
        assert math.isclose(ppr[v], pr[v], rel_tol=1e-12), v


def test_ppr_edge_cases(spark):
    e = _edges(spark, [("a", "b")])
    # sources outside the graph are ignored; all-outside raises
    srcs = spark.createDataFrame([("zzz",)], "node string")
    with pytest.raises(ValueError, match="no source node"):
        personalized_pagerank(e, srcs, num_iter=2)
    mixed = spark.createDataFrame([("zzz",), ("a",)], "node string")
    ranks = {r["node"]: r["rank"] for r in personalized_pagerank(e, mixed, num_iter=10).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, rel_tol=1e-9)
    # tol early-exit + stats parity with pagerank: on the single-source
    # 3-cycle the L1 delta decays as 1.7 * 0.85^(k-1) (the rank mass
    # rotates), crossing 0.3 at iteration 12 — strictly inside the cap
    st = {}
    cyc = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    s1 = spark.createDataFrame([("a",)], "node string")
    personalized_pagerank(cyc, s1, num_iter=50, tol=0.3, stats=st).collect()
    assert 2 < st["iterations"] < 50 and st["last_delta"] <= 0.3


def test_k_hop_distances(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "a")])
    srcs = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["hops"] for r in k_hop(e, srcs, k=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}  # e is 4 hops, excluded


def test_k_hop_materialized_rounds_and_early_exit(spark):
    # per-hop frontiers are checkpointed deltas: the returned plan is a pure
    # union of materialized scans — no join lineage left to re-execute
    e = _edges(spark, [("a", "b"), ("b", "c")])
    srcs = spark.createDataFrame([("a",)], "node string")
    out = k_hop(e, srcs, k=10)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Join" not in plan
    # early exit: the chain exhausts after 2 hops, so only 3 materialized
    # frontiers (hop 0,1,2) appear — not 11
    assert plan.count("LogicalRDD") == 3
    assert {r["node"]: r["hops"] for r in out.collect()} == {"a": 0, "b": 1, "c": 2}


def test_triangle_count_known_graphs(spark):
    from eth2dgraph_spark.graph import triangle_count

    def tri(pairs):
        e = spark.createDataFrame(pairs, "src string, dst string")
        return triangle_count(e).first()["n_triangles"]

    # K4 = 4 triangles; edge direction and duplicates must not matter
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    assert tri(k4) == 4
    assert tri(k4 + [(b, a) for a, b in k4]) == 4  # symmetric dup input
    # triangle + pendant edge = 1; star/path/bipartite = 0
    assert tri([("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]) == 1
    assert tri([("h", x) for x in "abcde"]) == 0
    assert tri([("a", "b"), ("b", "c"), ("c", "d")]) == 0


def test_label_propagation_known_and_reference(spark):
    """Two triangles joined by one bridge edge: after enough rounds each
    triangle converges to its min label; plus a randomized synchronous-LPA
    reference comparison (same argmax/tie rule)."""
    import random

    from eth2dgraph_spark.graph import label_propagation

    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    e = spark.createDataFrame(tri, "src string, dst string")
    out = {r["node"]: r["label"] for r in label_propagation(e, num_iter=4).collect()}

    def ref(pairs, iters):
        nbrs = {}
        for u, v in pairs:
            if u != v:
                nbrs.setdefault(u, set()).add(v)
                nbrs.setdefault(v, set()).add(u)
        lab = {n: n for n in nbrs}
        for _ in range(iters):
            new = {}
            for n, ns in nbrs.items():
                cnt = {}
                for m in ns:
                    cnt[lab[m]] = cnt.get(lab[m], 0) + 1
                new[n] = min(cnt, key=lambda L: (-cnt[L], L))
            lab = new
        return lab

    assert out == ref(tri, 4)
    rng = random.Random(4099)
    pairs = list(
        {
            (f"n{rng.randint(0, 30)}", f"n{rng.randint(0, 30)}")
            for _ in range(80)
        }
    )
    pairs = [(u, v) for u, v in pairs if u != v]
    e2 = spark.createDataFrame(pairs, "src string, dst string")
    for iters in (1, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(e2, num_iter=iters).collect()
        }
        assert got == ref(pairs, iters), iters


def test_reliable_checkpoint_results_identical(spark, tmp_path, distributed):
    """checkpoint_dir= switches every per-iteration lineage cut from
    localCheckpoint to a reliable checkpoint (cluster fault-tolerance);
    results must be identical for all four iterative kernels, and the
    directory must actually receive checkpoint data. The small-graph
    switch is off: its driver path makes no lineage cuts at all."""
    import random

    from eth2dgraph_spark.graph import (
        connected_components,
        k_hop,
        label_propagation,
        pagerank,
    )

    rng = random.Random(77)
    pairs = list({(f"n{rng.randint(0, 25)}", f"n{rng.randint(0, 25)}") for _ in range(60)})
    pairs = [(u, v) for u, v in pairs if u != v]
    e = spark.createDataFrame(pairs, "src string, dst string")
    ck = str(tmp_path / "ckpt")

    a = {tuple(r) for r in connected_components(e).collect()}
    b = {tuple(r) for r in connected_components(e, checkpoint_dir=ck).collect()}
    assert a == b

    pa = {r["node"]: r["rank"] for r in pagerank(e, num_iter=4).collect()}
    pb = {r["node"]: r["rank"] for r in pagerank(e, num_iter=4, checkpoint_dir=ck).collect()}
    assert set(pa) == set(pb)
    for n in pa:
        assert pa[n] == pytest.approx(pb[n], abs=1e-15)

    la = {tuple(r) for r in label_propagation(e, num_iter=3).collect()}
    lb = {tuple(r) for r in label_propagation(e, num_iter=3, checkpoint_dir=ck).collect()}
    assert la == lb

    src = spark.createDataFrame([("n1",)], "node string")
    ka = {tuple(r) for r in k_hop(e, src, 3).collect()}
    kb = {tuple(r) for r in k_hop(e, src, 3, checkpoint_dir=ck).collect()}
    assert ka == kb

    from eth2dgraph_spark.graph import shortest_path_tree, shortest_paths

    we = spark.createDataFrame(
        [(u, v, float(1 + (len(u) + len(v)) % 3)) for u, v in pairs],
        "src string, dst string, w double",
    )
    sa = {tuple(r) for r in shortest_paths(we, src, weight="w").collect()}
    sb = {tuple(r) for r in shortest_paths(we, src, weight="w", checkpoint_dir=ck).collect()}
    assert sa == sb

    ta = {tuple(r) for r in shortest_path_tree(we, src, weight="w").collect()}
    tb = {tuple(r) for r in shortest_path_tree(we, src, weight="w", checkpoint_dir=ck).collect()}
    assert ta == tb

    import os

    assert any(os.scandir(ck))  # reliable checkpoints actually landed


def test_same_checkpoint_dir_compares_path_components():
    """The _truncator re-set guard must compare path COMPONENTS: a current
    dir 'file:/data/ck-old/uuid' must NOT match a requested '/data/ck'
    (the substring-containment bug), while the same dir modulo scheme
    qualification and the UUID subdir must match."""
    from eth2dgraph_spark.graph import _same_checkpoint_dir as same

    assert same("file:/data/ck/3f2a-uuid", "/data/ck")
    assert same("file:/data/ck/3f2a-uuid", "/data/ck/")
    assert same("hdfs://nn:8020/data/ck/u1", "hdfs://nn:8020/data/ck")
    assert not same("file:/data/ck-old/3f2a-uuid", "/data/ck")  # the bug
    assert not same("file:/data/ck/3f2a-uuid", "/data/other")
    assert not same("hdfs://a:8020/d/ck/u", "hdfs://b:8020/d/ck")


def test_k_core_known_graph_and_reference(spark, monkeypatch):
    """Triangle + pendant chain: the 2-core is exactly the triangle (each
    triangle vertex has degree 2 inside it); randomized graphs pin the
    fixpoint against a pure-Python peeler; k=1 keeps everything."""
    import random

    from eth2dgraph_spark.graph import k_core

    tri = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    e = spark.createDataFrame(tri, "src string, dst string")
    got = {(r["node"], r["degree"]) for r in k_core(e, k=2).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2)}
    all_nodes = {r["node"] for r in k_core(e, k=1).collect()}
    assert all_nodes == {"a", "b", "c", "d", "e"}

    def ref_kcore(pairs, k):
        nbrs: dict[str, set] = {}
        for u, v in pairs:
            if u != v:
                nbrs.setdefault(u, set()).add(v)
                nbrs.setdefault(v, set()).add(u)
        changed = True
        while changed:
            changed = False
            for n in [n for n, s in nbrs.items() if len(s) < k]:
                for m in nbrs.pop(n):
                    nbrs[m].discard(n)
                changed = True
        return {(n, len(s)) for n, s in nbrs.items()}

    rng = random.Random(41)
    for trial in range(3):
        pairs = list(
            {(f"n{rng.randint(0, 19)}", f"n{rng.randint(0, 19)}") for _ in range(45)}
        )
        pairs = [(u, v) for u, v in pairs if u != v]
        df = spark.createDataFrame(pairs, "src string, dst string")
        for k in (2, 3):
            got = {(r["node"], r["degree"]) for r in k_core(df, k=k).collect()}
            assert got == ref_kcore(pairs, k), (trial, k)

    # reliable-checkpoint parity (the _truncator contract, same as the
    # other four kernels) — on the distributed path, the only one that
    # cuts lineage
    import tempfile

    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    with tempfile.TemporaryDirectory() as ck:
        a = {tuple(r) for r in k_core(e, k=2).collect()}
        b = {tuple(r) for r in k_core(e, k=2, checkpoint_dir=ck).collect()}
        assert a == b


def test_coreness_known_graph_and_reference(spark, monkeypatch):
    """Triangle + pendant chain: triangle vertices have coreness 2, the
    chain coreness 1. Randomized graphs pin exact (fixpoint) coreness
    against a pure-Python layered peeler; the capped fixed-shape mode
    must equal the exact answer truncated at max_k whenever each layer
    settles within rounds_per_layer."""
    import random

    from eth2dgraph_spark.graph import coreness

    tri = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    e = spark.createDataFrame(tri, "src string, dst string")
    got = {(r["node"], r["coreness"]) for r in coreness(e).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2), ("d", 1), ("e", 1)}

    def ref_coreness(pairs):
        live: dict[str, set] = {}
        for u, v in pairs:
            if u != v:
                live.setdefault(u, set()).add(v)
                live.setdefault(v, set()).add(u)
        core: dict[str, int] = {}
        k = 1
        while live:
            k += 1
            while True:
                drop = [n for n, s in live.items() if len(s) < k]
                if not drop:
                    break
                for n in drop:
                    for m in live.pop(n):
                        live[m].discard(n)
                    core[n] = k - 1
        return set(core.items())

    rng = random.Random(43)
    for trial in range(3):
        pairs = list(
            {(f"n{rng.randint(0, 19)}", f"n{rng.randint(0, 19)}") for _ in range(50)}
        )
        pairs = [(u, v) for u, v in pairs if u != v]
        df = spark.createDataFrame(pairs, "src string, dst string")
        exact = {(r["node"], r["coreness"]) for r in coreness(df).collect()}
        assert exact == ref_coreness(pairs), trial
        # capped mode == exact truncated at max_k (20 rounds/layer is far
        # past any layer's settle depth on a 20-node graph)
        want_capped = {(n, min(c, 2)) for n, c in exact}
        got_capped = {
            (r["node"], r["coreness"])
            for r in coreness(df, max_k=2, rounds_per_layer=20).collect()
        }
        assert got_capped == want_capped, trial

    # every node appears exactly once (the layers partition the node set)
    rows = coreness(e).collect()
    assert len(rows) == len({r["node"] for r in rows}) == 5

    # fixed-shape mode requires max_k
    import pytest as _pytest

    with _pytest.raises(ValueError):
        coreness(e, rounds_per_layer=2)

    # reliable-checkpoint parity (the _truncator contract) — on the
    # distributed path, the only one that cuts lineage
    import tempfile

    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    with tempfile.TemporaryDirectory() as ck:
        a = {tuple(r) for r in coreness(e).collect()}
        b = {tuple(r) for r in coreness(e, checkpoint_dir=ck).collect()}
        assert a == b


def test_k_core_driver_path_equals_distributed(spark, monkeypatch):
    """The small-graph numpy peel must return the distributed k-core,
    degrees included, on graphs with duplicate/reversed edges and
    self-loops, for k below, at and above the degeneracy."""
    import random

    from eth2dgraph_spark.graph import k_core

    rng = random.Random(7)
    pairs = [(f"n{rng.randint(0, 24)}", f"n{rng.randint(0, 24)}") for _ in range(70)]
    pairs += [("n1", "n2"), ("n2", "n1"), ("n3", "n3")]
    e = _edges(spark, pairs)
    for k in (1, 2, 3, 4, 9):
        fast, slow = _driver_and_distributed(
            monkeypatch, lambda: {tuple(r) for r in k_core(e, k=k).collect()}
        )
        assert fast == slow, k
    empty = _edges(spark, [])
    fast, slow = _driver_and_distributed(monkeypatch, lambda: k_core(empty).collect())
    assert fast == slow == []


def test_coreness_driver_path_equals_distributed(spark, monkeypatch):
    """The small-graph numpy peel must return the distributed coreness in
    exact mode and in capped mode — including rounds_per_layer below the
    peel depth, where truncation leaves a layer unsettled."""
    import random

    from eth2dgraph_spark.graph import coreness

    # a 5-clique with a 6-node tail: the tail needs 6 rounds to peel at
    # k=2, so one round per layer truncates
    clique = [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]
    tail = [("k0", "t0")] + [(f"t{i}", f"t{i + 1}") for i in range(5)]
    rng = random.Random(11)
    noise = [(f"r{rng.randint(0, 14)}", f"r{rng.randint(0, 14)}") for _ in range(30)]
    e = _edges(spark, clique + tail + noise + [("k1", "k0"), ("t2", "t2")])

    def run(**kw):
        return {tuple(r) for r in coreness(e, **kw).collect()}

    cases = ({}, {"max_k": 3}, {"max_k": 4, "rounds_per_layer": 1},
             {"max_k": 5, "rounds_per_layer": 2})
    got = {}
    for kw in cases:
        fast, slow = _driver_and_distributed(monkeypatch, lambda: run(**kw))
        assert fast == slow, kw
        got[tuple(kw.items())] = dict(fast)
    empty = _edges(spark, [])
    fast, slow = _driver_and_distributed(monkeypatch, lambda: coreness(empty).collect())
    assert fast == slow == []
    exact = got[()]
    truncated = got[(("max_k", 4), ("rounds_per_layer", 1))]
    # the truncation is real: the unsettled tail keeps labels above its
    # exact coreness of 1
    assert exact["t3"] == 1 and truncated["t3"] > 1


def test_modularity_known_values_and_reference(spark):
    """Two triangles joined by one bridge edge under the natural
    partition: hand-computed Q terms; a merged-into-one partition scores
    lower; randomized graphs pin against a pure-Python evaluator."""
    import random

    from eth2dgraph_spark.graph import modularity

    tri2 = [("a", "b"), ("b", "c"), ("c", "a"),
            ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")]
    e = spark.createDataFrame(tri2, "src string, dst string")
    part = spark.createDataFrame(
        [("a", "L"), ("b", "L"), ("c", "L"), ("x", "R"), ("y", "R"), ("z", "R")],
        "node string, label string",
    )
    got = {r["label"]: r for r in modularity(e, part).collect()}
    # m=7; community L: intra=3, deg_sum = 2+2+3 = 7 -> 3/7 - (7/14)^2
    for lbl in ("L", "R"):
        r = got[lbl]
        assert r["n_nodes"] == 3 and r["intra_edges"] == 3 and r["deg_sum"] == 7
        assert r["q_contrib"] == pytest.approx(3 / 7 - 0.25, abs=1e-12)
    q_split = sum(r["q_contrib"] for r in got.values())
    one = part.select("node").withColumn("label", F.lit("all"))
    q_one = sum(r["q_contrib"] for r in modularity(e, one).collect())
    assert q_split > q_one
    assert q_one == pytest.approx(0.0, abs=1e-12)  # whole graph in one part

    def ref_q(pairs, lab):
        es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
        m = len(es)
        deg: dict[str, int] = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        out = {}
        for c in set(lab.values()):
            nodes = {n for n, l in lab.items() if l == c}
            intra = sum(1 for u, v in es if u in nodes and v in nodes)
            ds = sum(deg.get(n, 0) for n in nodes)
            out[c] = intra / m - (ds / (2 * m)) ** 2
        return out

    rng = random.Random(13)
    pairs = list({(f"n{rng.randint(0, 14)}", f"n{rng.randint(0, 14)}") for _ in range(30)})
    pairs = [(u, v) for u, v in pairs if u != v]
    nodes = sorted({x for p in pairs for x in p})
    lab = {n: f"g{i % 3}" for i, n in enumerate(nodes)}
    df = spark.createDataFrame(pairs, "src string, dst string")
    ldf = spark.createDataFrame(list(lab.items()), "node string, label string")
    got2 = {r["label"]: r["q_contrib"] for r in modularity(df, ldf).collect()}
    want = ref_q(pairs, lab)
    assert set(got2) == set(want)
    for c in want:
        assert got2[c] == pytest.approx(want[c], abs=1e-12), c


def test_cluster_representatives_keep_best(spark):
    """Keep-longest cluster dedup: within each CC of the pair graph keep
    the row maximizing order_col (tie: min id); singletons are their own
    clusters; descending=False flips to keep-smallest."""
    from eth2dgraph_spark.graph import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: r for r in
           cluster_representatives(docs, pairs, "score").collect()}
    # cluster {1,2,3}: max score 30 tied between 2 and 3 -> min id 2
    assert set(got) == {2, 4, 5}
    assert got[2]["cluster_size"] == 3
    assert got[4]["cluster_size"] == 1 and got[5]["cluster_size"] == 1
    # singleton component label is the row's own id string
    assert got[4]["component"] == "4"
    # ascending: keep the smallest score in the cluster -> doc 1
    asc = {r["doc_id"] for r in
           cluster_representatives(docs, pairs, "score", descending=False).collect()}
    assert asc == {1, 4, 5}


def _hits_ref(edges, num_iter):
    """Pure-python HITS reference: auth <- A^T hub, L2-normalize; hub <- A
    auth_new, L2-normalize; hub0 = 1."""
    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 0.0 for n in nodes}
    for _ in range(num_iter):
        araw = {n: 0.0 for n in nodes}
        for u, v in edges:
            araw[v] += hub[u]
        an = math.sqrt(sum(x * x for x in araw.values()))
        auth = {n: araw[n] / an for n in nodes}
        hraw = {n: 0.0 for n in nodes}
        for u, v in edges:
            hraw[u] += auth[v]
        hn = math.sqrt(sum(x * x for x in hraw.values()))
        hub = {n: hraw[n] / hn for n in nodes}
    return auth, hub


def test_hits_matches_reference(spark):
    from eth2dgraph_spark.graph import hits

    edges = [("a", "x"), ("a", "y"), ("b", "y"), ("c", "y"), ("c", "z"),
             ("x", "a")]  # one back-edge so both sides score nonzero
    df = spark.createDataFrame(edges, "src string, dst string")
    stats = {}
    got = {r["node"]: r for r in hits(df, num_iter=3, stats=stats).collect()}
    auth, hub = _hits_ref(edges, 3)
    assert stats["iterations"] == 3
    for n in auth:
        assert got[n]["auth"] == pytest.approx(auth[n], abs=1e-12), n
        assert got[n]["hub"] == pytest.approx(hub[n], abs=1e-12), n
    # L2 norms are 1 after the final iteration
    assert sum(v["auth"] ** 2 for v in got.values()) == pytest.approx(1.0)
    assert sum(v["hub"] ** 2 for v in got.values()) == pytest.approx(1.0)


def test_hits_parallel_edges_weight_contributions(spark):
    # pagerank's multiplicity contract: a duplicated edge counts twice;
    # .distinct() input restores simple-graph semantics
    from eth2dgraph_spark.graph import hits

    dup = [("a", "x"), ("a", "x"), ("b", "y")]
    df = spark.createDataFrame(dup, "src string, dst string")
    got = {r["node"]: r["auth"] for r in hits(df, num_iter=1).collect()}
    auth, _ = _hits_ref(dup, 1)  # ref also counts the duplicate
    assert got["x"] == pytest.approx(auth["x"])
    assert got["x"] > got["y"]  # 2 parallel contributions beat 1
    simple = {r["node"]: r["auth"]
              for r in hits(df.distinct(), num_iter=1).collect()}
    assert simple["x"] == pytest.approx(simple["y"])


def test_hits_empty_graph(spark):
    from eth2dgraph_spark.graph import hits

    df = spark.createDataFrame([], "src string, dst string")
    out = hits(df, num_iter=2)
    assert out.columns == ["node", "auth", "hub"]
    assert out.count() == 0


def test_hits_tol_early_stop_and_equivalence(spark):
    """tol mode: the probe-join early stop (the pagerank tol discipline)
    converges on a symmetric graph in few rounds and, when it does not
    trigger, produces EXACTLY the fixed-iteration scores."""
    from eth2dgraph_spark.graph import hits

    edges = [("a", "x"), ("b", "x"), ("x", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    # no early stop (tol=0): identical to the fixed-iteration run
    stats = {}
    got_tol = {r["node"]: (r["auth"], r["hub"])
               for r in hits(df, num_iter=3, tol=0.0, stats=stats).collect()}
    got_fix = {r["node"]: (r["auth"], r["hub"])
               for r in hits(df, num_iter=3).collect()}
    assert got_tol == got_fix
    assert stats["iterations"] == 3 and stats["last_delta"] > 0.0
    # a 1-round-converging shape: pure bipartite star (a,b)->x; scores are
    # stationary after round 1, so round 2's delta is 0 -> stop at 2 of 50
    bip = spark.createDataFrame([("a", "x"), ("b", "x")], "src string, dst string")
    stats2 = {}
    hits(bip, num_iter=50, tol=1e-12, stats=stats2).collect()
    assert stats2["iterations"] < 50
    assert stats2["last_delta"] <= 1e-12


def test_shortest_paths_known_graph(spark):
    """Multi-edge path beats the direct edge; unreachable nodes absent;
    sources at dist 0. Dgraph's `shortest` traversal is the reference
    query surface this kernel mirrors (dgraph/contracts.schema)."""
    from eth2dgraph_spark.graph import shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 5.0), ("a", "c", 1.0), ("c", "b", 1.0), ("b", "d", 1.0),
         ("x", "y", 1.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in shortest_paths(e, srcs, weight="w").collect()}
    assert got == {"a": 0.0, "c": 1.0, "b": 2.0, "d": 3.0}  # x, y unreachable


def test_shortest_paths_default_weight_is_hop_count(spark):
    from eth2dgraph_spark.graph import k_hop, shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 9.0), ("b", "c", 9.0), ("c", "d", 9.0), ("b", "a", 9.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    hops = {r["node"]: float(r["hops"]) for r in k_hop(e, srcs, k=10).collect()}
    dists = {r["node"]: r["dist"] for r in shortest_paths(e, srcs).collect()}
    assert dists == hops


def test_shortest_paths_max_iter_is_edge_budget(spark):
    """Bellman-Ford invariant: after k rounds, dist = exact min over paths
    of <= k edges — what the sssp_dists gate's k-unrolled oracle checks."""
    from eth2dgraph_spark.graph import shortest_paths

    # chain a->b->c->d (w 1 each) plus a direct a->d shortcut of weight 10
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("a", "d", 10.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    one = {r["node"]: r["dist"] for r in shortest_paths(e, srcs, "w", max_iter=1).collect()}
    assert one == {"a": 0.0, "b": 1.0, "d": 10.0}  # c needs 2 edges
    full = {r["node"]: r["dist"] for r in shortest_paths(e, srcs, "w", max_iter=3).collect()}
    assert full == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}  # 3-edge path wins


def test_shortest_paths_randomized_dijkstra_pin(spark):
    """Randomized pin against a pure-Python multi-source Dijkstra: same
    graph, same integer weights, exact float equality (integer-valued
    doubles, no accumulation-order noise)."""
    import heapq
    import random

    from eth2dgraph_spark.graph import shortest_paths

    rng = random.Random(4177)
    n = 40
    edges = [
        (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}", float(rng.randint(1, 10)))
        for _ in range(150)
    ]
    seeds = ["v0", "v7"]

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {s: 0.0 for s in seeds}
    pq = [(0.0, s) for s in seeds]
    heapq.heapify(pq)
    while pq:
        dcur, u = heapq.heappop(pq)
        if dcur > dist.get(u, math.inf):
            continue
        for v, w in adj.get(u, []):
            nd = dcur + w
            if nd < dist.get(v, math.inf):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    e = spark.createDataFrame(edges, "src string, dst string, w double")
    srcs = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {r["node"]: r["dist"] for r in shortest_paths(e, srcs, weight="w").collect()}
    assert got == dist


def test_shortest_paths_returns_materialized_plan(spark):
    """The returned dist table is a checkpointed frame — no join lineage
    left to re-execute (the k_hop materialization discipline)."""
    from eth2dgraph_spark.graph import shortest_paths

    e = spark.createDataFrame([("a", "b", 1.0)], "src string, dst string, w double")
    srcs = spark.createDataFrame([("a",)], "node string")
    out = shortest_paths(e, srcs, weight="w", max_iter=5)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Join" not in plan
    assert {r["node"]: r["dist"] for r in out.collect()} == {"a": 0.0, "b": 1.0}


def test_shortest_path_tree_known_graph_and_tie_break(spark):
    """pred reconstructs a shortest path; among equal-cost predecessors
    the lexicographically smallest node id wins (the deterministic tree
    contract the sssp_paths oracle replays numerically via padded ids)."""
    from eth2dgraph_spark.graph import shortest_path_tree

    # two equal-cost routes into d: via b (1+1) and via c (1+1) -> pred=b
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0),
         ("d", "e", 2.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: (r["dist"], r["pred"])
           for r in shortest_path_tree(e, srcs, weight="w").collect()}
    assert got == {
        "a": (0.0, None), "b": (1.0, "a"), "c": (1.0, "a"),
        "d": (2.0, "b"), "e": (4.0, "d"),
    }
    # pred chain reconstructs a->b->d->e
    path, cur = [], "e"
    while cur is not None:
        path.append(cur)
        cur = got[cur][1]
    assert path == ["e", "d", "b", "a"]


def test_shortest_path_tree_pred_arrives_after_dist_converges(spark):
    """A minimizing predecessor whose OWN dist finalizes late must still
    win the tie: u's relaxation of v happens one round after u's dist
    settles, which is why the kernel's pred needs (dist rounds + 1)."""
    from eth2dgraph_spark.graph import shortest_path_tree

    # v is first reached via the long direct edge (pred z), then at equal
    # cost through the chain ending at "0" (lexicographically smaller)
    e = spark.createDataFrame(
        [("a", "z", 1.0), ("z", "v", 3.0),
         ("a", "m", 1.0), ("m", "0", 1.0), ("0", "v", 2.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: (r["dist"], r["pred"])
           for r in shortest_path_tree(e, srcs, weight="w").collect()}
    assert got["v"] == (4.0, "0")  # tie (via z also 4.0) broken to min id


def test_shortest_path_tree_matches_dists_and_reference(spark):
    """Randomized pin: dists equal shortest_paths exactly, and every pred
    is the minimum id among minimizing predecessors per the pure-Python
    reference."""
    import heapq
    import random

    from eth2dgraph_spark.graph import shortest_path_tree, shortest_paths

    rng = random.Random(911)
    n = 30
    edges = [
        (f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}",
         float(rng.randint(1, 9)))
        for _ in range(120)
    ]
    seeds = ["v00", "v05"]
    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {s: 0.0 for s in seeds}
    pq = [(0.0, s) for s in seeds]
    heapq.heapify(pq)
    while pq:
        dcur, u = heapq.heappop(pq)
        if dcur > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            if dcur + w < dist.get(v, float("inf")):
                dist[v] = dcur + w
                heapq.heappush(pq, (dcur + w, v))
    pred = {}
    for u, vs in adj.items():
        if u not in dist:
            continue
        for v, w in vs:
            if v in dist and dist[u] + w == dist[v]:
                pred[v] = min(pred.get(v, u), u)
    for s in seeds:
        pred[s] = None

    e = spark.createDataFrame(edges, "src string, dst string, w double")
    srcs = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {r["node"]: (r["dist"], r["pred"])
           for r in shortest_path_tree(e, srcs, weight="w").collect()}
    assert got == {k: (dist[k], pred[k]) for k in dist}
    only_d = {r["node"]: r["dist"]
              for r in shortest_paths(e, srcs, weight="w").collect()}
    assert only_d == dist


def test_msf_known_graph(spark):
    """Hand-checkable MSF: triangle with one heavy edge (dropped by the
    cycle property) plus a disconnected pair (second tree in the forest);
    duplicate/reversed input edges collapse to the min weight."""
    from eth2dgraph_spark.graph import minimum_spanning_forest

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 9.0),
         ("b", "a", 5.0),  # reversed duplicate, heavier -> ignored
         ("x", "y", 4.0)],
        "src string, dst string, w double",
    )
    got = {(r["u"], r["v"], r["w"]) for r in minimum_spanning_forest(e).collect()}
    assert got == {("a", "b", 1.0), ("b", "c", 2.0), ("x", "y", 4.0)}


def test_msf_multi_round_chain(spark):
    """A path graph forces multiple Borůvka rounds (round 1 only pairs
    each node with its cheaper neighbor); the MSF of a path is the path."""
    from eth2dgraph_spark.graph import minimum_spanning_forest

    edges = [(f"n{i:02d}", f"n{i + 1:02d}", float(10 + i % 7)) for i in range(20)]
    e = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {(r["u"], r["v"], r["w"]) for r in minimum_spanning_forest(e).collect()}
    assert got == {(u, v, w) for u, v, w in edges}


def test_msf_randomized_kruskal_pin(spark):
    """Randomized pin against pure-Python Kruskal under the same total
    order (w, u, v) — the tie-break makes the forest unique, so the
    comparison is exact set equality."""
    import random

    from eth2dgraph_spark.graph import minimum_spanning_forest

    rng = random.Random(2711)
    n = 25
    raw = list({
        tuple(sorted((f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}")))
        + (float(rng.randint(1, 20)),)
        for _ in range(70)
    })
    raw = [(u, v, w) for u, v, w in raw if u != v]
    # collapse duplicate (u, v) to min w, as the kernel does
    best = {}
    for u, v, w in raw:
        best[(u, v)] = min(best.get((u, v), w), w)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for (u, v), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.add((u, v, w))

    e = spark.createDataFrame(raw, "src string, dst string, w double")
    got = {(r["u"], r["v"], r["w"]) for r in minimum_spanning_forest(e).collect()}
    assert got == want


def test_single_linkage_clusters_threshold_sweep(spark):
    """One MSF answers every threshold: cutting dendrogram edges above t
    yields the single-linkage clusters at t."""
    from eth2dgraph_spark.graph import (
        minimum_spanning_forest,
        single_linkage_clusters,
    )

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 5.0), ("c", "d", 2.0)],
        "src string, dst string, w double",
    )
    msf = minimum_spanning_forest(e)  # a path: all three edges
    at2 = {r["node"]: r["cluster"] for r in single_linkage_clusters(msf, 2.0).collect()}
    assert at2 == {"a": "a", "b": "a", "c": "c", "d": "c"}
    at5 = {r["node"]: r["cluster"] for r in single_linkage_clusters(msf, 5.0).collect()}
    assert at5 == {"a": "a", "b": "a", "c": "a", "d": "a"}
    at0 = single_linkage_clusters(msf, 0.5).collect()
    assert at0 == []  # every edge cut -> all nodes isolated -> absent


def test_msf_distributed_contraction_branch_equal(spark, monkeypatch):
    """The small-graph switch at 0 forces the distributed star-CC contraction
    merge on every round; the forest must equal the (default)
    driver-union-find path exactly — the two branches are
    interchangeable merge strategies, not different algorithms."""
    import random

    from eth2dgraph_spark.graph import minimum_spanning_forest

    rng = random.Random(515)
    raw = list({
        tuple(sorted((f"v{rng.randrange(18):02d}", f"v{rng.randrange(18):02d}")))
        + (float(rng.randint(1, 15)),)
        for _ in range(45)
    })
    raw = [(u, v, w) for u, v, w in raw if u != v]
    e = spark.createDataFrame(raw, "src string, dst string, w double")
    fast = {tuple(r) for r in minimum_spanning_forest(e).collect()}
    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    dist = {tuple(r) for r in minimum_spanning_forest(e).collect()}
    assert fast == dist and len(fast) > 0


def test_shortest_paths_and_msf_stats(spark, monkeypatch):
    """The observability contract: stats reports executed rounds and
    convergence; MSF also reports which contraction-merge branch ran."""
    from eth2dgraph_spark.graph import minimum_spanning_forest, shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    st: dict = {}
    shortest_paths(e, srcs, weight="w", stats=st).collect()
    assert st == {"iterations": 3, "converged": True}
    st2: dict = {}
    shortest_paths(e, srcs, weight="w", max_iter=2, stats=st2).collect()
    assert st2 == {"iterations": 2, "converged": False}
    st3: dict = {}
    minimum_spanning_forest(e, stats=st3).collect()
    assert st3["rounds"] >= 1 and st3["collected_rounds"] == st3["rounds"]
    st4: dict = {}
    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    minimum_spanning_forest(e, stats=st4).collect()
    assert st4["collected_rounds"] == 0 and st4["rounds"] >= 1


def test_shortest_paths_edge_cases(spark):
    """Seeds outside the edge set still appear at dist 0 (a source IS
    reachable from itself); an empty frontier round exits immediately;
    zero-weight edges propagate at no cost; shortest_path_tree keeps a
    source's NULL pred even when a zero-weight cycle re-enters it."""
    from eth2dgraph_spark.graph import shortest_path_tree, shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 0.0), ("b", "a", 0.0)], "src string, dst string, w double"
    )
    srcs = spark.createDataFrame([("a",), ("zzz",)], "node string")
    got = {r["node"]: r["dist"] for r in shortest_paths(e, srcs, weight="w").collect()}
    assert got == {"a": 0.0, "zzz": 0.0, "b": 0.0}
    tree = {r["node"]: (r["dist"], r["pred"])
            for r in shortest_path_tree(e, srcs, weight="w").collect()}
    # the 0-weight cycle b->a offers (0.0, "b") to source a; '' sorts
    # before every id internally, so a keeps its NULL pred
    assert tree["a"] == (0.0, None)
    assert tree["b"] == (0.0, "a")


def test_reconstruct_paths_semantics(spark):
    """Completed walks return the source..target sequence; targets
    missing from the tree return NULL dist and path; a walk longer than
    max_len returns NULL, never a silently-truncated prefix."""
    from eth2dgraph_spark.graph import reconstruct_paths, shortest_path_tree

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    tree = shortest_path_tree(e, srcs, weight="w")
    targets = spark.createDataFrame([("d",), ("a",), ("zzz",)], "node string")
    got = {r["node"]: (r["dist"], r["path"])
           for r in reconstruct_paths(tree, targets).collect()}
    assert got["d"] == (3.0, ["a", "b", "c", "d"])
    assert got["a"] == (0.0, ["a"])  # a source's path is itself
    assert got["zzz"] == (None, None)  # not in the tree
    # max_len smaller than the walk: NULL, not a prefix
    short = {r["node"]: r["path"]
             for r in reconstruct_paths(tree, targets, max_len=2).collect()}
    assert short["d"] is None and short["a"] == ["a"]


def test_harmonic_closeness_sampled(spark):
    """Hand-checkable harmonic sums on a path + disconnected pair;
    landmarks unreachable from a node contribute nothing; a landmark's
    own self-distance term is excluded; separator collision raises."""
    import pytest as _pytest

    from eth2dgraph_spark.graph import harmonic_closeness_sampled

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("x", "y", 4.0)],
        "src string, dst string, w double",
    )
    lms = spark.createDataFrame([("a",), ("b",), ("x",)], "node string")
    got = {r["node"]: (r["harmonic"], r["n_landmarks"])
           for r in harmonic_closeness_sampled(e, lms, weight="w").collect()}
    # b: 1/d(a,b)=1; c: 1/d(a,c)+1/d(b,c)=0.5+1; y: 1/d(x,y)=0.25;
    # a and x have no INCOMING landmark paths -> absent
    assert got == {"b": (1.0, 1), "c": (1.5, 2), "y": (0.25, 1)}
    bad = spark.createDataFrame([("a|b",)], "node string")
    with _pytest.raises(ValueError, match="separator"):
        harmonic_closeness_sampled(e, bad, weight="w")


def _brandes_py(edges, sources):
    """Textbook Brandes (2001) on unweighted directed edges — the
    independent pin for betweenness_landmarks. B(v) = sum over the given
    source set of the dependency delta_s(v)."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for s, d in edges:
        if s != d:
            adj[s].append(d)
            nodes.update((s, d))
    # dedupe parallel edges like the kernel does
    adj = {u: sorted(set(vs)) for u, vs in adj.items()}
    bet = defaultdict(float)
    for s in sources:
        stack, preds = [], defaultdict(list)
        sigma = defaultdict(float)
        sigma[s] = 1.0
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            stack.append(u)
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
                    preds[v].append(u)
        delta = defaultdict(float)
        while stack:
            w = stack.pop()
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1 + delta[w])
            if w != s and delta[w] > 0:
                bet[w] += delta[w]
    return dict(bet)


def test_betweenness_known_diamond(spark):
    """Diamond s->{a,b}->t plus a tail t->u: sigma_st = 2, so a and b each
    carry half of the s->t flow plus half of s->u; t carries 1 (s->u)
    while sitting on two equal paths (its own sigma doubles out)."""
    from eth2dgraph_spark.graph import betweenness_landmarks

    e = _edges(spark, [("s", "a"), ("s", "b"), ("a", "t"), ("b", "t"), ("t", "u")])
    lm = spark.createDataFrame([("s",)], "node string")
    got = {
        r["node"]: (r["betweenness"], r["n_sources"])
        for r in betweenness_landmarks(e, lm).collect()
    }
    # delta(t) = 1 (the s->u path); delta(a) = delta(b) = 1/2*(1+0) for
    # s->t plus 1/2*(1+... ) — via the accumulation: delta(a) =
    # (sigma_a/sigma_t)*(1+delta_t) = (1/2)*(1+1) = 1.0
    assert got == {"a": (1.0, 1), "b": (1.0, 1), "t": (1.0, 1)}


def test_betweenness_excludes_non_shortest_dag_edges(spark):
    """An extra edge s->t of hop length 1 makes the 2-hop routes via a/b
    non-shortest: their dependency must vanish."""
    from eth2dgraph_spark.graph import betweenness_landmarks

    e = _edges(
        spark,
        [("s", "a"), ("s", "b"), ("a", "t"), ("b", "t"), ("t", "u"), ("s", "t")],
    )
    lm = spark.createDataFrame([("s",)], "node string")
    got = {r["node"]: r["betweenness"] for r in betweenness_landmarks(e, lm).collect()}
    assert got == {"t": 1.0}  # only t (on the s->u path) carries flow


def test_betweenness_randomized_brandes_pin(spark):
    """Randomized pin against textbook Brandes with ALL nodes as the
    landmark set (= exact betweenness). Dependencies are sums of rational
    sigma ratios — compare at 1e-9."""
    import random

    from eth2dgraph_spark.graph import betweenness_landmarks

    rng = random.Random(90211)
    n = 28
    edges = list(
        {(f"v{rng.randrange(n)}", f"v{rng.randrange(n)}") for _ in range(90)}
    )
    nodes = sorted({x for e in edges for x in e})
    want = _brandes_py(edges, nodes)

    e = spark.createDataFrame(edges, "src string, dst string")
    lm = spark.createDataFrame([(x,) for x in nodes], "node string")
    got = {
        r["node"]: r["betweenness"] for r in betweenness_landmarks(e, lm).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


def test_betweenness_multi_landmark_subset_and_stats(spark):
    """A 2-landmark sample must equal the sum of the two per-source
    dependencies (and n_sources counts the contributing landmarks)."""
    from eth2dgraph_spark.graph import betweenness_landmarks

    edges = [("s", "a"), ("a", "b"), ("b", "c"), ("r", "a"), ("a", "c"), ("c", "d")]
    want = _brandes_py(edges, ["s", "r"])
    e = _edges(spark, edges)
    lm = spark.createDataFrame([("s",), ("r",)], "node string")
    stats = {}
    rows = betweenness_landmarks(e, lm, stats=stats).collect()
    got = {r["node"]: r["betweenness"] for r in rows}
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9
    assert stats["converged"] is True and stats["levels"] >= 2
    srcs = {r["node"]: r["n_sources"] for r in rows}
    assert srcs["a"] == 2  # a carries flow from BOTH landmarks


def test_betweenness_sep_validation_and_empty(spark):
    from eth2dgraph_spark.graph import betweenness_landmarks

    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="separator"):
        betweenness_landmarks(
            e, spark.createDataFrame([("x|y",)], "node string")
        ).collect()
    # a landmark with no outgoing edges: no dependencies anywhere
    lm = spark.createDataFrame([("b",)], "node string")
    assert betweenness_landmarks(e, lm).collect() == []


def test_shortest_paths_targeted_early_stop_and_parity(spark):
    """On a 60-node chain with targets near the source, the targeted
    variant must (a) return exactly the full-fixpoint dists for the
    targets and (b) stop well before the 59 rounds the chain needs."""
    from eth2dgraph_spark.graph import shortest_paths, shortest_paths_targeted

    e = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}", float((i % 3) + 1)) for i in range(59)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("n00",)], "node string")
    tgts = spark.createDataFrame([("n04",), ("n07",)], "node string")
    full = {
        r["node"]: r["dist"]
        for r in shortest_paths(e, srcs, weight="w", max_iter=60).collect()
    }
    stats = {}
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths_targeted(
            e, srcs, tgts, weight="w", max_iter=60, stats=stats
        ).collect()
    }
    assert got == {"n04": full["n04"], "n07": full["n07"]}
    assert stats["early_stopped"] is True
    assert stats["iterations"] <= 9  # vs 59 for the fixpoint


def test_shortest_paths_targeted_unreachable_and_fixpoint(spark):
    """Unreachable targets: no early stop fires; the loop runs to the
    exact fixpoint and the unreachable target is absent from the output."""
    from eth2dgraph_spark.graph import shortest_paths_targeted

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("x", "y", 1.0)],
        "src string, dst string, w double",
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    tgts = spark.createDataFrame([("c",), ("y",)], "node string")
    stats = {}
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths_targeted(e, srcs, tgts, stats=stats).collect()
    }
    assert got == {"c": 2.0}
    assert stats["early_stopped"] is False and stats["converged"] is True


def test_sample_landmarks_degree_and_random(spark):
    from eth2dgraph_spark.graph import sample_landmarks

    # degrees: b=4 (3 out + 1 in), a=3, c=3, d=2 -> top-2 = b, then the
    # a/c tie breaks by node id (a)
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("b", "d"), ("a", "b"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    top = [r["node"] for r in sample_landmarks(edges, 2, by="degree").collect()]
    assert top == ["b", "a"]
    # random: deterministic across calls and partitionings, k distinct
    r1 = sorted(r["node"] for r in sample_landmarks(edges, 3, by="random").collect())
    r2 = sorted(
        r["node"]
        for r in sample_landmarks(edges.repartition(5), 3, by="random").collect()
    )
    assert r1 == r2 and len(set(r1)) == 3
    assert set(r1) <= {"a", "b", "c", "d"}
    # a different seed may pick a different set but stays deterministic
    r3 = sorted(
        r["node"] for r in sample_landmarks(edges, 3, by="random", seed=99).collect()
    )
    assert len(set(r3)) == 3
    with pytest.raises(ValueError, match="k must be"):
        sample_landmarks(edges, 0)
    with pytest.raises(ValueError, match="unknown policy"):
        sample_landmarks(edges, 2, by="pagerank")


def test_sample_landmarks_feed_betweenness(spark):
    """The helper's output plugs straight into betweenness_landmarks
    (schema contract) and picks the hub of a star graph."""
    from eth2dgraph_spark.graph import betweenness_landmarks, sample_landmarks

    rows = [("h", f"x{i}") for i in range(5)] + [(f"x{i}", "h") for i in range(5)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    lm = sample_landmarks(edges, 1, by="degree")
    assert [r["node"] for r in lm.collect()] == ["h"]
    out = betweenness_landmarks(edges, lm, max_iter=5)
    # from the hub every x_i is reached directly: no intermediate node
    # carries dependency, so the result is empty — the contract holds
    assert out.count() == 0


def _python_weighted_brandes(edges, sources):
    """Textbook weighted Brandes (Dijkstra + σ, then dependency sweep in
    settled order) — the independent pin for betweenness_weighted."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(list)
    best = {}
    for u, v, w in edges:
        if u != v:
            key = (u, v)
            if key not in best or w < best[key]:
                best[key] = w
    for (u, v), w in best.items():
        adj[u].append((v, w))
    total = defaultdict(float)
    for s in sources:
        dist, sigma, preds = {s: 0.0}, defaultdict(float), defaultdict(list)
        sigma[s] = 1.0
        settled_order = []
        done = set()
        pq = [(0.0, s)]
        while pq:
            d, u = heapq.heappop(pq)
            if u in done:
                continue
            done.add(u)
            settled_order.append(u)
            for v, w in adj[u]:
                nd = d + w
                if v not in dist or nd < dist[v]:
                    dist[v] = nd
                    sigma[v] = sigma[u]
                    preds[v] = [u]
                    heapq.heappush(pq, (nd, v))
                elif nd == dist[v]:
                    sigma[v] += sigma[u]
                    preds[v].append(u)
        delta = defaultdict(float)
        for v in reversed(settled_order):
            for u in preds[v]:
                delta[u] += sigma[u] / sigma[v] * (1.0 + delta[v])
            if v != s and delta[v] > 0:
                total[v] += delta[v]
    return dict(total)


def test_betweenness_weighted_randomized_textbook_pin(spark):
    """Random weighted digraphs (integer weights 1..3 force equal-weight
    ties across DIFFERENT hop counts — the exact-hop σ accumulation under
    test) against the pure-Python Dijkstra-Brandes."""
    import random

    from eth2dgraph_spark.graph import betweenness_weighted

    rng = random.Random(20260816)
    for trial in range(3):
        n = 14
        nodes = [f"n{i}" for i in range(n)]
        edges = []
        seen = set()
        for _ in range(40):
            u, v = rng.sample(nodes, 2)
            if (u, v) not in seen:
                seen.add((u, v))
                edges.append((u, v, float(rng.randint(1, 3))))
        sources = rng.sample(nodes, 2)
        want = _python_weighted_brandes(edges, sources)
        edf = spark.createDataFrame(edges, "src string, dst string, w double")
        lm = spark.createDataFrame([(s,) for s in sources], "node string")
        st: dict = {}
        got = {
            r["node"]: r["betweenness"]
            for r in betweenness_weighted(edf, lm, weight="w", max_iter=40, stats=st).collect()
        }
        assert st["converged"], (trial, st)
        assert set(got) == set(want), (trial, sorted(got), sorted(want))
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-9), (trial, k)


def test_betweenness_weighted_prefers_light_path_over_fewer_hops(spark):
    """The semantics the unweighted kernel cannot express: s->m direct
    (1 hop, weight 7) loses to s->h->m (2 hops, weight 5), so ALL
    dependency lands on h; hop-count Brandes would put none there."""
    from eth2dgraph_spark.graph import betweenness_landmarks, betweenness_weighted

    edges = spark.createDataFrame(
        [("s", "m", 7.0), ("s", "h", 2.0), ("h", "m", 3.0), ("m", "t", 1.0)],
        "src string, dst string, w double",
    )
    lm = spark.createDataFrame([("s",)], "node string")
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_weighted(edges, lm, weight="w").collect()
    }
    assert got == {"h": 2.0, "m": 1.0}  # h carries m AND t; m carries t
    un = {
        r["node"]: r["betweenness"]
        for r in betweenness_landmarks(edges, lm).collect()
    }
    assert un == {"m": 1.0}  # hop-count Brandes: direct 1-hop edge wins


def test_betweenness_weighted_equal_weight_different_hops_sigma(spark):
    """σ across hop levels: s->m (weight 5) ties s->h->m (2+3) — σ(m)=2,
    so δ(h) = 1/2 · (1 + δ(m)); m carries a leaf so δ(m) = 1."""
    from eth2dgraph_spark.graph import betweenness_weighted

    edges = spark.createDataFrame(
        [("s", "m", 5.0), ("s", "h", 2.0), ("h", "m", 3.0), ("m", "t", 1.0)],
        "src string, dst string, w double",
    )
    lm = spark.createDataFrame([("s",)], "node string")
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_weighted(edges, lm, weight="w").collect()
    }
    # σ(m)=2, σ(t)=2 -> δ(m) = (2/2)·(1+0) = 1; δ(h) = (1/2)·(1+δ(m)) = 1
    assert got == {"h": 1.0, "m": 1.0}


def test_betweenness_weighted_rejections(spark):
    from eth2dgraph_spark.graph import betweenness_weighted

    edges = spark.createDataFrame(
        [("a", "b", 0.0)], "src string, dst string, w double"
    )
    lm = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="strictly positive"):
        betweenness_weighted(edges, lm, weight="w")
    lm_bad = spark.createDataFrame([("a|b",)], "node string")
    edges_ok = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, w double"
    )
    with pytest.raises(ValueError, match="separator"):
        betweenness_weighted(edges_ok, lm_bad, weight="w")
