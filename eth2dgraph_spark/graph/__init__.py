"""Graph analytics layer (SURVEY.md §7 step 8; BASELINE.json north star
"DataFrame transformations + GraphX analytics").

The reference stores a property graph in Dgraph and traverses it with DQL
(dgraph/contracts.schema:96-212); its analyse jobs are single-node scans.
Here the graph is a plain (src, dst) edge DataFrame (plans/views.graph_edges)
and the traversal/analytics kernels are iterative DataFrame programs:

  - connected_components: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — O(log^2 n)
    rounds, each round two shuffles, no driver-side state beyond a counter.
    This is the 100 TB-safe choice: plain min-label propagation needs
    O(graph diameter) rounds, which on a web/chain-shaped graph is unbounded.
  - pagerank: standard power iteration with dangling-mass redistribution,
    lineage truncated per iteration with localCheckpoint.
  - degrees / k_hop: one-shuffle primitives.

Small-graph switch: at or below `_DRIVER_MAX_EDGES` edges,
connected_components, pagerank, k_core and coreness collect their edge
list once and run the same algorithm on the driver (union-find or numpy),
returning the result through an Arrow createDataFrame. That path is
EAGER — the edges are collected when the function is called, not when
the returned frame is consumed — and it makes no lineage cuts, so
`checkpoint_dir` only applies above the switch. Why: every round of a
distributed iterative kernel pays at least one Spark job, whose planning
and scheduling floor dwarfs the per-round compute on a small graph, while
1M string pairs are tens of MB on the driver (the bounded-collect
budget). Above the switch the distributed loops run unchanged; tests pin
both paths equal by setting the constant to 0, which forces the
distributed path.

All kernels take string vertex ids; ordering uses lexicographic min, which
only needs to be total for correctness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# At or below this many edges the kernels that read it run on the driver
# (module docstring). Measured for connected_components in r14; 0 forces
# every graph onto the distributed path.
_DRIVER_MAX_EDGES = 1_000_000


def _collect_small(e: DataFrame) -> "pd.DataFrame | None":
    """Persist `e`; when it has at most `_DRIVER_MAX_EDGES` rows, collect
    it through Arrow and release it, else return None and leave it
    persisted for the caller's distributed path to read and unpersist.

    One bounded collect both decides and fetches: a count first would cost
    its own jobs (several under AQE) on every small graph. Persisting
    first means the probe fills the cache the distributed loop then
    reads, so above the switch `e`'s upstream (a join, a distinct
    shuffle) still runs once; what the big-graph path pays extra is
    shipping the switch's worth of rows to the driver and dropping them
    (measured in OPTIMIZATION_r15.md)."""
    e.persist(StorageLevel.MEMORY_AND_DISK)
    if _DRIVER_MAX_EDGES <= 0:
        return None
    pdf = e.limit(_DRIVER_MAX_EDGES + 1).toPandas()
    if len(pdf) > _DRIVER_MAX_EDGES:
        return None
    e.unpersist()
    return pdf


def _factorize(*cols: np.ndarray) -> "tuple[list[np.ndarray], np.ndarray]":
    """Integer codes 0..n-1 for the node ids in `cols` (one shared
    dictionary, first-appearance order) and the id behind each code."""
    codes, names = pd.factorize(np.concatenate(cols))
    return np.split(codes, np.cumsum([len(c) for c in cols])[:-1]), names


def _driver_frame(spark: SparkSession, schema: str, **cols) -> DataFrame:
    """Driver-side result columns -> DataFrame through the Arrow path of
    createDataFrame: pickled rows cost seconds near the switch's ceiling."""
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _truncator(df: DataFrame, checkpoint_dir: "str | None"):
    """Per-iteration lineage cut for the iterative kernels. Default:
    localCheckpoint(eager) — executor-local blocks, the measured-fast
    choice on a single machine, but NOT fault-tolerant: on a real
    multi-executor cluster a lost executor kills the lineage-truncated
    job. Pass `checkpoint_dir` (HDFS/S3/shared path) to switch every cut
    to a RELIABLE checkpoint: same semantics, survives executor loss, at
    the cost of writing each round's frame to the shared store. Results
    are identical either way (pinned by test).

    MEASURED AND REJECTED (r14): localCheckpoint(eager=False) with the
    caller's convergence probe as the materializing action ("fuse the
    two per-round driver jobs into one"). Under AQE the checkpoint's
    execute() runs every intermediate stage at call time regardless, so
    lazy only trades the final cheap RDD-level count for running the
    probe as a multi-stage AQE query over unmaterialized data —
    interleaved A/B: sssp_targeted 1.24x SLOWER, msf_edges 1.06x,
    dedup_clusters/asset_cluster_reps a 0.95/1.08 wash
    (tools/measure_r14_ab2.py `_EagerTruncate`). Eager stays."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    cur = sc.getCheckpointDir()
    # the resolved dir comes back scheme-qualified (file:/... or hdfs://...)
    # with a Spark-nested UUID subdir appended, so compare path COMPONENTS:
    # cur's parent path must equal the requested dir's path. (Substring
    # containment is wrong — 'file:/data/ck-old/uuid' contains a requested
    # '/data/ck', which would silently skip the re-set and land checkpoints
    # in the wrong store.) A spurious re-set is harmless (fresh UUID
    # subdir); skipping it just avoids per-round dir churn.
    if not cur or not _same_checkpoint_dir(cur, checkpoint_dir):
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def _same_checkpoint_dir(cur: str, requested: str) -> bool:
    """True iff the context's current checkpoint dir `cur` (scheme-qualified,
    with Spark's UUID subdir) resolves to the same directory as `requested`
    (which may or may not carry a scheme)."""
    import posixpath
    from urllib.parse import urlparse

    c, r = urlparse(cur), urlparse(requested)
    if r.netloc and c.netloc != r.netloc:  # different hdfs://host etc.
        return False
    cur_parent = posixpath.dirname(c.path.rstrip("/"))
    req_path = posixpath.normpath(r.path.rstrip("/") or "/")
    return cur_parent == req_path


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edge list as (u, v) with u != v."""
    e = edges.select(F.col(src).cast("string").alias("u"), F.col(dst).cast("string").alias("v"))
    return e.filter(F.col("u") != F.col("v")).distinct()


def _simple_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The simple undirected graph as distinct (u, v) pairs with u < v: an
    input holding both (u, v) and (v, u) must count v as ONE neighbor of u.
    One distinct, after orienting, is the only shuffle."""
    e = edges.select(F.col(src).cast("string").alias("u"), F.col(dst).cast("string").alias("v"))
    return (
        e.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor strictly larger than u to min(N(u) ∪ {u}).

    One window over hash(u) instead of groupBy+join (r14, guide §2.4):
    the per-u min table and its join back onto the neighbor list were
    keyed identically, so the join re-shuffled the full neighbor list a
    second time (plus sort-merge sorts) for a value the window computes
    in place — and the neighbor-list union itself evaluated once per
    consumer. Skew note: a hub u lands its neighbor rows in one window
    partition, exactly as the old join on u did; min is duplicate- and
    order-insensitive, WindowExec spills rather than OOMs.

    Output rows are (v, m) with v > u >= m, i.e. already oriented
    max-to-min. The trailing distinct was dropped with the join (r14):
    duplicates — several u proposing the same (v, m) — are bounded by
    the input row count and collapse in _small_star's trailing distinct,
    so deduping here bought an extra exchange and nothing else.
    Downstream must treat the output as an oriented MULTISET."""
    nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        nbrs.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame, oriented: bool = False) -> DataFrame:
    """Orient edges to (max, min); connect u and all smaller neighbors to the min.

    `oriented=True` skips the orientation pass WITH ITS SHUFFLE (the
    distinct): safe exactly when every input row already has u > v —
    true for _large_star output, whose rows are (v, m) with
    m = min(N(u) ∪ u) <= u < v. Duplicate input rows are harmless in
    this mode (min is duplicate-insensitive; the trailing distinct
    collapses repeats), so large_star's multiset output feeds straight
    in. The CC round loop passes it (r14, guide §2.4); identical results
    pinned by test against oriented=False.

    Same window-for-groupBy+join rewrite as _large_star (r14): one
    exchange of the edge list instead of two plus a join. The (u, m)
    self-edge is emitted once per input ROW instead of once per distinct
    u — the same set after the trailing distinct, which stays because
    this output is the round's convergence-fingerprint frame."""
    o = e if oriented else e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mv = F.min("v").over(Window.partitionBy("u"))
    moved = (
        o.withColumn("m", mv)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                )
            ).alias("x")
        )
        .select("x.u", "x.v")
    )
    return moved.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """(node, component) where component = lexicographic min node id of the
    component. Isolated vertices don't appear (no edges → no rows); union a
    vertices frame downstream if needed.

    When the canonical edge count is at or below the small-graph switch
    (`_DRIVER_MAX_EDGES`, module docstring), the pairs are collected
    eagerly and union-find runs on the driver — the
    minimum_spanning_forest contraction pattern (the bounded-collect
    class: 1M string pairs ~ tens of MB, the k-means / vocab collect
    budget), and for the same measured reason: every distributed star
    round pays a localCheckpoint action floor on a tiny frame, so a
    near-dup pair graph (thousands of edges behind a banded pair kernel)
    spends its whole wall-clock on round scheduling. MEASURED r14
    (interleaved A/B vs force-distributed): cluster_reps 0.74x,
    sl_clusters 0.76x, asset_cluster_reps 0.93x (497k edges — near the
    threshold boundary), dedup_clusters 0.81-0.95x, identical outputs;
    the Arrow-path createDataFrame below is load-bearing at the ~1M-row
    ceiling (pickled rows cost seconds). Lexicographic min on Python
    str equals Spark's
    UTF8String binary ordering (UTF-8 byte order = code-point order), so
    the representative is byte-identical. The size probe is
    `_collect_small`'s bounded collect of the persisted canonical frame;
    above the switch the distributed rounds below start from that cache.

    Alternating star rounds; convergence detected with a cheap order-free
    fingerprint (count + xor of per-edge hashes) instead of a subtract().
    One localCheckpoint + one fingerprint job per round: MEASURED against a
    two-rounds-per-checkpoint variant (halved driver actions) at sf0.1 —
    the paired variant ran up to 2 extra star rounds before detecting the
    fixpoint and doubled per-job plan depth, 2.5x SLOWER end to end (29 s vs
    11.6 s on dedup_clusters); per-round checkpointing wins."""
    e = _canonical_undirected(edges, src, dst)
    pdf = _collect_small(e)
    if pdf is not None:
        rows = list(zip(pdf["u"].tolist(), pdf["v"].tolist()))
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        seen: set[str] = set()
        nodes: list[str] = []
        comps: list[str] = []
        for r in rows:
            for n in (r[0], r[1]):
                if n not in seen:
                    seen.add(n)
                    nodes.append(n)
                    comps.append(find(n))
        return _driver_frame(
            edges.sparkSession, "node string, component string", node=nodes, component=comps
        )
    prev_fp = None
    for _ in range(max_iter):
        e2 = _truncator(_small_star(_large_star(e), oriented=True), checkpoint_dir)
        fp_row = e2.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("s"),
        ).first()
        e.unpersist()
        e = e2
        fp = (fp_row["c"], fp_row["s"])
        if fp == prev_fp:
            break
        prev_fp = fp
    # fixpoint: every edge points a node at its component min
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = comp.unionByName(roots).groupBy("node").agg(F.min("component").alias("component"))
    e.unpersist()
    return out


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-dup pair list (from MinHash/SimHash/Jaccard) → transitive
    duplicate clusters: (node, component). The standard last step of a
    corpus-dedup pipeline: keep min(node) per component, drop the rest."""
    return connected_components(pairs, id_a, id_b)


def dedup_by_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every non-representative member of each duplicate cluster.
    Representative = lexicographic min id (deterministic). Anti-join keeps
    documents with no near-dup pair untouched — no full-corpus shuffle."""
    losers = (
        duplicate_clusters(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    # left-anti, not broadcast: at corpus scale the duplicate set is itself
    # huge (that's the point of deduping); AQE picks broadcast when small
    return df.join(losers, id_col, "left_anti")


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Quality-ranked cluster dedup: within each near-dup cluster keep the
    single row that maximizes (descending=True) or minimizes `order_col` —
    the keep-longest / keep-best-scored policy production curation
    pipelines apply instead of dedup_by_clusters' min-id rule (e.g. keep
    the longest member of each fuzzy-dup cluster, or the one with the
    highest quality score). Ties break on min id, so the kept set is
    deterministic across reruns and partitionings.

    Returns the kept rows plus `component` (the cluster label — rows in no
    pair are their own singleton cluster) and `cluster_size`. Cost beyond
    the CC itself: one left join of the corpus onto the component map
    (components only exist for paired docs, so the map is dup-sized, not
    corpus-sized) and ONE window shuffle on `component` for the
    count + rank; hot mega-clusters spill in WindowExec rather than OOM.

    Column contract: `df` must not already carry `node`, `component` or
    `cluster_size` (the CC map's and the output's names) — rename upstream
    if it does."""
    for reserved in ("node", "component", "cluster_size"):
        if reserved in df.columns:
            raise ValueError(
                f"cluster_representatives: input already has a {reserved!r} "
                "column — rename it upstream (it collides with the output)"
            )
    comps = duplicate_clusters(pairs)
    ids = F.col(id_col).cast("string")
    joined = (
        df.join(comps, ids == F.col("node"), "left")
        .withColumn("component", F.coalesce(F.col("component"), ids))
        .drop("node")
    )
    w_all = Window.partitionBy("component")
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w_ord = w_all.orderBy(order, F.col(id_col).asc())
    return (
        joined.withColumn("cluster_size", F.count(F.lit(1)).over(w_all))
        .withColumn("_rn", F.row_number().over(w_ord))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, in_degree, out_degree, degree) in one pass: explode each edge
    into two (node, is_out) votes, then a single groupBy."""
    votes = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).cast("string").alias("node"), F.lit(1).alias("o")),
                F.struct(F.col(dst).cast("string").alias("node"), F.lit(0).alias("o")),
            )
        ).alias("x")
    ).select("x.node", "x.o")
    return votes.groupBy("node").agg(
        F.sum(F.when(F.col("o") == 0, 1).otherwise(0)).alias("in_degree"),
        F.sum("o").alias("out_degree"),
        F.count(F.lit(1)).alias("degree"),
    )


def sample_landmarks(
    edges: DataFrame,
    k: int,
    by: str = "degree",
    src: str = "src",
    dst: str = "dst",
    seed: int = 7,
) -> DataFrame:
    """(node): a k-landmark sample for the sampled-centrality kernels
    (harmonic_closeness_sampled, betweenness_landmarks). Two policies:

    - by="degree" (default): the k highest-TOTAL-degree nodes, ties
      broken by node id (deterministic). This is the policy the r12
      zipfian soak MEASURED as the operational one: on the α=1.5 graph
      at n=2M, tail landmarks (out-degree 1) start pseudo-random chains
      hundreds of hops deep — BFS truncated at max_iter=40 after 129 s,
      converged=false — while the two highest-degree landmarks converge
      in 11 levels / 82 s (BASELINE.md round-12 notes). High-degree
      sources also cover the most shortest-path mass per landmark, the
      standard pivot-selection guidance (Brandes-Pich 2007 evaluate
      degree-biased pivots among their strategies).
    - by="random": hash-deterministic uniform sample — order by
      xxhash64(node, seed) and take k. Deterministic across runs and
      partitionings (no RAND(), so gates/oracles can replay it); use
      when landmark bias in the estimate matters more than depth.

    Both run as a TakeOrdered over the distinct node set (k is small by
    construction — this is a SAMPLER), so no full sort materializes at
    100 TB; the degree pass is the one-shuffle degrees() aggregate."""
    if k < 1:
        raise ValueError(f"sample_landmarks: k must be >= 1, got {k}")
    if by == "degree":
        return (
            degrees(edges, src, dst)
            .orderBy(F.col("degree").desc(), F.col("node"))
            .limit(k)
            .select("node")
        )
    if by == "random":
        nodes = (
            edges.select(F.col(src).cast("string").alias("node"))
            .union(edges.select(F.col(dst).cast("string").alias("node")))
            .distinct()
        )
        return (
            nodes.orderBy(F.xxhash64(F.col("node"), F.lit(seed)), F.col("node"))
            .limit(k)
            .select("node")
        )
    raise ValueError(f"sample_landmarks: unknown policy {by!r} (degree|random)")


_ROWS_PER_PARTITION = 2_000_000  # task-size ceiling (~100-200 MB of edge rows)
_MIN_ROWS_PER_TASK = 50_000  # don't split below this — scheduling beats compute


def _size_partitions(n_rows: int, spark) -> int:
    """Shuffle-partition count for an iterative kernel's loop frames,
    derived from the MEASURED row count instead of the session constant
    (guide §2.2/§2.5: scale-adaptive partitioning — a constant tuned for
    either local mode or the cluster is wrong at the other end).

    Two regimes: big inputs get ceil(rows / 2M) tasks (~100-200 MB of
    edge/rank rows each, the guide's 100 MB-1 GB band — a billion-edge
    graph gets hundreds of right-sized tasks); smaller inputs get up to
    defaultParallelism tasks but never tasks under ~50k rows (measured
    on the sf0.1 pagerank gate: the 32-task session constant pays a
    per-round scheduling floor — 8 tasks ran 8.7 → 5.5 s best-of-3 —
    while collapsing ~600k-row rounds to ONE task serialized the real
    join compute and lost it back, 1.21x. The floor keeps every core
    busy exactly while there is enough work to go around). The caller
    pins this count on its PERSISTED loop frames, which makes every
    per-round join co-partitioned and exchange-free."""
    par = spark.sparkContext.defaultParallelism
    busy = min(par, max(1, -(-int(n_rows) // _MIN_ROWS_PER_TASK)))
    return max(busy, -(-int(n_rows) // _ROWS_PER_PARTITION))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_iter: int = 10,
    damping: float = 0.85,
    tol: "float | None" = None,
    stats: "dict | None" = None,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """(node, rank) after at most `num_iter` power iterations, Σrank = 1.

    `tol` (optional) adds a convergence stop rule: iteration ends early once
    the L1 delta between successive rank vectors is <= tol. At scale a fixed
    iteration count is the wrong only-knob — a web-sized graph may converge
    in 8 rounds or need 40 — so tol mode reads the L1 delta with one PROBE
    JOB per round: a join of the two ALREADY-MATERIALIZED checkpoint frames
    (new ranks x prev ranks) feeding a 1-row agg — the same
    probe-on-checkpointed-data discipline as connected_components'
    fingerprint. (DataFrame.observe was measured and rejected:
    localCheckpoint materializes via an RDD job that never fires the
    SQL-listener event that delivers observed metrics, so Observation.get
    blocks forever. Carrying `_prev` INSIDE the checkpointed frame — the
    round-9 shape — was measured and rejected in round 10: embedding the
    prev-ranks join in the frame that becomes the next round's input is
    flat for ~17 rounds and then goes geometric, ~3x slower per round
    (0.38s -> 41s by round 24 on a 5-node graph; both earlier soaks sat
    under the onset), while the probe-join shape is flat for 26+ rounds at
    ~0.5s — see BASELINE.md round-10 notes.) With tol on or off the
    checkpointed plan is now byte-identical. `stats`, if given a dict,
    receives {"iterations": k, "last_delta": d} for observability.

    Small-graph path (module docstring): at or below `_DRIVER_MAX_EDGES`
    edges the edge list is collected EAGERLY, at call time, and the same
    power iteration runs in numpy — multi-edges carry weight, self-loops
    count, dangling mass spreads uniformly, ranks start at 1/n, tol reads
    the same L1 delta, and contributions sum in edge order with one
    `np.bincount` per round. `checkpoint_dir` applies only above the
    switch, where the distributed loop below runs.

    Iteration cost discipline (this is the part that matters at scale):
      - ONE action per iteration: the dangling-mass scalar is folded into
        the plan as a broadcast 1-row aggregate, so the eager checkpoint is
        the only materialization.
      - The dangling set is a static column computed once (anti-join against
        out-degree at setup), not re-derived per round.
      - The edge frame is pre-joined with out-degree, hash-partitioned by
        src, and persisted — the big side's shuffle happens once; only the
        small ranks side moves each iteration.
      - localCheckpoint truncates lineage so the plan stays O(1) deep."""
    e = edges.select(
        F.col(src).cast("string").alias("src"), F.col(dst).cast("string").alias("dst")
    )
    # the probe leaves the edges persisted on the distributed path: the
    # upstream build (often a join) would otherwise re-run for every
    # consumer below (ej AND nodes)
    pdf = _collect_small(e)
    if pdf is not None:
        if not pdf.isna().to_numpy().any():
            return _pagerank_driver(e.sparkSession, pdf, num_iter, damping, tol, stats)
        # a null endpoint keeps the distributed path's own null handling;
        # the probe released the frame, so pin it again
        e.persist(StorageLevel.MEMORY_AND_DISK)
    # size every loop frame from the measured edge count (r14, guide
    # §2.2): the persisted frames' partition counts pin the per-round
    # join widths for the whole iteration, so a session-constant count
    # pays a fixed scheduling floor per round on small graphs and
    # under-splits huge ones. One setup count job, amortized over rounds.
    p = _size_partitions(e.count(), e.sparkSession)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ej = e.join(outdeg, "src").repartition(p, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg.select(F.col("src").alias("node")), "node", "left_anti")
        .withColumn("dangling", F.lit(True))
        .unionByName(
            outdeg.select(F.col("src").alias("node")).withColumn("dangling", F.lit(False))
        )
        .repartition(p, "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()
    if n == 0:
        # release the three persisted frames before the early return —
        # leaving them pinned would leak executor storage for the session
        e.unpersist()
        ej.unpersist()
        nodes.unpersist()
        return nodes.select("node").withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    iterations, last_delta = 0, None
    for _ in range(num_iter):
        # one exchange per round: ej is pinned at (src, p), ranks comes
        # back from the checkpoint partitioned (node, p) (LogicalRDD
        # preserves outputPartitioning), so the join is co-partitioned;
        # the explicit repartition IS the aggregation's exchange
        # (repartition(k, p) + groupBy(k) share one shuffle) and lands
        # contribs on (node, p) so the nodes join below is exchange-free
        contribs = (
            ej.join(ranks, ej.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dangling_mass = ranks.filter(F.col("dangling")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        rank_expr = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("_dm") / F.lit(float(n)))
        ).alias("rank")
        base = nodes.join(contribs, "node", "left").join(F.broadcast(dangling_mass))
        nxt = _truncator(base.select("node", "dangling", rank_expr), checkpoint_dir)
        iterations += 1
        if tol is not None:
            last_delta = (
                nxt.join(ranks.select("node", F.col("rank").alias("_prev")), "node")
                .agg(F.coalesce(F.sum(F.abs(F.col("rank") - F.col("_prev"))), F.lit(0.0)))
                .first()[0]
            )
            ranks = nxt
            if last_delta <= tol:
                break
        else:
            ranks = nxt
    if stats is not None:
        stats["iterations"] = iterations
        stats["last_delta"] = last_delta
    e.unpersist()
    ej.unpersist()
    nodes.unpersist()
    return ranks.select("node", "rank")


def _pagerank_driver(
    spark: SparkSession,
    pdf: pd.DataFrame,
    num_iter: int,
    damping: float,
    tol: "float | None",
    stats: "dict | None",
) -> DataFrame:
    """pagerank's small-graph path on the collected (src, dst) edges: the
    distributed loop's update, term for term, over integer node codes."""
    (s, d), names = _factorize(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    n = len(names)
    if n == 0:  # like the distributed path: empty result, stats untouched
        return _driver_frame(spark, "node string, rank double", node=[], rank=[])
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    out_s = outdeg[s]
    rank = np.full(n, 1.0 / n)
    iterations, last_delta = 0, None
    for _ in range(num_iter):
        c = np.bincount(d, weights=rank[s] / out_s, minlength=n)
        nxt = (1.0 - damping) / n + damping * (c + rank[dangling].sum() / float(n))
        iterations += 1
        if tol is not None:
            last_delta = float(np.abs(nxt - rank).sum())
        rank = nxt
        if tol is not None and last_delta <= tol:
            break
    if stats is not None:
        stats["iterations"] = iterations
        stats["last_delta"] = last_delta
    return _driver_frame(spark, "node string, rank double", node=names, rank=rank)


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_iter: int = 10,
    damping: float = 0.85,
    tol: "float | None" = None,
    stats: "dict | None" = None,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Personalized PageRank: (node, rank) with the teleport (reset) vector
    concentrated UNIFORMLY on `sources` (a frame with column `node`)
    instead of spread over all nodes — the "importance relative to THESE
    seeds" variant (random walk with restart; Jeh & Widom WWW'03; the
    similar-contracts-to-this-one / related-documents query the uniform
    kernel cannot express). Dangling mass also restarts at the sources
    (the standard convention that keeps Σrank = 1 exactly:
    (1-d)·Σreset + d·(Σcontribs + dm) = (1-d) + d = 1).

    Update rule per iteration (vs pagerank's uniform 1/n terms):
        rank(v) = (1-d)·reset(v) + d·(Σ_{u→v} rank(u)/outdeg(u) + dm·reset(v))
    with reset(v) = 1/|S∩V| for source nodes, 0 elsewhere; ranks start AT
    the reset vector (walk of length 0). Sources not present in the graph
    are ignored; an empty intersection raises ValueError (rank would be
    all-zero noise).

    Same iteration cost discipline as pagerank (one action per round via
    the broadcast dangling-mass aggregate, edges pre-joined with out-degree
    and hash-partitioned once, localCheckpoint lineage cuts); the reset
    vector rides the persisted `nodes` frame as a static column, so
    personalization adds ZERO per-iteration shuffles. `tol` adds the same
    optional L1 early-stop as pagerank."""
    e = edges.select(
        F.col(src).cast("string").alias("src"), F.col(dst).cast("string").alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # loop-frame partition count from the measured edge count (r14) —
    # see pagerank / _size_partitions
    p = _size_partitions(e.count(), e.sparkSession)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ej = e.join(outdeg, "src").repartition(p, "src").persist(StorageLevel.MEMORY_AND_DISK)
    srcs = sources.select(F.col("node").cast("string")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg.select(F.col("src").alias("node")), "node", "left_anti")
        .withColumn("dangling", F.lit(True))
        .unionByName(
            outdeg.select(F.col("src").alias("node")).withColumn("dangling", F.lit(False))
        )
        # seed membership as a static column; the seed set is small by the
        # query's nature (a handful of "like these" anchors) -> broadcast
        .join(
            F.broadcast(srcs.withColumn("_is_src", F.lit(True))), "node", "left"
        )
        .withColumn("_is_src", F.coalesce(F.col("_is_src"), F.lit(False)))
        .repartition(p, "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_src = nodes.filter(F.col("_is_src")).count()
    if n_src == 0:
        e.unpersist()
        ej.unpersist()
        nodes.unpersist()
        raise ValueError(
            "personalized_pagerank: no source node is present in the graph"
        )
    reset = F.when(F.col("_is_src"), F.lit(1.0 / n_src)).otherwise(F.lit(0.0))
    ranks = nodes.withColumn("rank", reset)
    iterations, last_delta = 0, None
    for _ in range(num_iter):
        contribs = (
            ej.join(ranks, ej.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dangling_mass = ranks.filter(F.col("dangling")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        rank_expr = (
            F.lit(1.0 - damping) * reset
            + F.lit(damping)
            * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("_dm") * reset)
        ).alias("rank")
        base = nodes.join(contribs, "node", "left").join(F.broadcast(dangling_mass))
        nxt = _truncator(
            base.select("node", "dangling", "_is_src", rank_expr), checkpoint_dir
        )
        iterations += 1
        if tol is not None:
            # probe JOB over the two materialized checkpoint frames — never
            # embed the prev-ranks join in the checkpointed frame itself
            # (measured geometric blowup past ~17 rounds; see pagerank)
            last_delta = (
                nxt.join(ranks.select("node", F.col("rank").alias("_prev")), "node")
                .agg(F.coalesce(F.sum(F.abs(F.col("rank") - F.col("_prev"))), F.lit(0.0)))
                .first()[0]
            )
            ranks = nxt
            if last_delta <= tol:
                break
        else:
            ranks = nxt
    if stats is not None:
        stats["iterations"] = iterations
        stats["last_delta"] = last_delta
    e.unpersist()
    ej.unpersist()
    nodes.unpersist()
    return ranks.select("node", "rank")


def k_hop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Vertices reachable from `sources` (column `node`) in <= k directed
    hops, with min hop distance — BFS as k joins, frontier-only (visited set
    pruned each round with a left-anti join).

    Per-hop cost discipline (same trick as connected_components): the new
    frontier is eagerly checkpointed FIRST, then the emptiness probe reads
    the materialized partitions — the frontier is computed exactly once per
    hop, where probing the lazy plan then unioning it would compute it
    twice. Only the per-hop DELTA is ever checkpointed; `visited` stays a
    union of already-materialized frontiers (shallow lineage, no
    re-materialization of the whole visited set each hop)."""
    e = edges.select(F.col(src).cast("string").alias("src"), F.col(dst).cast("string").alias("dst"))
    visited = _truncator(
        sources.select(F.col("node").cast("string")).distinct().withColumn(
            "hops", F.lit(0)
        ),
        checkpoint_dir,
    )
    frontier = visited
    for i in range(1, k + 1):
        nxt = _truncator(
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(i)),
            checkpoint_dir,
        )
        if nxt.isEmpty():  # reads the checkpointed partitions — no recompute
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight: "str | None" = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: "str | None" = None,
    stats: "dict | None" = None,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths — (node, dist) with dist =
    min total edge weight from any row of `sources` (column `node`). Directed
    edges, NON-NEGATIVE weights (`weight` column name; None = hop count 1.0).
    Sources appear with dist 0.0; unreachable vertices don't appear.

    Dgraph exposes shortest-path as a first-class traversal (the reference's
    query surface, dgraph/contracts.schema — `shortest` blocks in DQL); here
    it is distributed delta-stepping-flavored Bellman-Ford: each round joins
    the EDGE list against only the frontier of vertices whose tentative
    distance improved last round, takes the map-side-combined min per dst
    (one shuffle), and keeps strict improvements (second shuffle against the
    O(V) dist table). Rounds are bounded by the hop count of the weighted
    shortest-path tree, not graph size — the Bellman-Ford invariant: after k
    rounds, dist = exact min over all paths of <= k edges, which is what the
    gate's k-unrolled recursive-CTE oracle checks.

    Per-round cost discipline (same as k_hop/pagerank): the improved DELTA is
    eagerly checkpointed first and the emptiness probe reads the materialized
    partitions; the dist table is checkpointed per round so its lineage stays
    O(1) deep instead of accumulating one union+groupBy layer per round (the
    geometric-blowup class root-caused on pagerank's tol mode in round 10).
    Two cuts per round is the measured-right shape for two-table iterations
    (HITS two-cut 5.06 s vs single-cut 8.38 s, BASELINE.md round 10)."""
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
        wcol.alias("w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dist = _truncator(
        sources.select(F.col("node").cast("string")).distinct().withColumn(
            "dist", F.lit(0.0)
        ),
        checkpoint_dir,
    )
    frontier = dist
    iterations, converged = 0, False
    for _ in range(max_iter):
        cand = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        improved = _truncator(
            cand.join(dist.select("node", F.col("dist").alias("_cur")), "node", "left")
            .filter(F.col("_cur").isNull() | (F.col("d") < F.col("_cur")))
            .select("node", F.col("d").alias("dist")),
            checkpoint_dir,
        )
        if improved.isEmpty():  # reads the checkpointed partitions — no recompute
            converged = True
            break
        iterations += 1
        # merge strict improvements into the running dist table; min() keeps
        # the old value for untouched vertices (improved rows always win by
        # construction, but min() makes the merge order-free)
        dist = _truncator(
            dist.unionByName(improved).groupBy("node").agg(F.min("dist").alias("dist")),
            checkpoint_dir,
        )
        frontier = improved
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
    e.unpersist()
    return dist


def shortest_path_tree(
    edges: DataFrame,
    sources: DataFrame,
    weight: "str | None" = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """shortest_paths plus PATH RECONSTRUCTION — (node, dist, pred) where
    pred is the previous hop on a shortest path (NULL at sources). Dgraph's
    `shortest` DQL block returns the path, not just its length; following
    pred from any node back to a source reconstructs one shortest path
    without storing paths as rows (paths are O(V * diameter) materialized —
    the tree is O(V)).

    Determinism: among equal-cost predecessors, the LEXICOGRAPHICALLY
    SMALLEST node id wins (ids are strings here — zero-pad numeric ids if
    numeric order matters), so the tree is a pure function of the graph.
    The tie rule rides the same frontier loop: a candidate improves on
    (dist, pred) lexicographic order, not dist alone. Tie improvements
    never re-enter the frontier — v's candidate toward a neighbor is
    (dist(v) + w, v), which does not mention v's OWN pred, so a pred-only
    change cannot cascade; only strict dist improvements relax. Every
    minimizing predecessor u relaxes v in the round after u's dist
    finalizes, so pred converges at most ONE round after dist (size
    max_iter accordingly: the sssp_paths gate uses dist-rounds + 2).
    Sources carry pred '' internally ('' sorts before every id, so a
    zero-weight cycle through a source can never displace its NULL) and
    NULL in the output."""
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
        wcol.alias("w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dist = _truncator(
        sources.select(F.col("node").cast("string"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .withColumn("pred", F.lit("")),
        checkpoint_dir,
    )
    frontier = dist
    for _ in range(max_iter):
        cand = (
            e.join(frontier, e.src == frontier.node)
            .select(
                F.col("dst").alias("node"),
                F.struct(
                    (F.col("dist") + F.col("w")).alias("dist"),
                    F.col("src").alias("pred"),
                ).alias("dp"),
            )
            .groupBy("node")
            .agg(F.min("dp").alias("dp"))  # lexicographic (dist, pred) min
        )
        improved = _truncator(
            cand.join(
                dist.select(
                    "node",
                    F.col("dist").alias("_cd"),
                    F.col("pred").alias("_cp"),
                ),
                "node",
                "left",
            )
            .withColumn(
                "_strict", F.col("_cd").isNull() | (F.col("dp.dist") < F.col("_cd"))
            )
            .filter(
                F.col("_strict")
                | (
                    (F.col("dp.dist") == F.col("_cd"))
                    & (F.col("dp.pred") < F.col("_cp"))
                )
            )
            .select(
                "node",
                F.col("dp.dist").alias("dist"),
                F.col("dp.pred").alias("pred"),
                "_strict",
            ),
            checkpoint_dir,
        )
        if improved.isEmpty():
            break
        dist = _truncator(
            dist.withColumn("_strict", F.lit(False))
            .unionByName(improved)
            .groupBy("node")
            .agg(F.min(F.struct("dist", "pred")).alias("m"))
            .select("node", F.col("m.dist").alias("dist"), F.col("m.pred").alias("pred")),
            checkpoint_dir,
        )
        frontier = improved.filter(F.col("_strict"))
    e.unpersist()
    return dist.select("node", "dist", F.nullif(F.col("pred"), F.lit("")).alias("pred"))


def harmonic_closeness_sampled(
    edges: DataFrame,
    landmarks: DataFrame,
    weight: "str | None" = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: "str | None" = None,
    sep: str = "|",
) -> DataFrame:
    """(node, harmonic, n_landmarks): landmark-sampled harmonic
    centrality h(v) = Σ_{s in landmarks, s != v} 1 / d(s, v) — the
    centrality that stays well-defined on directed / disconnected graphs
    (unreachable landmarks simply contribute nothing; exact all-pairs
    closeness is O(V) SSSP runs, landmark sampling is the standard
    scale approximation, e.g. Eppstein-Wang).

    ONE shortest_paths run over the landmark-tagged product graph: each
    edge is replicated per landmark via a BROADCAST of the (bounded,
    caller-sampled) landmark set with composite ids "s<sep>u", seeded at
    "s<sep>s" — so per-landmark distances ride the same frontier loop
    with state O(k·V) instead of k driver-sequenced runs paying k x the
    per-round action floor. `sep` must not occur in node ids (ValueError
    if a landmark contains it). For landmark CHOICE prefer
    sample_landmarks(edges, k, by="degree") — see its docstring for the
    measured depth receipt on skewed graphs."""
    lm = landmarks.select(F.col("node").cast("string").alias("_s")).distinct()
    if lm.filter(F.col("_s").contains(sep)).limit(1).count() > 0:
        raise ValueError(f"landmark ids must not contain separator {sep!r}")
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).cast("string").alias("_u"),
        F.col(dst).cast("string").alias("_v"),
        wcol.alias("_w"),
    )
    tagged = e.join(F.broadcast(lm)).select(
        F.concat(F.col("_s"), F.lit(sep), F.col("_u")).alias("src"),
        F.concat(F.col("_s"), F.lit(sep), F.col("_v")).alias("dst"),
        F.col("_w").alias("w"),
    )
    seeds = lm.select(F.concat(F.col("_s"), F.lit(sep), F.col("_s")).alias("node"))
    d = shortest_paths(
        tagged, seeds, weight="w", max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )
    import re as _re

    parts = F.split(F.col("node"), _re.escape(sep), 2)  # escaped: '|' is regex
    tagged_d = d.select(
        parts.getItem(0).alias("_seed"),
        parts.getItem(1).alias("_node"),
        "dist",
    )
    return (
        tagged_d.filter(F.col("_seed") != F.col("_node"))
        .groupBy(F.col("_node").alias("node"))
        .agg(
            F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
            F.count(F.lit(1)).alias("n_landmarks"),
        )
    )


def reconstruct_paths(
    tree: DataFrame,
    targets: DataFrame,
    max_len: int = 100,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """(node, dist, path) for each row of `targets` (column `node`):
    the actual node sequence source..node of one shortest path, read off
    a shortest_path_tree result by following pred links — the form
    Dgraph's `shortest` block returns (the tree is the O(V) artifact;
    paths materialize only for the nodes a query asks about).

    Iterative prepend: state is ONE row per requested target (head,
    accumulated path array), each round joins the O(targets) state
    against the tree on head == tree.node and prepends the pred — so the
    cost is rounds x a small-probe join, rounds = longest requested path,
    bounded by `max_len` (paths still open at the bound come back with
    path = NULL rather than a silently-truncated prefix). Targets absent
    from the tree (unreachable) also return path = NULL; their dist is
    NULL too."""
    t = tree.select(
        F.col("node").alias("_n"), F.col("dist").alias("_d"), F.col("pred").alias("_p")
    )
    # state invariant: `head` = the next node to prepend (NULL once the
    # source was prepended — a source's pred is NULL — or when the target
    # is not in the tree at all; both mean "stop walking this row")
    state = _truncator(
        targets.select(F.col("node").cast("string"))
        .distinct()
        .join(t, F.col("node") == F.col("_n"), "left")
        .select(
            "node",
            F.col("_d").alias("dist"),
            F.col("_p").alias("head"),
            F.when(F.col("_n").isNotNull(), F.array(F.col("node"))).alias("path"),
        ),
        checkpoint_dir,
    )
    for _ in range(max_len):
        if state.filter(F.col("head").isNotNull()).isEmpty():
            break
        state = _truncator(
            # bracket access: DataFrame.head is the METHOD, not the column
            state.join(t, state["head"] == t["_n"], "left")
            .select(
                "node",
                "dist",
                F.when(F.col("head").isNull(), F.col("head"))
                .otherwise(F.col("_p"))
                .alias("head"),
                # head non-null but the tree join MISSED (_n null): the
                # tree is malformed (pred points at a node with no tree
                # row) — void the path so the row comes back NULL instead
                # of a "completed" path that does not start at a source
                F.when(F.col("head").isNull(), F.col("path"))
                .when(F.col("_n").isNull(), F.lit(None).cast("array<string>"))
                .otherwise(F.concat(F.array(F.col("head")), F.col("path")))
                .alias("path"),
            ),
            checkpoint_dir,
        )
    # completed rows have walked to a source (head NULL, dist known);
    # rows that still carry a head hit max_len -> NULL, not a truncated
    # prefix; unreachable targets have dist NULL -> NULL
    return state.select(
        "node",
        "dist",
        F.when(
            F.col("head").isNull() & F.col("dist").isNotNull(), F.col("path")
        ).alias("path"),
    )


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iter: int = 25,
    checkpoint_dir: "str | None" = None,
    stats: "dict | None" = None,
) -> DataFrame:
    """Minimum spanning forest of the undirected graph — (u, v, w) rows,
    u < v, one tree per connected component. Distributed Borůvka: each
    round every component selects its minimum outgoing edge under the
    TOTAL order (w, u, v) — the tie-break simulates distinct weights, so
    the forest is unique and a pure function of the graph — selected
    edges join the forest, and components merge over the (comp_u, comp_v)
    CONTRACTION graph (at most one edge per component, halving every
    round), never over the full edge list. O(log n) rounds; per round two
    label joins on the full edge list + the contraction merge.

    Contraction merge strategy: Borůvka's min-edge clusters can be LONG
    CHAINS (a's min edge points at b, b's at c, ...), so the merge is a
    real connected-components problem, not one pointer hop. When the
    round's picked-edge count is at or below the small-graph switch
    (`_DRIVER_MAX_EDGES`, module docstring), the contraction
    pairs are collected and union-find runs on the driver (the bounded-
    collect class: 1M pairs ~ tens of MB, same budget as the k-means /
    vocab collects elsewhere) — MEASURED 4.4x faster end-to-end than
    running the distributed star-CC per round (15.7 s -> 3.6 s
    steady-state on the sf0.1 gate graph), because each star-CC run pays
    several localCheckpoint action floors on a tiny frame. Above the
    threshold (early rounds of a trillion-edge graph) the distributed CC
    path runs — picked counts halve per round, so at most the first
    ~log2(C / threshold) rounds pay it.

    Why in a dedup engine: the MSF is the single-linkage dendrogram —
    cutting its edges above a similarity-distance threshold t yields the
    single-linkage clusters at t for EVERY t without recomputing the
    pairwise structure (see single_linkage_clusters), which is how a
    near-dup threshold sweep tunes aggressiveness on one artifact."""
    e0 = edges.select(
        F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("u"),
        F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("v"),
        F.col(weight).cast("double").alias("w"),
    ).filter(F.col("u") != F.col("v"))
    # one row per undirected edge, minimal weight wins under (w, u, v)
    e = _truncator(
        e0.groupBy("u", "v").agg(F.min("w").alias("w")), checkpoint_dir
    )
    comp = _truncator(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("comp", F.col("node")),
        checkpoint_dir,
    )
    forest = None
    rounds, collected_rounds = 0, 0
    for _ in range(max_iter):
        lab = (
            e.join(comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")), "u")
            .join(comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")), "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        # min outgoing edge per component, both directions, as one struct
        # min (map-side combinable); dedup afterwards — two components
        # often select the same edge
        cand = lab.select(
            F.col("cu").alias("c"), F.struct("w", "u", "v").alias("pick")
        ).unionByName(
            lab.select(F.col("cv").alias("c"), F.struct("w", "u", "v").alias("pick"))
        )
        picked = _truncator(
            cand.groupBy("c")
            .agg(F.min("pick").alias("pick"))
            .select("pick.u", "pick.v", "pick.w")
            .distinct(),
            checkpoint_dir,
        )
        # one count() per round serves both the termination check and the
        # collect-threshold branch (reads the checkpointed partitions) —
        # isEmpty() + count() would double the per-round action floor
        n_picked = picked.count()
        if n_picked == 0:  # every component is maximal — done
            break
        rounds += 1
        forest = picked if forest is None else forest.unionByName(picked)
        # contraction graph: one edge per selected (comp_u, comp_v) pair;
        # new labels = connected components of the contraction
        contr = (
            picked.join(
                comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")), "u"
            )
            .join(comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")), "v")
            .select("cu", "cv")
            .distinct()
        )
        # n_picked > 0 here, so a switch of 0 forces the distributed merge
        if n_picked <= _DRIVER_MAX_EDGES:
            # bounded driver-side union-find on the contraction pairs —
            # see the docstring's measured pair for why
            collected_rounds += 1
            parent: dict = {}

            def find(x: str) -> str:
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for cu, cv in contr.collect():
                ru, rv = find(cu), find(cv)
                if ru != rv:
                    # min label wins, matching connected_components
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            mapping = [(x, find(x)) for x in list(parent)]
            merged = F.broadcast(
                comp.sparkSession.createDataFrame(
                    mapping, "node string, component string"
                )
            )
        else:
            # distributed path for the early rounds of a graph whose
            # contraction is itself too big to collect (no broadcast —
            # the mapping can exceed executor memory)
            merged = connected_components(
                contr, src="cu", dst="cv", checkpoint_dir=checkpoint_dir
            )
        comp = _truncator(
            comp.join(
                merged.select(F.col("node").alias("comp"), "component"),
                "comp",
                "left",
            )
            .select("node", F.coalesce("component", "comp").alias("comp")),
            checkpoint_dir,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["collected_rounds"] = collected_rounds
    if forest is None:
        return e.limit(0)
    # forest rows were individually checkpointed per round; the union of
    # materialized scans needs no further cut
    return forest


def single_linkage_clusters(
    msf_edges: DataFrame,
    threshold: float,
    weight: str = "w",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """(node, cluster) single-linkage clusters at distance `threshold`,
    derived from a minimum_spanning_forest result by CUTTING forest edges
    with w > threshold — the dendrogram property: for every t, the
    components of {MSF edges with w <= t} equal the single-linkage
    clusters of the full graph at t. One MSF artifact answers every
    threshold; isolated nodes (all their forest edges cut) don't appear —
    union the vertex set downstream if singletons matter.
    `checkpoint_dir` forwards to connected_components (the same reliable-
    checkpoint discipline as every other iterative kernel)."""
    kept = msf_edges.filter(F.col(weight) <= F.lit(threshold))
    return connected_components(
        kept, src="u", dst="v", checkpoint_dir=checkpoint_dir
    ).withColumnRenamed("component", "cluster")


def shortest_paths_targeted(
    edges: DataFrame,
    sources: DataFrame,
    targets: DataFrame,
    weight: "str | None" = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: "str | None" = None,
    stats: "dict | None" = None,
) -> DataFrame:
    """Point-to-point shortest paths — (node, dist) for exactly the rows
    of `targets` (column `node`; unreachable targets don't appear).
    Dgraph's `shortest` block is from→to, not single-source-to-everywhere;
    `shortest_paths` computes the full fixpoint and filters, paying every
    tail round of a high-diameter graph for distances nobody asked about.

    EARLY STOP: with NON-NEGATIVE weights, every candidate distance
    produced after round k is >= that round's frontier minimum (a future
    improvement extends some frontier path by w >= 0), so once every
    requested target holds dist <= min(frontier dist), no later round can
    improve any target — stop. The check costs two driver actions per
    round on already-checkpointed frames (min over the improved delta,
    max+count over the O(targets) broadcast-joined dist slice), repaid by
    the saved tail rounds; `stats` records iterations/early_stopped/
    converged so the saving is observable (the sssp stats discipline).
    Same per-round shape as shortest_paths otherwise: frontier-only edge
    join, map-side-combined min per dst, strict-improvement merge, two
    lineage cuts per round."""
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
        wcol.alias("w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tgt = targets.select(F.col("node").cast("string")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_targets = tgt.count()
    dist = _truncator(
        sources.select(F.col("node").cast("string")).distinct().withColumn(
            "dist", F.lit(0.0)
        ),
        checkpoint_dir,
    )
    frontier = dist
    iterations, converged, early = 0, False, False
    if n_targets == 0:
        # an empty target set is vacuously settled — stop before round 1
        # (the general check below would compare a NULL max)
        early = True
    for _ in range(max_iter if n_targets else 0):
        cand = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        improved = _truncator(
            cand.join(dist.select("node", F.col("dist").alias("_cur")), "node", "left")
            .filter(F.col("_cur").isNull() | (F.col("d") < F.col("_cur")))
            .select("node", F.col("d").alias("dist")),
            checkpoint_dir,
        )
        fmin_row = improved.agg(F.min("dist").alias("m")).first()
        if fmin_row["m"] is None:  # empty delta — exact fixpoint reached
            converged = True
            break
        iterations += 1
        dist = _truncator(
            dist.unionByName(improved).groupBy("node").agg(F.min("dist").alias("dist")),
            checkpoint_dir,
        )
        frontier = improved
        t = dist.join(F.broadcast(tgt), "node").agg(
            F.count(F.lit(1)).alias("n"), F.max("dist").alias("mx")
        ).first()
        if t["n"] == n_targets and t["mx"] is not None and t["mx"] <= fmin_row["m"]:
            early = True
            break
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
        stats["early_stopped"] = early
    out = dist.join(F.broadcast(tgt), "node")
    e.unpersist()
    tgt.unpersist()
    return out


def betweenness_landmarks(
    edges: DataFrame,
    landmarks: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: "str | None" = None,
    sep: str = "|",
    stats: "dict | None" = None,
) -> DataFrame:
    """(node, betweenness, n_sources): landmark-sampled betweenness
    centrality B(v) = Σ_{s in landmarks} δ_s(v), where δ_s is Brandes'
    source dependency δ_s(v) = Σ_t σ_st(v)/σ_st (Brandes 2001, "A faster
    algorithm for betweenness centrality" — the standard exact algorithm;
    summing over a sampled source set instead of all V is the standard
    scale approximation, same family as harmonic_closeness_sampled).
    UNWEIGHTED shortest paths (hop counts — the Dgraph-traversal notion);
    directed edges. Completes the centrality family (degree / PageRank /
    PPR / HITS / harmonic): betweenness finds BRIDGE nodes that the
    near-dup cluster policies want as cut candidates.

    Spark shape — three phases, all landmark-batched over the composite
    product graph ("s<sep>u" ids, the harmonic trick — k sources ride ONE
    frontier loop with O(k·V) state instead of k driver-sequenced runs):

    1. Forward BFS with path counts: the frontier carries σ; a node first
       reached at level L has ALL its shortest-path predecessors at L-1
       (the unweighted-BFS invariant), so σ(v) = map-side-combined SUM of
       frontier σ — one shuffle per level plus the O(V) anti-join against
       settled state.
    2. The shortest-path DAG materializes ONCE: tagged edges (u, v) kept
       iff dist(v) = dist(u) + 1 (non-tree/non-DAG edges drop here),
       persisted and reused by every backward level.
    3. Backward dependency accumulation, deepest level first:
       δ(u) = Σ_{(u,v) in DAG} σ(u)/σ(v) · (1 + δ(v)) — each level is one
       filter of the persisted DAG joined against the PREVIOUS level's
       (small) δ frame, so the backward sweep re-shuffles per-level slices,
       never the full edge list.

    Rounds = 2·(BFS depth from the landmark set), not O(V). If max_iter
    truncates the BFS, the result is betweenness restricted to shortest
    paths of <= max_iter hops (stats['converged'] = False records it) —
    the same k-bounded invariant the sssp gates certify. Landmark ids
    must not contain `sep` (ValueError). Sources themselves report no
    δ_s(s); a landmark CAN appear with positive betweenness when it lies
    on another landmark's shortest paths, exactly per the formula.
    Only nodes with positive dependency appear (leaves of every DAG
    don't); outer-join a vertex table downstream if zeros matter.
    Landmark choice drives the round count: prefer
    sample_landmarks(edges, k, by="degree") — tail landmarks start
    chains hundreds of BFS levels deep on skewed graphs (the measured
    r12 truncation receipt in sample_landmarks' docstring)."""
    lm = landmarks.select(F.col("node").cast("string").alias("_s")).distinct()
    if lm.filter(F.col("_s").contains(sep)).limit(1).count() > 0:
        raise ValueError(f"landmark ids must not contain separator {sep!r}")
    e0 = (
        edges.select(
            F.col(src).cast("string").alias("_u"),
            F.col(dst).cast("string").alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    tagged = (
        e0.join(F.broadcast(lm))
        .select(
            F.concat(F.col("_s"), F.lit(sep), F.col("_u")).alias("src"),
            F.concat(F.col("_s"), F.lit(sep), F.col("_v")).alias("dst"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = _truncator(
        lm.select(
            F.concat(F.col("_s"), F.lit(sep), F.col("_s")).alias("node"),
            F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        ),
        checkpoint_dir,
    )
    frontier = state
    levels, converged = 0, False
    for level in range(1, max_iter + 1):
        cand = (
            tagged.join(frontier, tagged.src == frontier.node)
            .select(F.col("dst").alias("node"), "sigma")
            .groupBy("node")
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = _truncator(
            cand.join(state.select("node"), "node", "left_anti").select(
                "node", F.lit(level).alias("dist"), "sigma"
            ),
            checkpoint_dir,
        )
        if new.isEmpty():
            converged = True
            break
        levels = level
        state = _truncator(state.unionByName(new), checkpoint_dir)
        frontier = new
    # phase 2: the shortest-path DAG, built once and reused per backward level
    su = state.select(
        F.col("node").alias("_su"), F.col("dist").alias("_du"), F.col("sigma").alias("_gu")
    )
    sv = state.select(
        F.col("node").alias("_sv"), F.col("dist").alias("_dv"), F.col("sigma").alias("_gv")
    )
    dag = (
        tagged.join(su, tagged.src == su["_su"])
        .join(sv, tagged.dst == sv["_sv"])
        .filter(F.col("_dv") == F.col("_du") + 1)
        .select(
            F.col("_su").alias("u"),
            F.col("_sv").alias("v"),
            F.col("_du").alias("lu"),
            (F.col("_gu") / F.col("_gv")).alias("ratio"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dag.count()  # materialize before the per-level reuse
    tagged.unpersist()
    # phase 3: backward accumulation, one small join per level
    delta_next = None  # δ of level+1 nodes; None ⇒ all zero (deepest level)
    per_level = []
    for level in range(levels - 1, 0, -1):
        lvl = dag.filter(F.col("lu") == level)
        if delta_next is None:
            contrib = lvl.withColumn("_dn", F.lit(0.0))
        else:
            contrib = lvl.join(
                delta_next.select(F.col("node").alias("v"), F.col("delta").alias("_dn")),
                "v",
                "left",
            ).withColumn("_dn", F.coalesce(F.col("_dn"), F.lit(0.0)))
        delta_lvl = _truncator(
            contrib.groupBy(F.col("u").alias("node"))
            .agg(F.sum(F.col("ratio") * (1.0 + F.col("_dn"))).alias("delta")),
            checkpoint_dir,
        )
        per_level.append(delta_lvl)
        delta_next = delta_lvl
    dag.unpersist()  # every per-level δ frame is eagerly checkpointed
    if stats is not None:
        stats["levels"] = levels
        stats["converged"] = converged
    if not per_level:
        empty = lm.limit(0).select(
            F.col("_s").alias("node"),
            F.lit(0.0).alias("betweenness"),
            F.lit(0).cast("long").alias("n_sources"),
        )
        return empty
    import re as _re

    all_delta = per_level[0]
    for d in per_level[1:]:
        all_delta = all_delta.unionByName(d)
    parts = F.split(F.col("node"), _re.escape(sep), 2)  # escaped: '|' is regex
    out = (
        all_delta.select(
            parts.getItem(0).alias("_seed"),
            parts.getItem(1).alias("_node"),
            "delta",
        )
        .groupBy(F.col("_node").alias("node"))
        .agg(
            F.sum("delta").alias("betweenness"),
            F.countDistinct("_seed").alias("n_sources"),
        )
    )
    return out


def betweenness_weighted(
    edges: DataFrame,
    landmarks: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: "str | None" = None,
    max_iter: int = 30,
    checkpoint_dir: "str | None" = None,
    sep: str = "|",
    stats: "dict | None" = None,
) -> DataFrame:
    """(node, betweenness, n_sources): landmark-sampled betweenness over
    WEIGHTED shortest paths — the Brandes (2001) weighted variant, closing
    the one asymmetry in the centrality family (betweenness_landmarks is
    hop-count by design; harmonic and the SSSP family were already
    weighted). Directed edges; weights must be STRICTLY positive
    (ValueError otherwise — a zero-weight cycle would make the
    shortest-path "DAG" cyclic and σ infinite); parallel (u, v) edges
    collapse to their minimum weight (simple-graph semantics, matching
    shortest_paths' min-relaxation). Prefer INTEGER-VALUED weights: the
    DAG membership test dist(u) + w == dist(v) is exact float64 equality,
    which integer sums satisfy bit-for-bit while arbitrary floats may
    disagree across summation orders (documented contract, pinned by the
    gate's integer weights and the randomized textbook pin).

    Where unweighted Brandes rides BFS levels, the weighted DAG has no
    integer levels, so the kernel runs three phases over the
    landmark-composite product graph ("s<sep>u" ids, the harmonic trick):

    1. Converged weighted dist via shortest_paths (delta-stepping-
       flavored Bellman-Ford; rounds = weighted-tree hop depth).
    2. σ over the shortest-path DAG (edges with dist(u) + w == dist(v),
       materialized once) by EXACT-HOP frontier propagation: frontier_t
       carries the count of shortest paths with exactly t DAG edges;
       equal-weight paths of DIFFERENT hop counts reach a node in
       different rounds and SUM — σ(v) is the union-aggregate over all
       rounds. D = rounds until the frontier empties.
    3. δ by D full-recompute rounds of the Brandes recurrence
       δ(u) = Σ_{(u,v)∈DAG} σ(u)/σ(v) · (1 + δ(v)): after t rounds the
       value is exact for every node whose reverse DAG depth <= t, and
       any node's reverse depth is <= D (its downstream path extends
       backward to a source, giving a source-rooted path phase 2 walked).
       Each round joins the FULL ratio-tagged DAG against the previous
       δ frame — the structural cost of weighted levels vs the
       unweighted kernel's per-level slices (a dist-ordered sweep would
       need one round per DISTINCT dist value, typically far more than D).

    max_iter bounds all three phases; stats records
    {'sssp_iterations', 'sigma_hops', 'converged'}. Same output contract
    as betweenness_landmarks: only nodes with positive dependency appear,
    sources report no δ_s(s), landmark ids must not contain `sep`."""
    lm = landmarks.select(F.col("node").cast("string").alias("_s")).distinct()
    if lm.filter(F.col("_s").contains(sep)).limit(1).count() > 0:
        raise ValueError(f"landmark ids must not contain separator {sep!r}")
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    e0 = (
        edges.select(
            F.col(src).cast("string").alias("_u"),
            F.col(dst).cast("string").alias("_v"),
            wcol.alias("_w"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .groupBy("_u", "_v")
        .agg(F.min("_w").alias("_w"))
    )
    if e0.filter(F.col("_w") <= 0).limit(1).count() > 0:
        raise ValueError("betweenness_weighted: weights must be strictly positive")
    tagged = (
        e0.join(F.broadcast(lm))
        .select(
            F.concat(F.col("_s"), F.lit(sep), F.col("_u")).alias("src"),
            F.concat(F.col("_s"), F.lit(sep), F.col("_v")).alias("dst"),
            F.col("_w").alias("w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seeds = lm.select(F.concat(F.col("_s"), F.lit(sep), F.col("_s")).alias("node"))
    st1: dict = {}
    dist = shortest_paths(
        tagged,
        seeds,
        weight="w",
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        stats=st1,
    )
    # phase 2: the weighted shortest-path DAG, built once
    du = dist.select(F.col("node").alias("_su"), F.col("dist").alias("_du"))
    dv = dist.select(F.col("node").alias("_sv"), F.col("dist").alias("_dv"))
    dag = (
        tagged.join(du, tagged.src == du["_su"])
        .join(dv, tagged.dst == dv["_sv"])
        .filter(F.col("_du") + F.col("w") == F.col("_dv"))
        .select(F.col("_su").alias("u"), F.col("_sv").alias("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dag.count()
    tagged.unpersist()
    # σ by exact-hop frontier propagation
    frontier = _truncator(seeds.withColumn("sigma", F.lit(1.0)), checkpoint_dir)
    sig_frames = [frontier]
    hops, converged = 0, False
    for _ in range(max_iter):
        nxt = _truncator(
            dag.join(frontier, dag.u == frontier.node)
            .select(F.col("v").alias("node"), "sigma")
            .groupBy("node")
            .agg(F.sum("sigma").alias("sigma")),
            checkpoint_dir,
        )
        if nxt.isEmpty():
            converged = True
            break
        hops += 1
        sig_frames.append(nxt)
        frontier = nxt
    sig = sig_frames[0]
    for fr in sig_frames[1:]:
        sig = sig.unionByName(fr)
    sig = _truncator(
        sig.groupBy("node").agg(F.sum("sigma").alias("sigma")), checkpoint_dir
    )
    # phase 3: ratio-tagged DAG + D full-recompute Brandes rounds
    gu = sig.select(F.col("node").alias("_gun"), F.col("sigma").alias("_gu"))
    gv = sig.select(F.col("node").alias("_gvn"), F.col("sigma").alias("_gv"))
    dag2 = (
        dag.join(gu, dag.u == gu["_gun"])
        .join(gv, dag.v == gv["_gvn"])
        .select("u", "v", (F.col("_gu") / F.col("_gv")).alias("ratio"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dag2.count()
    dag.unpersist()
    delta = None
    for _ in range(hops):
        if delta is None:
            contrib = dag2.withColumn("_dn", F.lit(0.0))
        else:
            contrib = dag2.join(
                delta.select(F.col("node").alias("v"), F.col("delta").alias("_dn")),
                "v",
                "left",
            ).withColumn("_dn", F.coalesce(F.col("_dn"), F.lit(0.0)))
        delta = _truncator(
            contrib.groupBy(F.col("u").alias("node"))
            .agg(F.sum(F.col("ratio") * (1.0 + F.col("_dn"))).alias("delta")),
            checkpoint_dir,
        )
    dag2.unpersist()
    if stats is not None:
        stats["sssp_iterations"] = st1.get("iterations")
        stats["sigma_hops"] = hops
        stats["converged"] = bool(st1.get("converged")) and converged
    if delta is None:
        return lm.limit(0).select(
            F.col("_s").alias("node"),
            F.lit(0.0).alias("betweenness"),
            F.lit(0).cast("long").alias("n_sources"),
        )
    import re as _re

    parts = F.split(F.col("node"), _re.escape(sep), 2)
    return (
        delta.filter(F.col("delta") > 0)
        .select(parts.getItem(0).alias("_seed"), parts.getItem(1).alias("_node"), "delta")
        .filter(F.col("_seed") != F.col("_node"))  # Brandes: no δ_s(s)
        .groupBy(F.col("_node").alias("node"))
        .agg(
            F.sum("delta").alias("betweenness"),
            F.countDistinct("_seed").alias("n_sources"),
        )
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of the undirected graph — 1-row (n_triangles).

    Degree-ordered orientation (each undirected edge kept once, pointing from
    the lower-(degree, id) endpoint to the higher): every triangle has exactly
    one node with two out-edges, so counting wedges (a->b, a->c) that close
    with an edge (b,c) counts each triangle exactly once AND bounds the
    wedge fan-out by O(m^1.5) regardless of skew — a hub of degree d
    contributes wedges only toward higher-degree nodes, instead of the d^2
    blowup a naive id-ordering suffers on low-id hubs. This is the standard
    MapReduce triangle algorithm (Suri & Vassilvitskii, WWW'11 "Counting
    triangles and the curse of the last reducer").

    The orientation is a performance choice only — the count is orientation
    invariant, which is how the DuckDB oracle (simple a<b<c enumeration)
    checks this implementation without mirroring it.
    """
    e = _canonical_undirected(edges, src, dst)
    # symmetric closure so degree and wedge-closing see every edge both ways.
    # Persisted: consumed by degree, both wedge sides, and the closing probe —
    # without this the (often expensive) upstream edge derivation re-runs 4x.
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranked = (
        und.join(deg.withColumnRenamed("u", "u_").withColumnRenamed("d", "du"), F.col("u") == F.col("u_"))
        .drop("u_")
        .join(deg.withColumnRenamed("u", "v_").withColumnRenamed("d", "dv"), F.col("v") == F.col("v_"))
        .drop("v_")
    )
    oriented = ranked.filter(
        (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    # close the wedge: (b,c) must be an edge (und is symmetric, so one probe
    # direction suffices). Semi join filters wedge rows without multiplying
    # them; each surviving wedge is exactly one triangle.
    closing = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "left_semi")
    # the output is ONE row — materialize it eagerly so the persisted
    # symmetric closure is released here instead of pinning executor
    # storage until the session ends
    out = tri.agg(F.count(F.lit(1)).alias("n_triangles")).localCheckpoint(eager=True)
    und.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    num_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Synchronous label propagation for community detection (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007): every node starts with its own
    id as label; each round, every node adopts the most frequent label
    among its neighbors, ties broken by the lexicographically smallest
    label. Deterministic by construction (no random visit order — the
    synchronous variant), so a FIXED num_iter is cross-engine oracle-able
    by unrolling rounds (`lpa_communities` in __spark_entry__.py);
    convergence detection is deliberately not built in because synchronous
    LPA can 2-cycle on bipartite structures — pick num_iter, inspect, and
    rerun, the standard practice.

    Edges are canonicalized to UNORDERED distinct pairs first: an input
    containing both (u, v) and (v, u) must count v as ONE neighbor of u,
    not two — connected_components is insensitive to that duplication,
    label counts are not.

    Per round: one join of the neighbor list against the label frame
    (both keyed on node id), one groupBy(node, label) count, one
    argmax-by-(count, label) struct-min — two shuffles — and ONE action
    (eager localCheckpoint) so lineage stays O(1), the
    connected_components discipline. The neighbor list is persisted once
    across rounds."""
    e = _simple_undirected(edges, src, dst)
    nbrs0 = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # loop-frame partition count from the measured neighbor-row count
    # (r14) — see pagerank / _size_partitions. nbrs is pinned on the
    # round join's key (v) so only the O(nodes) label side moves per
    # round; the explicit repartition on u doubles as the counts
    # aggregation's exchange (hash(u) clusters (u, label) too).
    p = _size_partitions(nbrs0.count(), nbrs0.sparkSession)
    nbrs = nbrs0.repartition(p, "v").persist(StorageLevel.MEMORY_AND_DISK)
    labels = nbrs.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    try:
        for _ in range(num_iter):
            joined = nbrs.join(
                labels, nbrs["v"] == labels["node"]
            ).select(nbrs["u"].alias("u"), "label")
            counts = joined.repartition(p, "u").groupBy("u", "label").agg(
                F.count(F.lit(1)).alias("c")
            )
            labels = _truncator(
                counts.groupBy("u")
                .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("m"))
                .select(F.col("u").alias("node"), F.col("m.l").alias("label")),
                checkpoint_dir,
            )
    finally:
        nbrs0.unpersist()
        nbrs.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_iters: int = 50,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman, Social Networks
    1983): repeatedly delete every vertex whose degree in the CURRENT
    subgraph is below k, until no vertex falls — the standard coreness
    primitive for spam/bot subgraph mining and graph sparsification.

    Returns (node, degree): the vertices of the k-core with their degree
    inside it. Edges canonicalize to unordered distinct pairs first (the
    label_propagation lesson: duplicate directions must not double-count
    a neighbor).

    Per round: one degree aggregation and two semi-joins (drop edges
    touching a peeled endpoint), one lineage cut (`_truncator` — reliable
    checkpoint via checkpoint_dir on a real cluster), and ONE count
    action for the fixpoint test. Peeling is monotone (vertex sets only
    shrink), so iterations are bounded by the peel depth — max_iters is a
    backstop, and an extra round after convergence is the identity, which
    is what makes the fixed-2-round `kcore_2rounds` gate equal the
    converged answer whenever the graph settles in fewer rounds.

    Small-graph path (module docstring): at or below `_DRIVER_MAX_EDGES`
    distinct pairs the pairs are collected EAGERLY, at call time, and the
    same synchronous peel runs round for round in numpy (`_peel_driver`),
    so it returns the distributed answer by construction.
    `checkpoint_dir` applies only above the switch."""
    e = _simple_undirected(edges, src, dst)
    pdf = _collect_small(e)
    if pdf is not None:
        (u, v), names = _factorize(*_doubled(pdf))
        u, v, _ = _peel_driver(u, v, len(names), k, max_iters, True)
        deg = np.bincount(u, minlength=len(names))
        alive = deg > 0
        return _driver_frame(
            e.sparkSession, "node string, degree long", node=names[alive], degree=deg[alive]
        )
    cur = _truncator(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        checkpoint_dir,
    )
    e.unpersist()  # the probe's cache; cur is materialized
    prev_n: "int | None" = None
    for _ in range(max_iters):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        # persist keep across its two consumers (r14, guide §2.4): the
        # count probe AND the two semi-joins read it — unpersisted, the
        # truncate job re-ran the whole degree aggregation a second time
        # every round
        keep = deg.filter(F.col("deg") >= k).select("u").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n = keep.count()
        if prev_n is not None and n == prev_n:
            keep.unpersist()
            break
        prev_n = n
        cur = _truncator(
            cur.join(keep, "u", "left_semi").join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            ),
            checkpoint_dir,
        )
        keep.unpersist()  # cur is materialized — safe to release
    return cur.groupBy("u").agg(F.count(F.lit(1)).alias("degree")).select(
        F.col("u").alias("node"), "degree"
    )


def _doubled(pdf: pd.DataFrame) -> "tuple[np.ndarray, np.ndarray]":
    """The collected (u, v) pairs in both directions: the doubled edge list
    the peel reads."""
    u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
    return np.concatenate([u, v]), np.concatenate([v, u])


def _peel_driver(
    u: np.ndarray, v: np.ndarray, n: int, k: int, rounds: int, to_fixpoint: bool
) -> "tuple[np.ndarray, np.ndarray, int | None]":
    """Up to `rounds` synchronous peel rounds at threshold `k` over the
    doubled edge list (u, v) of node codes < n — the distributed k_core /
    coreness round exactly: degree, keep mask, drop every edge with a
    dropped endpoint. `to_fixpoint` adds the distributed loop's stop rule
    (the kept-node count repeats). Returns the surviving edges and the
    last kept-node count (None when not counted)."""
    prev = kept = None
    for _ in range(rounds):
        deg = np.bincount(u, minlength=n)
        # absent nodes (degree 0) are never kept: the distributed degree
        # table only has rows for nodes that still have an edge
        keep = deg >= max(k, 1)
        if to_fixpoint:
            kept = int(keep.sum())
            if kept == prev:
                break
            prev = kept
        m = keep[u] & keep[v]
        u, v = u[m], v[m]
    return u, v, kept


def coreness(
    edges: DataFrame,
    max_k: "int | None" = None,
    rounds_per_layer: "int | None" = None,
    max_iters: int = 50,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Per-node coreness (core number): the largest k such that the node
    belongs to the k-core — the standard deliverable of k-core
    decomposition (Seidman, Social Networks 1983; Batagelj & Zaveršnik's
    sequential O(m) peel is inherently serial, so the distributed form is
    layered peeling: run the k_core peel for k = 2, 3, ... and label each
    node with the last k whose core it survived). Returns (node, coreness)
    for every node with degree >= 1; coreness >= 1 by construction.

    Two modes:
    - exact (max_k=None): peel each layer to its fixpoint (one count
      action per peel round, the k_core loop) and stop when the graph
      empties. Layer count = degeneracy of the graph; per-layer frames are
      lineage-cut so the final union of <= kmax small anti-join layers
      stays shallow.
    - capped / fixed-shape (max_k=K, rounds_per_layer=R): exactly K-1
      layers of exactly R peel rounds each, no data-dependent driver
      DECISIONS (no fixpoint counts) — a deterministic plan shape, which
      is what the cross-engine `coreness_capped` gate unrolls in SQL.
      Survivors of the K-layer are labeled K (meaning "coreness >= K").
      Equals the exact answer truncated at K whenever every layer settles
      within R rounds (an extra peel round after convergence is the
      identity — the kcore_2rounds argument).

    At 100 TB the cost profile is the k_core loop's per layer: one degree
    aggregation + two semi-joins per round, all on the shrinking doubled
    edge list; no driver state beyond loop counters.

    Small-graph path (module docstring): at or below `_DRIVER_MAX_EDGES`
    distinct pairs the pairs are collected EAGERLY, at call time, and the
    layers below run round for round in numpy (`_peel_driver`), so exact
    and capped mode both return the distributed answer by construction.
    `checkpoint_dir` applies only above the switch."""
    if rounds_per_layer is not None and max_k is None:
        raise ValueError("rounds_per_layer requires max_k (fixed-shape mode)")
    e = _simple_undirected(edges, src, dst)
    pdf = _collect_small(e)
    if pdf is not None:
        return _coreness_driver(e.sparkSession, pdf, max_k, rounds_per_layer, max_iters)
    doubled = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Both modes cut lineage per peel round. MEASURED AND REJECTED: running
    # fixed-shape mode fully lazy (no cuts, "let ReusedExchange handle it")
    # — each peel block references its predecessor 3x (degree source + two
    # semi-join probes), so the logical plan TREE grows 3^rounds and the
    # 3x2-block gate went 60s -> 600s+ timeout at sf0.01. The per-round
    # localCheckpoint is what keeps the plan linear in rounds.
    cur = _truncator(doubled, checkpoint_dir)
    e.unpersist()  # the probe's cache; cur is materialized
    nodes_prev = cur.select("u").distinct()
    layers: "list[DataFrame]" = []
    k = 1
    while True:
        k += 1
        n: "int | None" = None
        if rounds_per_layer is not None:
            # MEASURED AND REJECTED: cutting lineage once per LAYER instead
            # of per round (to save eager-action scheduling floors) made the
            # sf0.1 gate SLOWER — 8.2 s best-of-3 vs 6.4-6.9 s — because the
            # un-materialized intra-layer chain is referenced 3x by the next
            # block (degree source + two semi-join probes) and its shuffles
            # recompute; the saved action floors don't cover that. Per-round
            # cuts stay.
            for _ in range(rounds_per_layer):
                deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
                keep = deg.filter(F.col("deg") >= k).select("u")
                cur = _truncator(
                    cur.join(keep, "u", "left_semi").join(
                        keep.select(F.col("u").alias("v")), "v", "left_semi"
                    ),
                    checkpoint_dir,
                )
        else:
            prev_n: "int | None" = None
            for _ in range(max_iters):
                deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
                # same keep-persist as k_core (r14): probe + semi-joins
                # share one computed frame instead of re-aggregating
                keep = deg.filter(F.col("deg") >= k).select("u").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                n = keep.count()
                if prev_n is not None and n == prev_n:
                    keep.unpersist()
                    break
                prev_n = n
                cur = _truncator(
                    cur.join(keep, "u", "left_semi").join(
                        keep.select(F.col("u").alias("v")), "v", "left_semi"
                    ),
                    checkpoint_dir,
                )
                keep.unpersist()  # cur is materialized — safe to release
        if n == 0:  # exact mode: k-core empty -> everyone left was (k-1)-core
            layers.append(nodes_prev.withColumn("coreness", F.lit(k - 1)))
            break
        nodes_now = cur.select("u").distinct()
        layers.append(
            nodes_prev.join(nodes_now, "u", "left_anti").withColumn(
                "coreness", F.lit(k - 1)
            )
        )
        nodes_prev = nodes_now
        if max_k is not None and k == max_k:
            layers.append(nodes_now.withColumn("coreness", F.lit(max_k)))
            break
    out = layers[0]
    for extra in layers[1:]:
        out = out.unionByName(extra)
    return out.select(F.col("u").alias("node"), F.col("coreness").cast("long"))


def _coreness_driver(
    spark: SparkSession,
    pdf: pd.DataFrame,
    max_k: "int | None",
    rounds_per_layer: "int | None",
    max_iters: int,
) -> DataFrame:
    """coreness's small-graph path on the collected (u, v) pairs: the
    distributed layer loop with each layer's rounds in `_peel_driver`."""
    (u, v), names = _factorize(*_doubled(pdf))
    n = len(names)
    core = np.zeros(n, dtype=np.int64)
    nodes_prev = np.ones(n, dtype=bool)  # every pair endpoint has degree >= 1
    exact = rounds_per_layer is None
    k = 1
    while True:
        k += 1
        u, v, kept = _peel_driver(u, v, n, k, max_iters if exact else rounds_per_layer, exact)
        if kept == 0:  # exact mode: k-core empty -> everyone left was (k-1)-core
            core[nodes_prev] = k - 1
            break
        nodes_now = np.bincount(u, minlength=n) > 0
        core[nodes_prev & ~nodes_now] = k - 1
        nodes_prev = nodes_now
        if max_k is not None and k == max_k:
            core[nodes_now] = max_k
            break
    return _driver_frame(spark, "node string, coreness long", node=names, coreness=core)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a node partition over the undirected graph
    (Newman & Girvan, Phys. Rev. E 2004) — the standard quality score for
    what label_propagation found: per community c,
    q_contrib(c) = e_c/m - (deg_c/(2m))^2, and Q = sum over communities.

    Returns one row per community: (label, n_nodes, intra_edges, deg_sum,
    q_contrib) — per-community rows rather than the lone scalar so the
    cross-engine gate pins every term, not just the sum.

    Shapes: m (distinct unordered edge count) rides a broadcast 1-row
    aggregate; degrees come from one symmetric-edge aggregation; intra
    edges and degree mass are two label joins keyed on the node — every
    shuffle is keyed on a node or a label. Nodes missing from `labels`
    contribute no community row (their edges still count in m, the
    partition-of-a-subgraph convention); communities with no internal
    edge keep a row with intra_edges = 0."""
    # the canonical edge frame feeds THREE consumers (m, degrees, intra)
    # — persist for the op's duration or the upstream edge derivation
    # (often a join) runs three times (the dsir_logweights
    # materialize-then-release contract; measured on the modularity gate
    # at sf0.1: 9.8 -> 3.9 s)
    e = _simple_undirected(edges, src, dst).persist(StorageLevel.MEMORY_AND_DISK)
    lab = labels.select(
        F.col(node_col).cast("string").alias("n"), F.col(label_col).alias("l")
    )
    m1 = F.broadcast(e.agg(F.count(F.lit(1)).cast("double").alias("m")))
    nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = nbrs.groupBy("u").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    per_label = (
        deg.join(lab, deg["u"] == lab["n"])
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").alias("deg_sum"),
        )
    )
    intra = (
        e.join(lab.select(F.col("n").alias("u"), F.col("l").alias("lu")), "u")
        .join(lab.select(F.col("n").alias("v"), F.col("l").alias("lv")), "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("l"))
        .agg(F.count(F.lit(1)).cast("double").alias("intra"))
    )
    out = (
        per_label.join(intra, "l", "left")
        .withColumn("intra", F.coalesce(F.col("intra"), F.lit(0.0)))
        .crossJoin(m1)
    )
    frac = F.col("deg_sum") / (F.lit(2.0) * F.col("m"))
    result = out.select(
        F.col("l").alias("label"),
        "n_nodes",
        F.col("intra").cast("long").alias("intra_edges"),
        F.col("deg_sum").cast("long").alias("deg_sum"),
        (F.col("intra") / F.col("m") - frac * frac).alias("q_contrib"),
    )
    # community-count-sized result: eagerly cut lineage, then release the
    # persisted edge frame (dsir's materialize-then-release)
    result = result.localCheckpoint(eager=True)
    e.unpersist()
    return result


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_iter: int = 10,
    tol: "float | None" = None,
    stats: "dict | None" = None,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """(node, auth, hub) after `num_iter` HITS iterations (Kleinberg,
    JACM 1999): auth <- A^T hub then L2-normalize, hub <- A auth(new) then
    L2-normalize, starting from hub = 1 on every node. The standard
    companion kernel to pagerank for directed link analysis — on a
    bipartite graph (customers->suppliers, deployers->contracts) hubs
    score the left side and authorities the right.

    Iteration cost discipline (the pagerank contract, adapted to HITS's
    two half-steps):
      - TWO actions per iteration, one per half-step: the auth vector is
        lineage-cut (_truncator: localCheckpoint, or reliable checkpoint
        under `checkpoint_dir`) before the hub update reads it. The
        single-cut shape — auth as a lazy subplan feeding BOTH the output
        columns and the hub join — was measured and rejected in round 10:
        the auth exchange is NOT reused across the two consumers (8.38 s
        vs 5.06 s for 2 iterations on the sf0.1 bipartite graph, best-of-2
        same session), so one extra sub-second cut beats recomputing the
        edge-join half of the iteration.
      - Both L2 norms ride broadcast 1-row aggregates folded into their
        half-step's plan — no standalone norm actions.
      - The edge frame is persisted once, hash-partitioned by src (the
        auth join key); both joins move only the O(nodes) scores side,
        never the edges.
      - Lineage is cut every half-step so the plan stays O(1) deep (the
        3^rounds lazy-plan blowup measured on pagerank in round 8).

    `tol` (optional) adds pagerank's convergence stop rule: iteration
    ends early once the combined L1 delta of the hub AND auth vectors
    between successive iterations is <= tol, read with one PROBE JOIN of
    the two already-materialized checkpoint frames per round (the
    measured-safe shape — embedding the prev-join in the iterated frame
    goes geometric after ~17 rounds, BASELINE.md round-10 pagerank
    analysis; the checkpointed plan is byte-identical with tol on or
    off).

    Parallel edges contribute multiplicity, exactly like pagerank — pass
    .distinct() edges for simple-graph semantics. `stats`, if given a
    dict, receives {"iterations": k, "last_delta": d}."""
    e0 = edges.select(
        F.col(src).cast("string").alias("src"), F.col(dst).cast("string").alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # loop-frame partition count from the measured edge count (r14) —
    # see pagerank / _size_partitions
    p = _size_partitions(e0.count(), e0.sparkSession)
    e = e0.repartition(p, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(p, "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if nodes.isEmpty():
        # materializes nodes AND (through it) the repartitioned e — only
        # now is e0's cache safe to drop without recomputing the edge
        # derivation from the scan
        e0.unpersist()
        e.unpersist()
        nodes.unpersist()
        return nodes.select(
            "node", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
        )
    e0.unpersist()
    # second pinned edge copy keyed on dst (r14): e is pinned on src for
    # the auth half-step's join, so the hub half-step (joining on e.dst)
    # was re-exchanging the FULL edge frame every round — the docstring's
    # "both joins move only the scores side" held for only one of the two
    # half-steps. ed's lineage reads e's cache (already materialized by
    # the nodes count above), so the copy costs one edge shuffle at setup
    # and removes one per round.
    ed = e.repartition(p, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    scores = nodes.select(
        "node", F.lit(0.0).alias("auth"), F.lit(1.0).alias("hub")
    )
    iterations, last_delta = 0, None
    for _ in range(num_iter):
        araw = (
            e.join(scores, e.src == scores.node)
            .select(F.col("dst").alias("node"), F.col("hub").alias("h"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.sum("h").alias("s"))
        )
        anorm = araw.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_an"))
        auth = _truncator(
            nodes.join(araw, "node", "left")
            .join(F.broadcast(anorm))
            .select(
                "node",
                (F.coalesce(F.col("s"), F.lit(0.0)) / F.col("_an")).alias("auth"),
            ),
            checkpoint_dir,
        )
        hraw = (
            ed.join(auth, ed.dst == auth.node)
            .select(F.col("src").alias("node"), F.col("auth").alias("a"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.sum("a").alias("s"))
        )
        hnorm = hraw.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_hn"))
        nxt = (
            auth.join(hraw.withColumnRenamed("s", "_hs"), "node", "left")
            .join(F.broadcast(hnorm))
            .select(
                "node",
                "auth",
                (F.coalesce(F.col("_hs"), F.lit(0.0)) / F.col("_hn")).alias("hub"),
            )
        )
        nxt = _truncator(nxt, checkpoint_dir)
        iterations += 1
        if tol is not None:
            last_delta = (
                nxt.join(
                    scores.select(
                        "node",
                        F.col("auth").alias("_pa"),
                        F.col("hub").alias("_ph"),
                    ),
                    "node",
                )
                .agg(
                    F.coalesce(
                        F.sum(
                            F.abs(F.col("auth") - F.col("_pa"))
                            + F.abs(F.col("hub") - F.col("_ph"))
                        ),
                        F.lit(0.0),
                    )
                )
                .first()[0]
            )
            scores = nxt
            if last_delta <= tol:
                break
        else:
            scores = nxt
    if stats is not None:
        stats["iterations"] = iterations
        stats["last_delta"] = last_delta
    e.unpersist()
    ed.unpersist()
    nodes.unpersist()
    return scores.select("node", "auth", "hub")
