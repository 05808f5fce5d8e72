"""r15 interleaved A/B: coreness fixed-shape intra-layer round-pair
fusion (persist odd rounds, checkpoint even rounds — VERDICT r14 item 4)
vs the r14 per-round-cut form (legacy, reconstructed here from git HEAD
66d11ab's fixed-shape branch verbatim).

Usage: python tools/measure_r15_coreness.py [reps]
"""

from __future__ import annotations

import gc
import glob
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from pyspark.sql import functions as F

    from eth2dgraph_spark.session import get_spark
    from eth2dgraph_spark import graph as G

    spark = get_spark("m15-coreness")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    qs = E.queries()
    for f in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass

    current = G.coreness

    def legacy_coreness(edges, max_k=None, rounds_per_layer=None, max_iters=50,
                        src="src", dst="dst", checkpoint_dir=None):
        e = (
            G._canonical_undirected(edges, src, dst)
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )
        doubled = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        cur = G._truncator(doubled, checkpoint_dir)
        nodes_prev = cur.select("u").distinct()
        layers = []
        k = 1
        while True:
            k += 1
            for _ in range(rounds_per_layer):
                deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
                keep = deg.filter(F.col("deg") >= k).select("u")
                cur = G._truncator(
                    cur.join(keep, "u", "left_semi").join(
                        keep.select(F.col("u").alias("v")), "v", "left_semi"
                    ),
                    checkpoint_dir,
                )
            nodes_now = cur.select("u").distinct()
            layers.append(
                nodes_prev.join(nodes_now, "u", "left_anti").withColumn(
                    "coreness", F.lit(k - 1)
                )
            )
            nodes_prev = nodes_now
            if k == max_k:
                layers.append(nodes_now.withColumn("coreness", F.lit(max_k)))
                break
        out = layers[0]
        for extra in layers[1:]:
            out = out.unionByName(extra)
        return out.select(F.col("u").alias("node"), F.col("coreness").cast("long"))

    # "fused" (round-pair persist+checkpoint) measured 10.16 vs legacy 9.88
    # best-of-3 interleaved -> REJECTED; arm removed. `current` is whatever
    # the module ships (compare it against the reconstructed variants).
    arms = {"current": current, "legacy": legacy_coreness}

    def run(name):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        qs["coreness_capped"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        gc.collect()
        return dt

    for arm, fn in arms.items():
        G.coreness = fn
        run("warm-" + arm)
    res = {a: [] for a in arms}
    for r in range(reps):
        for arm, fn in arms.items():
            G.coreness = fn
            res[arm].append(run(f"{arm}-{r}"))
    G.coreness = current
    for arm, ts in res.items():
        print(f"RESULT {arm}: best={min(ts):.2f} all={[round(t, 2) for t in ts]}", flush=True)


if __name__ == "__main__":
    main()
