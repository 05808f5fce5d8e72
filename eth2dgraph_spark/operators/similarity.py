"""Skeleton similarity (SURVEY.md §2.5 A5-A7, §2.4 J5-J6).

Reference semantics (src/analysys/similarities.rs):
  - cosine over opcode n-gram frequency maps, threshold 0.95 default
    (:216-230; dot over intersecting keys / sqrt(sum_a2 * sum_b2)).
  - Jaccard over interface name sets (functions ∪ events ∪ errors),
    0.0 if either set empty, threshold 0.75 default (:233-238, 94-103).
  - all-pairs is triangular (i vs i+1..n, :256-305); one-vs-all broadcasts a
    single target (:314-429). Output is symmetric pairs with the score.

Spark-first — NO crossJoin: the n-gram/token ROWS form turns the similarity
into a sparse inverted-index join. Pairs that share no n-gram have dot = 0
and can never pass a positive threshold, so joining on the n-gram key
enumerates exactly the candidate pairs; `id_a < id_b` keeps the triangle.
This is the standard IR trick that replaces the reference's O(n^2) rayon loop
and is the piece that survives 100x data (cross join does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_COSINE_THRESHOLD = 0.95  # src/main.rs:126-131
DEFAULT_JACCARD_THRESHOLD = 0.75  # src/main.rs:121-125

# Postings longer than this are dropped before the O(f^2) in-row pair
# expansion — the same single-reducer defense as
# pipeline.dedup.DEFAULT_MAX_SHINGLE_DOCS: at mainnet scale, ubiquitous
# boilerplate n-grams (the standard Solidity dispatch prelude) and tokens
# shared by every ERC-20 ('totalSupply()') have million-long postings whose
# in-row expansion is ~10^12 structs in ONE row. Dropping a hot posting
# only removes intersection/dot evidence, so scores are exact-or-
# underestimated, never inflated.
DEFAULT_MAX_POSTING = 1024


def _capped(rows: DataFrame, key: str, max_posting_len: int | None) -> DataFrame:
    """Rows whose posting key is shared by 2..max_posting_len ids (all rows
    when the cap is None).

    The cap is enforced BEFORE collect_list: collect_list's per-group
    buffer never spills, so a hot posting would otherwise materialize its
    full O(f) array in one task before a size filter could drop it — the
    buffer form of the reducer hazard the cap exists to prevent. The
    posting length comes from a WINDOW over the posting key (WindowExec
    spills per group), not a count agg + semi-join: the input is not
    persisted here, and the window consumes it ONCE, with the caller's
    groupBy reusing the window's hash partitioning (no extra exchange).
    (dedup.ngram_jaccard_pairs uses the agg+semi-join form instead — its
    shingle frame is persisted, so re-reads there are cache hits.)"""
    if max_posting_len is None:
        return rows
    dc = F.count(F.lit(1)).over(Window.partitionBy(key))
    return (
        rows.withColumn("_dc", dc)
        .filter((F.col("_dc") > 1) & (F.col("_dc") <= max_posting_len))
        .drop("_dc")
    )


def _triangle(posting: str, pair):
    """Explode each sorted posting list into its triangular pairs: element
    i against elements i+1.. — no self-join of the index, no j<=i half
    ever materialized. `pair(x, y)` builds the struct for one pair."""
    return F.explode(
        F.flatten(
            F.transform(
                posting,
                lambda x, i: F.transform(
                    F.slice(posting, i + 2, F.size(posting)), lambda y: pair(x, y)
                ),
            )
        )
    ).alias("p")


def cosine_similarity_pairs(
    ngram_rows: DataFrame,
    threshold: float = DEFAULT_COSINE_THRESHOLD,
    max_posting_len: int | None = DEFAULT_MAX_POSTING,
) -> DataFrame:
    """A6/J5: all pairs with n-gram cosine >= threshold.

    Input: (id, ngram, cnt) rows from functions.ngrams.ngram_rows, read
    ONCE. Each row carries its id's squared norm (a window over id, on the
    FULL vector) into its posting entry; dot(a,b) comes from ONE
    groupBy(ngram-hash) whose sorted posting list is expanded in-row to
    triangular (id_a, id_b, cnt_a*cnt_b) contributions (vs. the
    reference's rayon loop, similarities.rs:256-305), and the norms ride
    along to the final score, so no norms aggregation is joined back.
    The window costs one more shuffle of the n-gram rows; a second read
    of them would re-run the n-gram pandas UDF (a join-inferred
    isnotnull filter keeps the two reads from sharing an exchange).
    `max_posting_len` (finite BY DEFAULT) caps the expansion; pass None for
    exact scores on bounded inputs.
    """
    # n-grams private to one skeleton can't contribute to any dot product,
    # so postings of length 1 are dropped, and the grouping key is a 64-bit
    # hash, never the string.
    norm2 = F.sum(F.col("cnt") * F.col("cnt")).over(Window.partitionBy("id"))
    nr = ngram_rows.select(
        F.xxhash64("ngram").alias("ngram"), F.struct("id", "cnt", norm2.alias("norm2")).alias("e")
    )
    posting = (
        _capped(nr, "ngram", max_posting_len)
        .groupBy("ngram")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))  # sorts by id
        .filter(F.size("es") > 1)  # no-op under the window filter; needed for None
    )
    pair = _triangle(
        "es",
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            x["norm2"].alias("norm2_a"),
            y["norm2"].alias("norm2_b"),
            (x["cnt"] * y["cnt"]).alias("prod"),
        ),
    )
    return (
        posting.select(pair)
        .select("p.*")
        # norm2 is a function of the id, so grouping on it splits nothing
        .groupBy("id_a", "id_b", "norm2_a", "norm2_b")
        .agg(F.sum("prod").alias("dot"))
        .withColumn("similarity", F.col("dot") / F.sqrt(F.col("norm2_a") * F.col("norm2_b")))
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


def jaccard_similarity_pairs(
    token_rows: DataFrame,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
    max_posting_len: int | None = DEFAULT_MAX_POSTING,
) -> DataFrame:
    """A7: all pairs with token-set Jaccard >= threshold.

    Input: (id, token) DISTINCT rows (the interface name sets of
    similarities.rs:94-103 — or any token sets). |A∩B| from the join,
    |A∪B| = |A|+|B|-|A∩B|. Empty sets produce no rows => 0.0 (:233-234).
    `max_posting_len` caps the hot-token expansion (see DEFAULT_MAX_POSTING).

    The set sizes are joined back, not carried in the posting entries as
    the cosine kernel carries its norms: there is no UDF to re-run here
    (the sizes and the postings share one exchange of the distinct
    tokens), and carrying the sizes through the pair expansion, which
    adds a shuffle of every token row by id, measured slower: 231 vs
    175 s on the exact sf0.1 interface_jaccard gate (4 cores, one run
    each), best-of-3 1.98 vs 1.34 s capped at sf0.01.
    """
    tok = token_rows.select("id", F.xxhash64("token").alias("token")).distinct()
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    posting = (
        _capped(tok, "token", max_posting_len)
        .groupBy("token")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)  # no-op under the window filter; needed for None
    )
    pair = _triangle("ids", lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")))
    inter = (
        posting.select(pair)
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "similarity",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


def one_vs_all_cosine(
    ngram_rows: DataFrame, target_id: str, threshold: float = DEFAULT_COSINE_THRESHOLD
) -> DataFrame:
    """J6: broadcast the single target's n-gram vector against everyone
    (similarities.rs:314-429)."""
    target = ngram_rows.filter(F.col("id") == target_id).select(
        "ngram", F.col("cnt").alias("cnt_t")
    )
    norms = ngram_rows.groupBy("id").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("norm2"))
    t_norm = norms.filter(F.col("id") == target_id).select(F.col("norm2").alias("norm2_t"))
    dots = (
        ngram_rows.filter(F.col("id") != target_id)
        .join(F.broadcast(target), "ngram")
        .groupBy("id")
        .agg(F.sum(F.col("cnt") * F.col("cnt_t")).alias("dot"))
    )
    return (
        dots.join(norms, "id")
        .crossJoin(F.broadcast(t_norm))
        .withColumn("similarity", F.col("dot") / F.sqrt(F.col("norm2") * F.col("norm2_t")))
        .filter(F.col("similarity") >= threshold)
        .select("id", "similarity")
    )


def symmetric_edges(pairs: DataFrame, kind: str) -> DataFrame:
    """K5: materialize both directions with a kind tag, as the reference
    writes both N-Quad directions (similarities.rs:270-303)."""
    fwd = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "similarity", F.lit(kind).alias("kind")
    )
    rev = pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "similarity", F.lit(kind).alias("kind")
    )
    return fwd.unionByName(rev)
