"""Deduplication at training-data scale: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Design for 100 TB:
  - exact: hash-groupBy — one shuffle on a 128-bit digest, never on raw text.
  - n-gram Jaccard: inverted-index join on shingles (pairs sharing no shingle
    can't pass a positive threshold) — no cross join anywhere.
  - MinHash+LSH: shingle -> K minhashes -> B bands; candidate pairs from a
    groupBy on (band, band_hash) — the classic sub-quadratic path. Hash
    functions are md5-derived so they're deterministic across engines.
  - SimHash: 60-bit signature via bit-vote over token hashes; near-dups =
    equal signature bucket, or banded Hamming via Manku-style chunk-
    combination tables (C(6,3) tables keyed on 30-bit chunk triples).
  - embedding cosine: see similarity_search; near-dup = cosine >= threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SHINGLE = 3  # word shingles
_WS = r"\s+"


def _norm_text(text_col: str):
    # single source of truth: text.fingerprint and exact-dedup identity
    # must stay byte-identical (curate_increment's append-equivalence)
    from .text import norm_ws

    return norm_ws(text_col)


def exact_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ids: int | None = 1024,
) -> DataFrame:
    """Groups of exact duplicates (after whitespace/case normalization).
    Returns (fingerprint, dup_count, doc_ids) for groups with >1 member.

    `dup_count` is always exact; `doc_ids` lists the `max_ids` SMALLEST
    member ids (ascending) — a mega-group of f identical documents (the
    templated-page case) must not materialize an f-length array in one
    collect_list buffer, which never spills. Membership is ranked with a
    window (WindowExec spills per-partition-group), so only the surviving
    <= max_ids rows per group reach the collection. Pass None for the full
    lists (exact, but one O(f) buffer per mega-group)."""
    fp = df.select(F.col(id_col), F.md5(_norm_text(text_col)).alias("fingerprint"))
    if max_ids is None:
        return (
            fp.groupBy("fingerprint")
            .agg(
                F.count(F.lit(1)).alias("dup_count"),
                F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            )
            .filter(F.col("dup_count") > 1)
        )
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    ranked = fp.select(
        "fingerprint",
        F.col(id_col),
        F.count(F.lit(1)).over(w).alias("dup_count"),
        F.row_number().over(w.orderBy(id_col)).alias("_rn"),
    )
    return (
        ranked.filter((F.col("dup_count") > 1) & (F.col("_rn") <= max_ids))
        .groupBy("fingerprint", "dup_count")
        .agg(F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .select("fingerprint", "dup_count", "doc_ids")
    )


def dedup_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Keep one representative (min id) per normalized-text group.
    `fingerprint_col` reuses a precomputed md5(norm_ws(text)) column
    (text.fingerprint's output) instead of re-scanning the text — the
    incremental-curation path computes it anyway for the history anti-join,
    and at corpus scale the normalize+md5 over every document's text is the
    dominant column work of the stage."""
    if fingerprint_col is not None:
        fp = df.withColumn("_fp", F.col(fingerprint_col))
    else:
        fp = df.withColumn("_fp", F.md5(_norm_text(text_col)))
    # min-per-group via ONE window over hash(_fp) instead of groupBy +
    # join-back (r14, guide §2.4): the join form evaluated the whole
    # upstream subtree twice — once under the winners aggregate, once as
    # the join's left side (measured on the curate gates: the screened
    # union and its document scans appeared 2x in the plan). Same rows
    # (id == min(id) per fingerprint group, duplicates of the winner row
    # included), same column order (window columns are appended and
    # dropped).
    from pyspark.sql import Window

    w = Window.partitionBy("_fp")
    return (
        fp.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .drop("_fp", "_min_id")
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, shingle) rows (NOT distinct) — the shared explode all shingle
    consumers start from. Built as a zip_with chain over k shifted slices —
    O(k*n) per document and codegen-friendly; concat_ws skips zip_with's null
    padding, which reproduces the shorter-than-k fallback."""
    words = F.split(_norm_text(text_col), " ")
    n = F.size(words)
    m = F.greatest(n - F.lit(k - 1), F.lit(1))
    acc = F.slice(words, 1, m)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(words, j + 1, m), lambda a, b: F.concat_ws(" ", a, b))
    return df.select(F.col(id_col).alias("id"), F.explode(acc).alias("shingle"))


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = DEFAULT_SHINGLE
) -> DataFrame:
    """(id, shingle) DISTINCT rows — k-word shingles of normalized text.
    Documents shorter than k words contribute their full token string.

    Built as a zip_with chain over k shifted slices of the token array —
    O(k·n) per document and codegen-friendly. (The naive
    transform(sequence(1,n), i -> slice(words,i,k)) form is O(n²) per doc
    and falls out of whole-stage codegen: 4x slower end-to-end.) concat_ws
    skips the nulls zip_with pads with, which exactly reproduces the
    shorter-than-k fallback."""
    return _exploded_shingles(df, id_col, text_col, k).distinct()


def shingle_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = DEFAULT_SHINGLE
) -> DataFrame:
    """(id, shingle, cnt) frequency rows — the text analog of the opcode
    n-gram rows (A5) that feed cosine similarity (A6)."""
    return (
        _exploded_shingles(df, id_col, text_col, k)
        .groupBy("id", "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, h) distinct rows, h = xxhash64(shingle). The hash happens BEFORE
    the set-dedup so the distinct's shuffle moves 8-byte longs, not shingle
    strings — at corpus scale that's the dominant shuffle of the whole job.
    Collisions (~2^-64/pair) can perturb a set size by 1; accepted."""
    return (
        _exploded_shingles(df, id_col, text_col, k)
        .select("id", F.xxhash64("shingle").alias("h"))
        .distinct()
    )


# Posting lists longer than this are dropped from the pair expansion: a
# shingle shared by f documents contributes O(f^2) in-row pairs on ONE
# reducer while adding 1 unit of Jaccard evidence per pair. 1024 keeps the
# worst single row at ~0.5M pair structs (~17 MB — bounded, not an OOM), and
# at web scale an uncapped stop-shingle ("click here to", boilerplate
# headers) is the single-reducer job-killer. Far above any honest near-dup
# posting length.
DEFAULT_MAX_SHINGLE_DOCS = 1024


def stop_shingle_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    max_shingle_docs: int = DEFAULT_MAX_SHINGLE_DOCS,
) -> DataFrame:
    """(h, doc_count) for the postings ngram_jaccard_pairs drops under the
    cap — the observability companion: run it when you need to know what a
    capped dedup pass ignored (count, or join back to shingles for text)."""
    return (
        _hashed_shingle_sets(df, id_col, text_col, k)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") > max_shingle_docs)
    )


def _ngram_dp(sh: DataFrame, spark) -> int:
    """Partition count for ngram_jaccard_pairs' pinned exchanges (the
    posting window, the intersection aggregate and the two size joins).

    r15 (VERDICT r14 item 2): derived from the MEASURED shingle-row count
    via graph._size_partitions — ceil(rows/50k) tasks capped at
    defaultParallelism, growing as ceil(rows/2M) at scale — instead of
    the r14 `max(defaultParallelism, input width)` floor. The r14 floor
    pinned 32-partition shuffles onto ~500k-row stages, which is where
    the gate's 32-core anti-scaling lived (r14 scaling ratio 0.27).
    Interleaved A/B/C on an idle box (tools/measure_r15_ngram.py,
    best-of-3, both core counts):
      c32: width-derived 3.63 / r14 floor 4.40 / no pins 6.86 s
           (capped gate: 3.66 / 4.89 / 4.02)
      c8:  width-derived 3.00 / r14 floor 2.68 / no pins 5.57 s
           (capped gate: 1.95 / 2.14 / 1.94)
    -> width-derived is best at c32, within one count-job floor of the
    r14 form at c8 (same dp=8 there), and lifts the c8/c32 scaling ratio
    from 0.61 to 0.83. No pins stays 1.5-1.9x worse at c32 — the pins
    themselves are load-bearing under parallelismFirst=false. The
    count() doubles as the cache materialization of the persisted
    shingle frame, which its first consumer paid anyway.

    Eager: the count runs on every ngram_jaccard_pairs call, including
    eager=False ones, because the pinned widths are part of the plan that
    call returns."""
    from ..graph import _size_partitions

    return _size_partitions(sh.count(), spark)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    max_shingle_docs: int | None = DEFAULT_MAX_SHINGLE_DOCS,
    eager: bool = True,
    cap_form: str = "window",
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via an inverted index (no cross join):
    |A∩B| from co-occurrence counts, |A∪B| = |A|+|B|-|A∩B|.

    `eager` (default) materializes the output and releases the persisted
    shingle frame before returning; False returns the lazy plan (for plan
    inspection or custom reuse) and leaves the shingle frame persisted
    until the session's ContextCleaner or an explicit unpersist. Either
    way the shingle count that sizes the exchanges runs (_ngram_dp).

    Scale shape: (1) per-doc sizes are counted BEFORE any pruning; (2)
    candidate pairs come from ONE groupBy(shingle-hash) with an in-row
    triangular expansion over the sorted posting list — vs. the prune-join +
    self-join formulation this removes two shuffles of the full index and
    never materializes the discarded j<=i half; (3) every shuffle key is a
    64-bit hash, never a string.

    `max_shingle_docs` (finite BY DEFAULT) drops postings longer than the
    cap before the O(f²) expansion. Pairs whose shared shingles are all
    under the cap keep their exact Jaccard; a pair loses (at most) the
    intersection evidence carried by capped stop-shingles, i.e. scores are
    exact-or-underestimated, never inflated. The cap is enforced BEFORE
    collect_list, not by filtering the collected array: collect_list's
    per-group buffer never spills, so a single corpus-wide stop-shingle
    (every web page contains 'terms of service') would otherwise
    materialize an O(corpus) array in ONE task before the filter could
    drop it. `cap_form` picks the mechanics — "window" (default):
    count(1) over (partition by h) + filter, ONE shuffle of the shingle
    frame whose hashpartitioning(h) the posting groupBy reuses, and
    WindowExec's group buffer spills so hot keys stream through disk;
    "semijoin" (the round-6 form, kept for the A/B harness): count agg +
    left-semi join, which scans the persisted shingle frame twice —
    measured ~10% slower at sf0.1 and on a 3k-doc hot-shingle corpus with
    identical outputs (tools/measure_r7.py, BASELINE.md round 7). Pass
    max_shingle_docs=None to disable capping (exact but vulnerable to the
    hot-shingle buffer AND reducer); use stop_shingle_postings() to see
    what a cap dropped.
    """
    from pyspark.storagelevel import StorageLevel

    from pyspark.sql.window import Window

    sh = _hashed_shingle_sets(df, id_col, text_col, k).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # pin the posting path's h-exchange at a parallelism floor with an
    # explicit repartition (r14): this stage is byte-light but
    # compute-heavy (the in-row triangular expansion), so AQE's
    # size-based coalescing (parallelismFirst=false, session.py) would
    # shrink it onto a few cores (measured: ngram_jaccard 1.15-1.24x
    # under the flag without the pin). REPARTITION_BY_NUM is exempt from
    # coalescing, replaces the ENSURE_REQUIREMENTS exchange the window /
    # posting groupBy inserted anyway (same key, so the partitioning is
    # reused downstream). dp derivation lives in _ngram_dp (r15); the
    # falsy arm serves tools/measure_r15_ngram.py's no-pin A/B arm, which
    # monkeypatches _ngram_dp to return None.
    dp = _ngram_dp(sh, df.sparkSession)
    posting_src = sh.repartition(dp, "h") if dp else sh
    if max_shingle_docs is not None:
        if cap_form == "window":
            # ONE shuffle of sh on h: the window's hashpartitioning(h) is
            # reused by the posting groupBy (no second exchange), and
            # WindowExec's group buffer spills (ExternalAppendOnlyUnsafeRowBuffer)
            # — a corpus-wide stop-shingle streams through disk instead of
            # OOMing a reducer.
            posting_src = (
                posting_src.withColumn(
                    "_dc", F.count(F.lit(1)).over(Window.partitionBy("h"))
                )
                .filter((F.col("_dc") > 1) & (F.col("_dc") <= max_shingle_docs))
                .drop("_dc")
            )
        else:
            eligible = (
                posting_src.groupBy("h")
                .agg(F.count(F.lit(1)).alias("_dc"))
                .filter((F.col("_dc") > 1) & (F.col("_dc") <= max_shingle_docs))
                .select("h")
            )
            posting_src = posting_src.join(eligible, "h", "left_semi")
    posting = posting_src.groupBy("h").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    posting = posting.filter(F.size("ids") > 1)  # no-op under the semi-join; needed for None
    pair = F.explode(
        F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice("ids", i + 2, F.size("ids")),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    ).alias("p")
    # the candidate-pair volume is large at permissive thresholds (every
    # co-occurrence is a row), so the intersection aggregate and both
    # size joins are pinned at dp too (r14): AQE's byte-based coalescing
    # under-provisions these row-heavy, compute-real stages (measured:
    # reverting just these pins took the respect arm from 0.91x back to
    # 1.63x on ngram_jaccard).
    cand = posting.select(pair).select("p.id_a", "p.id_b")
    inter = (
        (cand.repartition(dp, "id_a", "id_b") if dp else cand)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # materialize the (threshold-filtered) output eagerly so the persisted
    # shingle frame — the BIG intermediate, one row per (doc, shingle) —
    # can be released here instead of pinning executor storage until the
    # session ends. Same contract as minhash_lsh_candidates: the returned
    # frame is already computed; downstream reads checkpointed blocks.
    #
    # shuffle_hash hints on BOTH size joins: neither side of these joins is
    # broadcastable at scale — `inter` is the candidate-pair frame (bounded
    # by cap^2 per posting: Catalyst's post-agg estimate undercounts it and
    # picked BuildLeft BROADCAST of inter on the 1-hot-word skew corpus,
    # collecting ~1 GiB to the driver and dying on maxResultSize; measured
    # round 10), and `sizes` is one row per DOCUMENT (fine at 50k, billions
    # of rows at corpus scale). A shuffled hash join keyed on the doc id is
    # the only shape that survives both ends.
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        (inter.repartition(dp, "id_a") if dp else inter)
        .join(
            (sz_a.repartition(dp, "id_a") if dp else sz_a).hint("shuffle_hash"),
            "id_a",
        )
    )
    out = (out.repartition(dp, "id_b") if dp else out)
    out = (
        out.join(
            (sz_b.repartition(dp, "id_b") if dp else sz_b).hint("shuffle_hash"),
            "id_b",
        )
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out


def contamination_pairs(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: (corpus doc, benchmark doc) pairs sharing
    >= min_overlap distinct k-shingles — the standard pretraining-data check
    that eval-set text did not leak into the corpus.

    Scale shape: eval sets are small by construction, so the benchmark
    shingle set is BROADCAST; the corpus side is one narrow explode joined
    against it — no corpus-wide shuffle happens at all. Only the surviving
    rows (corpus shingles that touch a benchmark shingle — a tiny fraction)
    reach the per-pair count_distinct shuffle."""
    corpus = _exploded_shingles(df, id_col, text_col, k).select(
        "id", _shingle_hash64(F.col("shingle")).alias("h")
    )
    bench = (
        _exploded_shingles(benchmark, bench_id_col, bench_text_col, k)
        .select(F.col("id").alias("bench_id"), _shingle_hash64(F.col("shingle")).alias("h"))
        .distinct()
    )
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("id", "bench_id")
        .agg(F.count_distinct("h").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_overlap)
    )


def contamination_stats(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Per-document contamination fraction vs an eval set: (id_col,
    n_shingles, n_contaminated, contaminated_frac) for EVERY corpus
    document — the GPT-3 Appendix-C style "dirty document" statistic
    (fraction of a doc's distinct k-shingles that appear anywhere in the
    benchmark), where `contamination_pairs` above gives the per-(doc,
    bench-doc) attribution. Callers cut on contaminated_frac (e.g. drop
    > 0.7, review > 0.2).

    Same scale shape as contamination_pairs: benchmark shingles broadcast
    (eval sets are small by construction); the corpus side is one explode
    + per-doc distinct + two groupBy(id)s — every shuffle keyed on doc id
    or a 60-bit hash, never shingle text."""
    corpus = (
        _exploded_shingles(df, id_col, text_col, k)
        .select("id", _shingle_hash64(F.col("shingle")).alias("h"))
        .distinct()
    )
    sizes = corpus.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    bench = (
        _exploded_shingles(benchmark, bench_id_col, bench_text_col, k)
        .select(_shingle_hash64(F.col("shingle")).alias("h"))
        .distinct()
    )
    cont = (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        sizes.join(cont, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0))
                / F.greatest("n_shingles", F.lit(1))
            ).alias("contaminated_frac"),
        )
    )


def _shingle_hash64(col):
    """Deterministic 60-bit shingle hash — delegates to the shared
    `text.md5_60bit` (one definition for every md5-prefix long in the
    pipeline layer)."""
    from .text import md5_60bit

    return md5_60bit(col)


# Affine minhash constants: h_i(x) = (a_i * x + b_i) mod p with
# p = 2^31 - 1 (Mersenne). The 31-bit prime is a deliberate portability
# trade: a, x mod p are both < 2^31, so a*x stays inside exact int64
# arithmetic that BOTH Spark and the DuckDB oracle evaluate identically —
# a 61-bit prime would need a split-multiply mulmod that SQL engines don't
# share. Cost: 60-bit shingle hashes fold to a 31-bit space, so two
# distinct shingles collide with probability ~2^-31 (vs the ~2^-64 bar of
# the other hash paths); a collision perturbs a signature component and
# can inflate a pair's estimated Jaccard by <= 1/num_hashes. Acceptable
# for candidate GENERATION (pairs are exact-verified downstream in the
# dedup pipelines); revisit with a Pandas-UDF uint128 mulmod if minhash
# estimates are ever used as final scores at >1e9 distinct shingles.
_MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures over word shingles.

    h_i(s) = (a_i * (md5_60(s) mod p) + b_i) mod p with fixed seeds — fully
    deterministic, no Date/random at plan time.

    No distinct() on the exploded shingles: min() is duplicate-insensitive,
    so the set-dedup shuffle the Jaccard path needs is pure waste here — the
    whole job is explode → one groupBy(id)."""
    sh = _exploded_shingles(df, id_col, text_col, k).withColumn(
        "x", _shingle_hash64(F.col("shingle")) % F.lit(_MINHASH_PRIME)
    )
    return _minhash_from_x(sh, num_hashes)


def _minhash_aggs(num_hashes: int):
    aggs = []
    for i in range(num_hashes):
        a = 2 * i + 1  # odd multipliers, coprime-ish with p (p is prime, any a<p works)
        b = 104729 * (i + 1) % _MINHASH_PRIME
        aggs.append(
            F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_PRIME)).alias(f"h{i}")
        )
    return aggs


def _minhash_from_x(xrows: DataFrame, num_hashes: int) -> DataFrame:
    sigs = xrows.groupBy("id").agg(*_minhash_aggs(num_hashes))
    return sigs.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def _banded_sig_keys(sigs: DataFrame, num_bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, key) LSH band rows from an (id, sig) frame — the shared
    band construction of minhash_cross_pairs and its from-features sibling
    (one definition so a stored signature bands EXACTLY like a fresh one)."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("key"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")


# Band buckets larger than this are STAR-expanded (each member paired with
# the bucket-min) instead of all-pairs expanded. A cluster of f documents
# whose signatures are (near-)identical — templated pages, mirrors,
# boilerplate that exact dedup does NOT remove because the raw bytes differ
# — collides in EVERY band and would emit O(f^2) candidate pairs on single
# band keys: at f=1e5 that's ~1e10 pair rows landing on a handful of
# reducers. The star keeps O(f) rows and — because downstream dedup runs
# connected components over the verified pairs (graph.duplicate_clusters) —
# reconstructs exactly the same clusters when the star edges verify, which
# they do for genuinely near-identical buckets. Same 1024 convention (and
# the same exact-or-underestimated contract) as DEFAULT_MAX_SHINGLE_DOCS
# and operators/similarity.DEFAULT_MAX_POSTING.
DEFAULT_MAX_BAND_BUCKET = 1024


def minhash_lsh_candidates(
    signatures: DataFrame,
    num_bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """LSH banding: split each signature into bands and emit candidate pairs
    that collide in >=1 band. groupBy (band, key) — sub-quadratic; never a
    cross join.

    The band key is the raw band slice (array of `rows_per_band` longs), not
    a 32-bit rehash of it: the slice is already a fixed small shuffle key
    (8*rows_per_band bytes), it can't introduce collision false-positives,
    and — unlike Spark's Murmur3 `hash()` — the resulting candidate set is
    engine-portable, so the DuckDB oracle reproduces it exactly.

    `max_bucket` (finite BY DEFAULT) is the hot-bucket defense: buckets at or
    under the cap get the exact all-pairs expansion; over-cap buckets emit
    each member paired with the bucket-min id instead (O(f) rows, star
    shape). Pairs whose only collisions are in over-cap buckets are thus
    represented through the bucket-min — exact-or-underestimated, never
    invented — and connected-components dedup downstream rebuilds the same
    clusters. Pass None for the uncapped exact candidate set (vulnerable to
    the single-reducer mega-bucket)."""
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("key"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    if max_bucket is None:
        a = banded.select(F.col("id").alias("id_a"), "band", "key")
        b = banded.select(F.col("id").alias("id_b"), "band", "key")
        return (
            a.join(b, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    # bucket stats (_n, _min) come from a WINDOW over (band, key), not a
    # groupBy + join-back: band keys are near-unique on non-degenerate
    # corpora, so a groupBy gets no map-side reduction and the join-back
    # re-shuffles the full banding volume again — measured 3x slower
    # steady-state at 2M uniform signatures (the simhash twin of this
    # branch: 21-26 s vs 7.3 s). The window is ONE shuffle+sort; `ann` is
    # persisted (lineage kept, so executor loss during the build is
    # recoverable) and consumed by both the pair join and the star branch,
    # then released after the eager checkpoint of the bounded result.
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    w = Window.partitionBy("band", "key")
    ann = (
        banded.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_min", F.min("id").over(w))
        .filter(F.col("_n") > 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    small = ann.filter(F.col("_n") <= max_bucket)
    a = small.select(F.col("id").alias("id_a"), "band", "key")
    b = small.select(F.col("id").alias("id_b"), "band", "key")
    pairs = (
        a.join(b, ["band", "key"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    )
    star = ann.filter((F.col("_n") > max_bucket) & (F.col("id") != F.col("_min"))).select(
        F.col("_min").alias("id_a"), F.col("id").alias("id_b")
    )
    # the candidate set is bounded by construction (cap^2/2 per small
    # bucket, O(f) per starred bucket), so materializing it eagerly is
    # cheap — and it lets ann be unpersisted HERE instead of leaking in
    # the cache manager until the session ends
    out = pairs.unionByName(star).distinct().localCheckpoint(eager=True)
    ann.unpersist()
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Full MinHash+LSH pipeline: candidates from banding, then CANDIDATE-
    DRIVEN exact-Jaccard verification (removes LSH false positives; output =
    true near-dups that LSH surfaced). At scale this is the default near-dup
    path.

    Verification cost is O(candidates), not O(all co-occurring pairs): only
    documents that appear in some candidate pair have their shingle set
    materialized (semi-join), and each candidate pair intersects two arrays
    — the full inverted-index pair join never runs. That's the whole reason
    LSH exists; verifying against a global exact-pairs table would redo the
    quadratic work LSH avoided.

    The shingle explode (the widest intermediate) runs ONCE: both hash
    columns — md5-based x for the signatures, xxhash h for the verify sets —
    are derived from the same persisted explode instead of three separate
    passes over the corpus."""
    from pyspark.storagelevel import StorageLevel

    ex = (
        _exploded_shingles(df, id_col, text_col, k)
        .select(
            "id",
            (_shingle_hash64(F.col("shingle")) % F.lit(_MINHASH_PRIME)).alias("x"),
            F.xxhash64("shingle").alias("h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = _minhash_from_x(ex, num_hashes)
    cands = minhash_lsh_candidates(sigs, num_bands, num_hashes // num_bands, max_band_bucket)
    docs = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # semi-join BEFORE the set-dedup: the distinct's shuffle then moves only
    # candidate documents' shingle rows, not the whole corpus — at scale the
    # candidate set is orders of magnitude smaller than the explode
    sets = (
        ex.select("id", "h")
        .join(docs, "id", "left_semi")
        .distinct()
        .groupBy("id")
        .agg(F.collect_list("h").alias("hs"), F.count(F.lit(1)).alias("sz"))
    )
    a = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    # eager-checkpoint the verified pairs so the persisted shingle explode
    # (the widest intermediate of the whole pipeline) is released here
    # instead of pinning executor storage until the session ends
    # shuffle_hash hints: same rationale as ngram_jaccard_pairs' size joins
    # (measured round 10) — `cands` is a candidate-PAIR frame Catalyst can
    # underestimate into a driver-killing broadcast, and a/b carry the
    # per-doc shingle-hash ARRAYS (doc-count-sized, fat rows) which must
    # never broadcast at corpus scale either; the shuffled hash join keyed
    # on the doc id is the only shape safe from both ends.
    out = (
        cands.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .withColumn("jaccard", inter / (F.col("sz_a") + F.col("sz_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    ex.unpersist()
    return out


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over words: per bit, vote +1/-1 weighted by term count;
    bit set iff the vote is positive. Pure column expressions: tokens ->
    60-bit md5 hash -> per-bit sum via aggregate()."""
    words = F.split(_norm_text(text_col), " ")
    tok = df.select(F.col(id_col).alias("id"), F.explode(words).alias("w"))
    hashed = tok.withColumn("h", _shingle_hash64(F.col("w")))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(60)
        ]
    )
    sig = None
    for i in range(60):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else (sig + bit)
    return votes.select("id", sig.alias("simhash"))


def simhash_band_keys(max_hamming: int = 3, num_chunks: int = 6) -> "list[tuple[int, ...]]":
    """The chunk-combination table index for `simhash_near_pairs`: every
    (num_chunks - max_hamming)-subset of chunk positions. Public so tests
    (and capacity planning) can inspect table count and key width."""
    from itertools import combinations

    need = num_chunks - max_hamming
    if need < 1:
        raise ValueError(
            f"num_chunks ({num_chunks}) must exceed max_hamming ({max_hamming})"
        )
    if 60 % num_chunks != 0:
        raise ValueError(f"num_chunks ({num_chunks}) must divide the 60-bit signature")
    return list(combinations(range(num_chunks), need))


def simhash_banded(
    signatures: DataFrame, max_hamming: int = 3, num_chunks: int = 6
) -> DataFrame:
    """(id, simhash, band, chunk) rows — one row per chunk-combination table.
    `chunk` folds the subset's chunks into one long, so the band keyspace is
    (num_chunks - max_hamming) * (60 / num_chunks) bits wide (30 bits at the
    defaults) — wide enough that expected bucket size stays ~n/2^30 instead
    of the n/2^15 a max_hamming+1-way split would give."""
    width = 60 // num_chunks
    subsets = simhash_band_keys(max_hamming, num_chunks)

    def chunk(i: int):
        return F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit((1 << width) - 1))

    def key(subset: "tuple[int, ...]"):
        k = F.lit(0).cast("long")
        for j, ci in enumerate(subset):
            k = k + F.shiftleft(chunk(ci).cast("long"), j * width)
        return k

    tables = F.array(
        *[
            F.struct(F.lit(t).alias("band"), key(s).alias("chunk"))
            for t, s in enumerate(subsets)
        ]
    )
    return signatures.select("id", "simhash", F.explode(tables).alias("bk")).select(
        "id", "simhash", "bk.band", "bk.chunk"
    )


def simhash_near_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    num_chunks: int = 6,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Banded Hamming near-dup pairs over 60-bit SimHash signatures.

    Chunk-COMBINATION banding (the public Manku/Jain/Das Sarma scheme,
    "Detecting near-duplicates for web crawling", WWW'07): split the
    signature into `num_chunks` chunks; a pair within Hamming distance
    `max_hamming` differs in at most `max_hamming` chunks, so it agrees
    EXACTLY on at least `need = num_chunks - max_hamming` of them — hence on
    every chunk of at least one `need`-subset. One table per `need`-subset
    (C(num_chunks, need) tables), keyed on the subset's chunks folded into
    one long: exact recall, never a cross join. Candidates are verified with
    the exact popcount of the XOR.

    Why combinations and not the simpler max_hamming+1-way split: a 4-way
    split of 60 bits keys buckets on only 15 bits, so expected bucket size
    grows as n/2^15 UNCONDITIONALLY — at 1e9 docs that is ~30k docs per
    bucket per band and ~1e13 candidate pairs. The default here (6 chunks of
    10 bits, C(6,3)=20 tables keyed on 30-bit triples) keeps expected
    buckets at n/2^30 for 5x the banding shuffle volume — the published
    trade, and the one that survives a 100 TB corpus.

    `max_bucket` is the same hot-bucket star defense as
    `minhash_lsh_candidates`: over-cap buckets (genuinely identical-
    signature clusters — those belong to `simhash_duplicate_groups`) emit
    each member against the bucket-min only. Exact-or-underestimated; the
    full clusters are reconstructed by connected components downstream."""
    banded = simhash_banded(signatures, max_hamming, num_chunks)
    if max_bucket is None:
        # eager cut before the triangular self-join: both arms read the
        # SAME banded frame, and without it each arm re-runs the whole
        # upstream signature chain — for phash_near_pairs callers that is
        # the mapInPandas image decode of the entire corpus, twice (r14
        # plan audit). The checkpoint holds (id, simhash, band, chunk)
        # longs only — num_chunks x corpus rows, the same volume the
        # capped branch already persists as `ann`.
        banded = banded.localCheckpoint(eager=True)
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "chunk")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "chunk")
    if max_bucket is None:
        # NO parallelism pins here (r14, measured-and-REJECTED): pinning
        # the self-join arms with repartition(dp, band, chunk) — alone or
        # with a pre-distinct (id_a, id_b) pin — measured image_near_dups
        # 2.05x / 1.15x WORSE (tools/measure_r14_hampin.py): the pinned
        # exchanges block AQE's runtime SMJ->BHJ rewrite and add a 20x-
        # banding-volume shuffle the unpinned plan avoids. The coalesce-
        # starvation fix for the hamming gates lives in
        # fingerprint_overlap_pairs_hamming's matches/aggregate pins.
        cands = (
            a.join(b, ["band", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
            .distinct()
        )
    else:
        # window-based bucket stats, not groupBy + join-back: chunk-triple
        # keys are near-unique on non-degenerate corpora (that is the whole
        # point of 30-bit keys), so the agg gets no map-side reduction and
        # the join-back re-shuffles the full 20x banding volume again.
        # MEASURED at 2M uniform-random signatures, steady-state: 21-26 s
        # (groupBy+join) vs 13.8-22 s (window) vs 7.3 s (window + persisted
        # ann feeding both the pair join and the star branch). min of
        # struct(id, simhash) = lexicographic = the min id with ITS
        # signature — same value as min + min_by, one window expression.
        from pyspark.sql import Window
        from pyspark.storagelevel import StorageLevel

        w = Window.partitionBy("band", "chunk")
        ann = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_m", F.min(F.struct("id", "simhash")).over(w))
            .filter(F.col("_n") > 1)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        small = ann.filter(F.col("_n") <= max_bucket)
        sa = small.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "chunk")
        sb = small.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "chunk")
        pairs = (
            sa.join(sb, ["band", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
        )
        star = ann.filter((F.col("_n") > max_bucket) & (F.col("id") != F.col("_m.id"))).select(
            F.col("_m.id").alias("id_a"),
            F.col("id").alias("id_b"),
            F.col("_m.simhash").alias("sig_a"),
            F.col("simhash").alias("sig_b"),
        )
        hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        # verification is folded in BEFORE the eager checkpoint so what
        # materializes is the verified pair list (bounded output), after
        # which ann is released instead of leaking in the cache manager
        out = (
            pairs.unionByName(star)
            .distinct()
            .withColumn("hamming", hamming.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            .localCheckpoint(eager=True)
        )
        ann.unpersist()
        return out
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_duplicate_groups(signatures: DataFrame, max_ids: int | None = 1024) -> DataFrame:
    """Documents sharing an identical simhash — the bucket form; banded
    Hamming-distance variants (`simhash_near_pairs`) join on chunk-
    combination keys of the signature. Identical-signature mega-clusters
    belong HERE — the near-pairs path star-caps them — which is exactly why
    `doc_ids` is bounded: `dup_count` stays exact, the list holds the
    `max_ids` smallest ids (window-ranked, spillable; collect_list buffers
    don't spill). Pass None for full lists."""
    if max_ids is None:
        return (
            signatures.groupBy("simhash")
            .agg(
                F.count(F.lit(1)).alias("dup_count"),
                F.sort_array(F.collect_list("id")).alias("doc_ids"),
            )
            .filter(F.col("dup_count") > 1)
        )
    from pyspark.sql import Window

    w = Window.partitionBy("simhash")
    ranked = signatures.select(
        "simhash",
        "id",
        F.count(F.lit(1)).over(w).alias("dup_count"),
        F.row_number().over(w.orderBy("id")).alias("_rn"),
    )
    return (
        ranked.filter((F.col("dup_count") > 1) & (F.col("_rn") <= max_ids))
        .groupBy("simhash", "dup_count")
        .agg(F.sort_array(F.collect_list("id")).alias("doc_ids"))
        .select("simhash", "dup_count", "doc_ids")
    )


def minhash_cross_pairs(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
    max_band_bucket: "int | None" = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Cross-corpus MinHash near-dup: (new_id, hist_id, jaccard) pairs
    between a NEW batch and the existing HISTORY — the incremental
    fuzzy-dedup step (Bloom-screened incr_curate covers EXACT dups; this
    is its near-dup sibling). Never pairs new x new or hist x hist, so
    re-ingesting a crawl never re-pairs history against itself; ids may
    overlap between the two frames (independent corpora).

    Same construction as minhash_dedup_pairs: banded signatures, then
    CANDIDATE-DRIVEN exact-Jaccard verification. Candidates come from a
    bipartite (band, key) join; `max_band_bucket` caps the HISTORY side of
    each bucket — new rows colliding in an over-cap history bucket pair
    with that bucket's min hist id only (O(new-members) star rows), so a
    boilerplate mega-bucket still FLAGS every colliding new doc while the
    specific history partner degrades to the representative
    (exact-or-representative, never invented — the
    minhash_lsh_candidates contract, bipartite form)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    rows_per_band = num_hashes // num_bands

    def prep(df: DataFrame):
        ex = (
            _exploded_shingles(df, id_col, text_col, k)
            .select(
                "id",
                (_shingle_hash64(F.col("shingle")) % F.lit(_MINHASH_PRIME)).alias("x"),
                F.xxhash64("shingle").alias("h"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sigs = _minhash_from_x(ex, num_hashes)
        return ex, _banded_sig_keys(sigs, num_bands, rows_per_band)

    ex_n, band_n = prep(new_df)
    ex_h, band_h = prep(hist_df)
    bn = band_n.select(F.col("id").alias("new_id"), "band", "key")
    if max_band_bucket is None:
        bh = band_h.select(F.col("id").alias("hist_id"), "band", "key")
        cands = bn.join(bh, ["band", "key"]).select("new_id", "hist_id").distinct()
    else:
        w = Window.partitionBy("band", "key")
        bh = (
            band_h.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_min", F.min("id").over(w))
            .select(F.col("id").alias("hist_id"), "band", "key", "_n", "_min")
        )
        small = bn.join(bh.filter(F.col("_n") <= max_band_bucket), ["band", "key"]).select(
            "new_id", "hist_id"
        )
        star = bn.join(
            bh.filter(F.col("_n") > max_band_bucket)
            .select("band", "key", F.col("_min").alias("hist_id"))
            .distinct(),
            ["band", "key"],
        ).select("new_id", "hist_id")
        cands = small.unionByName(star).distinct()

    def sets(ex: DataFrame, ids: DataFrame, name: str):
        return (
            ex.select("id", "h")
            .join(ids, "id", "left_semi")
            .distinct()
            .groupBy("id")
            .agg(F.collect_list("h").alias(f"hs_{name}"), F.count(F.lit(1)).alias(f"sz_{name}"))
        )

    sn = sets(ex_n, cands.select(F.col("new_id").alias("id")).distinct(), "n").withColumnRenamed(
        "id", "new_id"
    )
    sh = sets(ex_h, cands.select(F.col("hist_id").alias("id")).distinct(), "h").withColumnRenamed(
        "id", "hist_id"
    )
    inter = F.size(F.array_intersect("hs_n", "hs_h"))
    # shuffle_hash: the bipartite form of minhash_dedup_pairs' verification
    # join — same scale rationale (pair frame x array-carrying doc frames)
    out = (
        cands.join(sn.hint("shuffle_hash"), "new_id")
        .join(sh.hint("shuffle_hash"), "hist_id")
        .withColumn("jaccard", inter / (F.col("sz_n") + F.col("sz_h") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", "jaccard")
        .localCheckpoint(eager=True)
    )
    ex_n.unpersist()
    ex_h.unpersist()
    return out


def minhash_doc_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig, hs): per-document MinHash signature (array<long>, the
    minhash_cross_pairs construction verbatim) + DISTINCT xxhash64 shingle
    set (array<long>, the exact-Jaccard verification evidence). This is
    the row a near-dup HISTORY table stores instead of raw text — compute
    once on arrival, band and verify forever after without touching the
    document again (the fingerprint-table-not-text contract the multimodal
    stream already follows). Eagerly localCheckpoint'ed: every caller
    feeds it to >=2 consumers (banding + verification, or pair join +
    history append), and the frame is id + num_hashes longs + one
    distinct-shingle array — the guide-§8 lightweight-proxy shape."""
    from pyspark.storagelevel import StorageLevel

    ex = (
        _exploded_shingles(df, id_col, text_col, k)
        .select(
            "id",
            (_shingle_hash64(F.col("shingle")) % F.lit(_MINHASH_PRIME)).alias("x"),
            F.xxhash64("shingle").alias("h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = _minhash_from_x(ex, num_hashes)
    hsets = (
        ex.select("id", "h")
        .distinct()
        .groupBy("id")
        .agg(F.collect_list("h").alias("hs"))
    )
    out = sigs.join(hsets, "id").localCheckpoint(eager=True)
    ex.unpersist()
    return out


def minhash_cross_pairs_from_features(
    new_feats: DataFrame,
    hist_feats: DataFrame,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
    max_band_bucket: "int | None" = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """minhash_cross_pairs over PRECOMPUTED (id, sig, hs) feature frames
    (minhash_doc_features): identical candidate set (the band keys are the
    same sig slices via _banded_sig_keys), identical exact-Jaccard
    verification (hs is the same distinct xxhash64 set; sz == size(hs)),
    so the output is row-for-row the text-based function's — pinned by
    test. The point is the streaming/incremental cost model: the history
    side never re-shingles, so a batch pays O(batch + band-matched
    history) instead of O(full history text) — the per-batch shape that
    survives a 100 TB history."""
    from pyspark.sql import Window

    rows_per_band = num_hashes // num_bands
    bn = _banded_sig_keys(new_feats, num_bands, rows_per_band).select(
        F.col("id").alias("new_id"), "band", "key"
    )
    band_h = _banded_sig_keys(hist_feats, num_bands, rows_per_band)
    if max_band_bucket is None:
        bh = band_h.select(F.col("id").alias("hist_id"), "band", "key")
        cands = bn.join(bh, ["band", "key"]).select("new_id", "hist_id").distinct()
    else:
        w = Window.partitionBy("band", "key")
        bh = (
            band_h.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_min", F.min("id").over(w))
            .select(F.col("id").alias("hist_id"), "band", "key", "_n", "_min")
        )
        small = bn.join(
            bh.filter(F.col("_n") <= max_band_bucket), ["band", "key"]
        ).select("new_id", "hist_id")
        star = bn.join(
            bh.filter(F.col("_n") > max_band_bucket)
            .select("band", "key", F.col("_min").alias("hist_id"))
            .distinct(),
            ["band", "key"],
        ).select("new_id", "hist_id")
        cands = small.unionByName(star).distinct()
    sn = (
        new_feats.join(
            cands.select(F.col("new_id").alias("id")).distinct(), "id", "left_semi"
        )
        .select(
            F.col("id").alias("new_id"),
            F.col("hs").alias("hs_n"),
            F.size("hs").alias("sz_n"),
        )
    )
    sh = (
        hist_feats.join(
            cands.select(F.col("hist_id").alias("id")).distinct(), "id", "left_semi"
        )
        .select(
            F.col("id").alias("hist_id"),
            F.col("hs").alias("hs_h"),
            F.size("hs").alias("sz_h"),
        )
    )
    inter = F.size(F.array_intersect("hs_n", "hs_h"))
    # shuffle_hash: the minhash_cross_pairs verification-join rationale
    return (
        cands.join(sn.hint("shuffle_hash"), "new_id")
        .join(sh.hint("shuffle_hash"), "hist_id")
        .withColumn("jaccard", inter / (F.col("sz_n") + F.col("sz_h") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", "jaccard")
    )


def minhash_cross_pairs_stream(
    new_stream: DataFrame,
    initial_history: DataFrame,
    work_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 600,
    k: int = DEFAULT_SHINGLE,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
    max_band_bucket: "int | None" = DEFAULT_MAX_BAND_BUCKET,
    initial_history_features: "DataFrame | None" = None,
) -> DataFrame:
    """PHYSICALLY-STREAMING incremental near-dup: execute
    minhash_cross_pairs per micro-batch of `new_stream` (foreachBatch,
    trigger=availableNow) against a history that STARTS as
    `initial_history` and grows by each processed batch — so a doc in
    batch 2 pairs against both the original corpus and everything that
    arrived in batch 1. This is the op a 100 TB ingest actually runs: the
    history lives as an append-only parquet table of PRECOMPUTED
    (id, sig, hs) feature rows under `work_dir` (minhash_doc_features —
    signature + distinct shingle-hash set; no driver-side state, no
    growing lineage; each batch reads the table fresh), candidate pairs
    append to a second parquet table, and the final result is one batch
    read of that table. Storing features instead of raw text is the
    load-bearing scale choice (r14): a text-table history re-shingled and
    re-signed EVERY history document on EVERY batch — O(full history
    text) per batch — while the feature table makes a batch cost
    O(batch + band-matched history), the fingerprint-table-not-text
    contract the multimodal stream (fingerprint_cross_pairs_stream) was
    born with. Results are identical
    (minhash_cross_pairs_from_features docstring, pinned by test).

    Semantics (deterministic given ordered input files): with batches
    B1..Bk arriving in order over initial history H0,
        result = ∪_i  minhash_cross_pairs(Bi, H0 ∪ B1 ∪ … ∪ B(i-1)).
    Never new×new within one batch and never hist×hist. The checkpoint
    under work_dir/ckpt makes replay after a crash skip already-committed
    batches (foreachBatch delivers at-least-once per epoch), and BOTH
    sinks are idempotent per epoch: every write lands in a `_batch`
    partition keyed by the epoch id under DYNAMIC partition overwrite, so
    a replayed epoch replaces its own partition instead of appending a
    duplicate, a killed-and-resumed run keeps the history partitions of
    already-committed batches (the initial history lives in partition -1
    and re-overwrites only itself on restart), and a half-written epoch's
    own history partition is excluded from its pair join on replay (a
    batch never sees itself, even mid-crash). Kill-and-resume therefore
    equals the uninterrupted run exactly — proven by
    test_minhash_cross_pairs_stream_kill_and_resume.

    Raises if the stream never made progress or missed the deadline (the
    execute_stream_to_batch discipline: a silently-unexecuted stream can't
    masquerade as a green gate). Returns the accumulated
    (new_id, hist_id, jaccard) DataFrame."""
    import os

    spark = new_stream.sparkSession
    hist_dir = os.path.join(work_dir, "history")
    pairs_dir = os.path.join(work_dir, "pairs")
    # `initial_history_features` (optional, r14): a precomputed
    # minhash_doc_features(initial_history) frame — the
    # train_quality_classifier `feats` convention. Callers that have
    # other setup jobs (landing-file writes) can build H0's features
    # concurrently (guide §2.6) and hand the materialized frame in; the
    # write below is then a cached scan. Identical rows either way
    # (minhash_doc_features is deterministic) — and when features are
    # supplied, `initial_history` itself is NOT read (r15, ADVICE): the
    # caller owns the consistency of frame/k, so the shape that IS
    # checkable is checked here — (id, sig, hs) schema with sig holding
    # exactly num_hashes entries — before anything silently diverges.
    if initial_history_features is not None:
        cols = set(initial_history_features.columns)
        if not {"id", "sig", "hs"} <= cols:
            raise ValueError(
                "initial_history_features must be a minhash_doc_features frame "
                f"with columns id/sig/hs, got {sorted(cols)}"
            )
        probe = initial_history_features.select(F.size("sig").alias("n")).head(1)
        if probe and probe[0]["n"] != num_hashes:
            raise ValueError(
                f"initial_history_features sig length {probe[0]['n']} != "
                f"num_hashes={num_hashes} — features were built with a "
                "different signature shape than this stream pairs with"
            )
    h0 = (
        initial_history_features
        if initial_history_features is not None
        else minhash_doc_features(initial_history, id_col, text_col, k, num_hashes)
    )
    (
        h0.withColumn("_batch", F.lit(-1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(hist_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        hist = (
            sess.read.parquet(hist_dir)
            .filter(F.col("_batch") != batch_id)  # crash-replay: never self
            .select("id", "sig", "hs")
        )
        # feature the batch ONCE (localCheckpoint inside): the pair join
        # and the history append both read this frame
        feats = minhash_doc_features(batch_df, id_col, text_col, k, num_hashes)
        pairs = minhash_cross_pairs_from_features(
            feats,
            hist,
            num_hashes=num_hashes,
            num_bands=num_bands,
            threshold=threshold,
            max_band_bucket=max_band_bucket,
        )
        # the pairs and history sink writes overlap (r14, guide §2.6):
        # two tiny dynamic-overwrite jobs whose scheduling floors
        # dominated the batch. "A batch never sees itself" does NOT
        # depend on their order — `hist`'s file listing was snapshotted
        # when sess.read.parquet ran above (before either write starts),
        # and the `_batch != batch_id` filter excludes this epoch's
        # history partition on crash replay regardless of which write
        # committed first (the exact states the kill-and-resume test
        # already exercises under at-least-once delivery).
        from ._overlap import overlap_jobs

        overlap_jobs(
            lambda: (
                pairs.withColumn("_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch")
                .parquet(pairs_dir)
            ),
            lambda: (
                feats.withColumn("_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch")
                .parquet(hist_dir)
            ),
        )

    q = (
        new_stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise RuntimeError(f"cross-dedup stream did not finish within {timeout_s}s")
    finally:
        if q.isActive:
            q.stop()
    if q.lastProgress is None:
        raise RuntimeError("cross-dedup stream terminated without making progress")
    try:
        return spark.read.parquet(pairs_dir).drop("_batch")
    except Exception:  # noqa: BLE001 — every batch paired nothing: a
        # zero-row partitioned write leaves no parquet footer to infer
        # from, so rebuild the (new_id, hist_id, jaccard) schema from an
        # analysis-only probe plan (no job runs) and return it empty
        probe = minhash_cross_pairs(
            initial_history, initial_history,
            id_col=id_col, text_col=text_col, k=k, num_hashes=num_hashes,
            num_bands=num_bands, threshold=threshold,
            max_band_bucket=max_band_bucket,
        )
        return spark.createDataFrame([], probe.schema)
