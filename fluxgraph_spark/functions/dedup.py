"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB):
* Exact dedup hashes the text ONCE map-side then groups on the 60-bit
  hash — the shuffle carries (hash, id), never the document bodies.
* MinHash: one explode over shingles, ``k`` hash expressions per row
  (JVM codegen), partial min-agg map-side → signature table is
  |docs| × k longs.  LSH banding buckets signatures; candidate pairs come
  from an equi-join on (band_idx, band_hash) — never an all-pairs product.
* SimHash: explode tokens, per-bit sign sums via groupBy — one shuffle.
* n-gram Jaccard verifies candidate pairs only (post-LSH or blocked).
* All hashes are md5-derived (:func:`~fluxgraph_spark.functions.text.stable_hash64`)
  so a DuckDB oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..local_relation import bounded_arrow, integral, local_dataframe
from .text import TOKEN_RE, let_, stable_hash64


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def _bytes_conf(spark, key: str, default: int) -> int:
    """A size conf as bytes — accepts plain ints, the '<n>b' canonical
    form, and unit suffixes (k/m/g, with or without a trailing 'b')."""
    v = spark.conf.get(key, None)
    if v is None:
        return default
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def _scan_split_estimate(df: DataFrame) -> "int | None":
    """Estimate the file-scan partition count with Spark's OWN split
    math (FilePartition.maxSplitBytes: files chop into splits of
    min(maxPartitionBytes, max(openCostInBytes, total/parallelism))
    and splits pack with an openCost pad) — WITHOUT touching ``df.rdd``,
    whose DataFrame->RDD lineage translation is pure overhead on the
    thousands-of-splits scans this probe is a no-op for (VERDICT r11).
    Returns None when the plan isn't a stat-able file scan (in-memory
    fixtures, streams, non-local filesystems) — callers treat None as
    "leave the partitioning alone"."""
    import os as _os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file plans
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            sizes.append(_os.path.getsize(u.path))
        except OSError:
            return None
    spark = df.sparkSession
    max_part = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    par = spark.sparkContext.defaultParallelism
    padded = sum(sizes) + open_cost * len(sizes)
    max_split = max(1, min(max_part, max(open_cost, padded // max(par, 1))))
    return max(1, -(-padded // max_split))  # ceil


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to defaultParallelism ONLY if the input scan is
    under-partitioned (e.g. one small parquet file feeding 32 cores).
    At 100 TB the scan already has thousands of splits and this is a
    no-op — the expensive narrow maps stay shuffle-free.

    The probe is Spark's file-split math over ``df.inputFiles()``
    (:func:`_scan_split_estimate`) — metadata only, no ``df.rdd``
    lineage translation, no job.  Non-file inputs (in-memory test
    fixtures, already-shuffled frames) are left alone: at scale every
    caller reads files, and a tiny local relation gains nothing from
    a 32-way exchange."""
    est = _scan_split_estimate(df)
    if est is None:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if est < p:
        return df.repartition(p)
    return df


def is_checkpoint_root(df: DataFrame) -> bool:
    """True when the frame IS a materialized localCheckpoint (its
    analyzed plan is a bare LogicalRDD) — operators that checkpoint
    their input against AQE twin-subtree recompute skip the copy."""
    try:
        return (
            df._jdf.queryExecution().analyzed().getClass().getName()
            .endswith("LogicalRDD")
        )
    except Exception:  # noqa: BLE001
        return False


def free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind an eager
    ``localCheckpoint`` whose LAST consumer has already run (ADVICE
    r12: repeated calls in a long-lived session — the DedupIndex
    streaming pattern — otherwise accumulate checkpoint blocks until
    the ContextCleaner happens to GC the Python-side reference).

    The checkpointed frame's analyzed plan is a ``LogicalRDD`` holding
    the materialized internal RDD; unpersisting THAT rdd frees the
    blocks immediately.  After this call the frame is unreadable
    (local checkpoints cannot recompute), so only call it when every
    action over the frame has completed and the surviving result is
    itself materialized.  Best-effort: any plan that isn't a bare
    LogicalRDD is left to the ContextCleaner."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — not a checkpoint root; GC handles it
        pass


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs, min_doc_id),
    only groups with n_docs > 1."""
    h = stable_hash64(F.col(text_col)).alias("text_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def dedupe_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per identical text (deterministic)."""
    w = W.partitionBy(stable_hash64(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def _grams_expr(text_col: str, n: int) -> Column:
    """All word n-grams of the lowercased text as one array column.
    Documents shorter than n tokens contribute their full token string
    as one gram (so they still participate)."""
    def grams_of(toks: Column) -> Column:
        # toks is a let_-bound variable (see text.let_): the per-gram
        # slice reads it O(1) instead of re-running the tokenizer per
        # gram (which costs O(tokens x doc_len) per row — this function
        # feeds every MinHash/LSH path, so that term dominated them all)
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))

    return let_(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0)),
        grams_of,
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams of the lowercased text.
    Documents shorter than n tokens contribute their full token string as
    one shingle (so they still participate)."""
    grams = _grams_expr(text_col, n)
    # a small parquet lands in ONE input split — spread the regex/explode
    # work across cores before the expensive expressions run (at scale the
    # many-file input makes this a near-no-op hash exchange)
    df = spread(df)
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def shingle_array_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles ARRAY<string>) — the per-ROW array twin of
    :func:`shingle_table`: the same distinct nonempty grams, never
    exploded.  Per input row, ``explode(shingles)`` here equals that
    row's :func:`shingle_table` rows exactly; with unique ids the two
    forms are interchangeable (callers with duplicate ids must group the
    arrays per id, as :func:`minhash_lsh_dedup_reproducible` does).
    Rows whose gram set is empty are dropped, mirroring the exploded
    form producing no rows for them."""
    grams = _grams_expr(text_col, n)
    df = spread(df)
    return df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.array_distinct(grams), lambda g: g.isNotNull() & (g != F.lit(""))
        ).alias("shingles"),
    ).where(F.size("shingles") > 0)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16, hash_fn=None
) -> DataFrame:
    """(id, mh_0..mh_{k-1}): min over shingles of seeded hashes.
    One explode already done upstream; k expressions stay in codegen and
    the min-agg combines map-side.

    ``hash_fn(col, seed) -> Column`` defaults to the md5-derived
    :func:`stable_hash64` (DuckDB-reproducible).  The scale path should
    pass ``fast_hash`` (JVM xxhash64 — no string md5 per component)."""
    if hash_fn is None:
        hash_fn = lambda c, i: stable_hash64(F.concat(F.lit(f"s{i}:"), c))
    aggs = [
        F.min(hash_fn(F.col("shingle"), i)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("id").agg(*aggs)


def fast_hash(col: Column, seed: int) -> Column:
    """Seeded xxhash64 — whole-stage-codegen, no md5 strings; for the LSH
    scale path where cross-engine reproducibility is not required."""
    return F.xxhash64(col, F.lit(seed))


def band_table(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, bucket) LSH band fingerprints of a signature table —
    the joinable dedup index.  Persist THIS per corpus snapshot and
    incremental batches join against it without re-pairing the corpus
    (see dedupe_incremental)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("bucket"),
            )
        )
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", "bb.band", "bb.bucket")


def pairs_from_bands(
    banded: DataFrame,
    max_bucket_size: "int | None" = None,
    max_candidates_per_doc: "int | None" = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one band bucket of
    an (id, band, bucket) band table.  Equi-join on (band, bucket) — the
    only shuffle.  A PERSISTED band index (sources/bucketed.py
    ``DedupIndex``) bucketed by (band, bucket) feeds it directly: the
    self-join and the hot-bucket stats groupBy then run shuffle-free.
    The table is consumed on both join sides, so callers pass a
    materialized one (under AQE each join child otherwise recomputes
    the whole shingle -> minhash -> banding lineage).

    Hot-bucket skew guard (``max_bucket_size``): a bucket of m members
    yields m*(m-1)/2 pairs in ONE reducer — at corpus scale a boilerplate
    cluster of 100k near-identical pages turns a band join into a 5e9-row
    single task that AQE's skew split cannot save (splitting the bucket's
    rows still re-pairs them).  With a cap set, buckets larger than the
    cap fall back to STAR pairs (every member against the bucket's min
    id): O(m) rows, same transitive connectivity — so near-dup
    clustering (connected components over the pairs) is unchanged, while
    direct pair listings lose only intra-bucket pairs that the remaining
    bands or the verify step would re-find.  Default None = exact
    all-pairs behavior (oracle-replayable).

    Per-document budget (``max_candidates_per_doc``): candidates rank
    per side by shared-band count DESC then partner id ASC, and a pair
    survives if it is within budget on EITHER side (see
    :func:`minhash_lsh_dedup_reproducible`).  The two bounds are
    exclusive."""
    if max_bucket_size is not None and max_candidates_per_doc is not None:
        raise ValueError("max_bucket_size and max_candidates_per_doc are exclusive")
    star = None
    if max_bucket_size is not None:
        stats = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__n"), F.min("id").alias("__rep")
        )
        banded = banded.join(stats, ["band", "bucket"])
        # oversized buckets: member <-> representative star, linear in m
        star = (
            banded.where(
                (F.col("__n") > max_bucket_size) & (F.col("id") != F.col("__rep"))
            )
            .select(F.col("__rep").alias("id_a"), F.col("id").alias("id_b"))
        )
        banded = banded.where(F.col("__n") <= max_bucket_size).select(
            "id", "band", "bucket"
        )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if max_candidates_per_doc is None:
        if star is not None:
            pairs = pairs.unionByName(star)
        return pairs.dropDuplicates()
    ev = (
        # Key the aggregation's exchange by id_a ALONE: hash(id_a)
        # still clusters (id_a, id_b) for the count, and the first
        # budget window (partitionBy id_a) then reuses the SAME
        # exchange — the evidence table crosses the wire twice
        # (id_a, then id_b for the second window) instead of three
        # times.  Measured 3.47 -> 2.06 s on the sf0.1 candidate
        # stream, decision-identical survivor set.
        pairs.repartition("id_a")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n_ev"))
    )
    w_a = W.partitionBy("id_a").orderBy(F.desc("__n_ev"), F.asc("id_b"))
    w_b = W.partitionBy("id_b").orderBy(F.desc("__n_ev"), F.asc("id_a"))
    return (
        ev.withColumn("__ra", F.row_number().over(w_a))
        .withColumn("__rb", F.row_number().over(w_b))
        .where(
            (F.col("__ra") <= max_candidates_per_doc)
            | (F.col("__rb") <= max_candidates_per_doc)
        )
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / blocked pairs)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    shingles: DataFrame,
    block: DataFrame | None = None,
    threshold: float = 0.0,
    broadcast_block: "bool | None" = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingles via a self-join on shingle.

    |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|.  ``block`` (optional
    (id_a, id_b) pairs) restricts the comparison set — at scale ALWAYS
    pass LSH candidates here; the unblocked form is for small oracles.

    With a block the intersection is computed PER CANDIDATE PAIR and
    ARRAY-NATIVELY (the containment_pairs shape, VERDICT r7 item 5):
    the shingle table is semi-joined down to candidate ids, each
    candidate doc's distinct shingles collect into ONE array row, the
    pair list joins to two array rows, and ``size(array_intersect)``
    counts the overlap — one shuffled row per candidate pair per side
    instead of one per (pair, left-side shingle), and |A| / |B| fall
    out of the array sizes with no extra joins.  Bit-identical to the
    exploded two-join form (shingle tables are per-doc distinct).  The
    all-pairs shingle self-join never happens, so a 100 TB corpus
    verifies in O(candidates), not O(corpus²).

    ``broadcast_block``: hint the block/id joins as broadcasts.  Default
    None probes ``block.count()`` — but ONLY when the block is cached
    (as the pipeline entry points ensure); an uncached block is not
    re-executed just to size it (the banding join is the expensive
    stage) and the strategy is left to AQE.  Candidate lists track
    near-dup density and can be too big to broadcast at corpus scale,
    hence the 1M-pair cutoff."""
    return _jaccard_pairs(shingles, block, threshold, broadcast_block)[0]


def _jaccard_pairs(
    shingles: DataFrame,
    block: DataFrame | None,
    threshold: float,
    broadcast_block: "bool | None",
) -> "tuple[DataFrame, DataFrame | None]":
    """:func:`jaccard_pairs` and the eager checkpoint its blocked verify
    escapes through the lazy result (None unblocked), for callers that
    free it once that result is materialized."""
    if block is None:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = shingles.alias("a")
        b = shingles.alias("b")
        out = (
            a.join(b, F.col("a.shingle") == F.col("b.shingle"))
            .where(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_inter"))
            .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
            .select(
                "id_a", "id_b",
                F.round(
                    F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
                ).alias("jaccard"),
            )
        )
        if threshold > 0:
            out = out.where(F.col("jaccard") >= threshold)
        return out, None
    if broadcast_block is None:
        broadcast_block = block.is_cached and block.count() <= 1_000_000
    bcast = F.broadcast if broadcast_block else (lambda d: d)
    ids = (
        block.select(F.col("id_a").alias("id"))
        .unionByName(block.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # candidate cut: the big shingle table is never shuffled for the
    # verify when the candidate set broadcasts
    sh = shingles.join(bcast(ids), "id", "left_semi")
    arrs = sh.groupBy("id").agg(F.collect_set("shingle").alias("shingles"))
    # arrs feeds BOTH sides of the pair join — materialize it once
    # or the semi-join + collect_set shuffle runs twice (measured
    # 3.5s -> 2.1s on the d_lsh_budget verify at sf0.1; the saving
    # is the whole second pass over the candidate shingles at
    # scale).  Escapes through the lazy result — blocks freed by
    # the caller or by the ContextCleaner with the result's lineage.
    arrs = arrs.localCheckpoint(eager=True)
    return _jaccard_pairs_from_arrays(arrs, block, threshold, broadcast_block), arrs


def containment_pairs(
    shingles: DataFrame,
    block: DataFrame | None = None,
    threshold: float = 0.0,
    rare_df_max: "int | None" = None,
    max_candidates_per_doc: "int | None" = None,
) -> DataFrame:
    """Asymmetric n-gram containment: |A∩B| / min(|A|, |B|) — near 1
    when a short document is quoted or embedded inside a long one,
    exactly the duplication symmetric Jaccard scores LOW (the union is
    dominated by the long side), so MinHash-banded dedup misses it.
    The standard excerpt/quote/boilerplate-page detector for a training
    corpus.

    Candidates: an explicit ``block`` (id_a, id_b) when given; else,
    with ``rare_df_max``, pairs sharing at least one RARE shingle
    (document frequency <= rare_df_max).  Rarity blocking fits
    containment where MinHash does not: an embedded excerpt shares ALL
    its shingles with its container, so any of its rare shingles links
    the pair, while boilerplate-frequency shingles never form pairs —
    candidate count is bounded by sum over rare shingles of df², with
    df capped.  Unblocked+uncapped is all-pairs: small oracles only.

    Scale shape: the shingle table is persisted once (four consumers —
    df counts, the blocking join, and both intersection sides — would
    otherwise re-run the corpus explode each), and the intersection is
    ARRAY-NATIVE: each doc's distinct shingles collect into one array
    row, candidates join to two array rows, and ``array_intersect``
    counts the overlap — one shuffled row per candidate pair instead of
    one per (pair, left-side shingle).  Output is bit-identical to the
    exploded two-join form (same distinct sets, same counts).

    ``max_candidates_per_doc`` bounds the per-document candidate list
    when a doc shares rare shingles with very many partners (near-dup
    families make every family shingle "rare per copy" under a df cap
    that the family size exceeds): candidates rank per side by shared
    rare-shingle evidence DESC then partner id ASC, and a pair survives
    if it is within budget on EITHER side (union keeps recall: the
    short quoted side ranks its container highly even when the
    container is popular).  Deterministic, and decision-identical
    whenever no document exceeds the budget — the detector's oracle
    stays exact where the cap doesn't bind (pytest-pinned).
    """
    # Cache ownership: persist() on an already-cached frame is a no-op,
    # so only release the cache on exit if THIS call created it — a
    # caller who cached the shingle table for reuse across calls (e.g.
    # containment_pairs then jaccard_pairs on the same table) keeps it.
    caller_cached = shingles.is_cached
    shingles = shingles.persist()
    if block is None and rare_df_max is not None:
        rare = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= rare_df_max)
            .select("shingle")
        )
        sh_r = shingles.join(rare, "shingle", "left_semi")
        cand = (
            sh_r.alias("a")
            .join(sh_r.alias("b"), "shingle")
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        if max_candidates_per_doc is not None:
            # share the aggregation exchange with the first budget
            # window (see minhash_lsh_dedup_reproducible): hash(id_a)
            # clusters (id_a, id_b) for the count AND satisfies the
            # id_a window's distribution, saving one full pass of the
            # evidence table over the wire
            cand = cand.repartition("id_a")
        cand = cand.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("__n_ev")
        )
        if max_candidates_per_doc is not None:
            w_a = W.partitionBy("id_a").orderBy(
                F.desc("__n_ev"), F.asc("id_b")
            )
            w_b = W.partitionBy("id_b").orderBy(
                F.desc("__n_ev"), F.asc("id_a")
            )
            cand = (
                cand.withColumn("__ra", F.row_number().over(w_a))
                .withColumn("__rb", F.row_number().over(w_b))
                .where(
                    (F.col("__ra") <= max_candidates_per_doc)
                    | (F.col("__rb") <= max_candidates_per_doc)
                )
            )
        block = cand.select("id_a", "id_b")
    arrs = None
    if block is not None:
        arrs = shingles.groupBy("id").agg(
            F.collect_set("shingle").alias("__arr")
        )
        # both sides of the pair join read arrs — one materialization
        # instead of two collect_set shuffles (see jaccard_pairs)
        arrs = arrs.localCheckpoint(eager=True)
        out = (
            block.join(
                arrs.select(F.col("id").alias("id_a"), F.col("__arr").alias("__a")),
                "id_a",
            )
            .join(
                arrs.select(F.col("id").alias("id_b"), F.col("__arr").alias("__b")),
                "id_b",
            )
            .select(
                "id_a", "id_b",
                F.round(
                    F.size(F.array_intersect("__a", "__b"))
                    / F.least(F.size("__a"), F.size("__b")),
                    6,
                ).alias("containment"),
            )
        )
    else:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = shingles.alias("a")
        b = shingles.alias("b")
        inter = (
            a.join(b, F.col("a.shingle") == F.col("b.shingle"))
            .where(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_inter"))
        )
        out = (
            inter.join(
                sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"),
                "id_a",
            )
            .join(
                sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"),
                "id_b",
            )
            .select(
                "id_a", "id_b",
                F.round(
                    F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 6
                ).alias("containment"),
            )
        )
    if threshold > 0:
        out = out.where(F.col("containment") >= threshold)
    # Materialize the (candidate-bounded) pair table and cut its
    # lineage, then release the shingle cache NOW — repeated calls in a
    # long-lived session would otherwise accumulate cached corpus
    # explodes until executor storage evicts them (the corpus_dedupe
    # pattern below).  A cache the caller created is theirs to release.
    out = out.localCheckpoint(eager=True)
    if arrs is not None:
        free_local_checkpoint(arrs)  # out is materialized; arrs is dead
    if not caller_cached:
        shingles.unpersist()
    return out


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles ARRAY<bigint>) — distinct HASHED word n-grams per
    document as an array column.  A narrow map (no explode, no shuffle):
    the array-native twin of :func:`shingle_table` for pipelines that
    keep per-document shingle sets (LSH verify via array_intersect).

    Shingles are xxhash64-folded token-hash windows, never materialized
    as n-gram strings: tokens hash once, each window folds n int64s.
    Set semantics (distinct / intersect / Jaccard) are preserved up to
    64-bit hash collisions, and every op is fixed-width integer work —
    ~4× faster than building + deduping n-gram strings, and the shuffle
    (when one happens downstream) carries 8-byte values, not text."""
    grams = F.expr(
        f"""transform(
          sequence(1, greatest(size(__th) - {n - 1}, 1)),
          i -> aggregate(slice(__th, i, {n}), cast(0 as bigint),
                         (acc, h) -> xxhash64(acc, h)))"""
    )
    return (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.expr(
                f"transform(filter(split(lower({text_col}), '\\\\s+'), t -> t != ''),"
                " t -> xxhash64(t))"
            ).alias("__th"),
        )
        .where(F.size("__th") > 0)
        .select("id", F.array_distinct(grams).alias("shingles"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: "int | None" = None,
) -> DataFrame:
    """End-to-end near-dup pairs (id_a, id_b, jaccard) on the xxhash64
    hash family: hashed shingle arrays (:func:`shingle_arrays`) and
    seeded-xxhash64 signatures (:func:`fast_hash`) — no string md5 per
    gram or component, ~2-4x cheaper than the md5 family, but not
    replayable by an external SQL engine.  The pipeline past the gram
    arrays is :func:`minhash_lsh_dedup_reproducible`'s, driver tiers
    included; ``max_bucket_size`` is :func:`pairs_from_bands`' hot-bucket
    star cap."""
    return _minhash_lsh(
        df, id_col, text_col, n, num_hashes, bands, threshold,
        shingle_arrays, fast_hash, max_bucket_size=max_bucket_size,
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: DataFrame,
    max_dist: "int | None" = None,
) -> DataFrame:
    """Fuzzy near-dup VERIFICATION by exact edit distance over candidate
    pairs — the tier between fingerprint candidacy and a human: n-gram
    Jaccard scores token-set overlap and misses single-character noise
    patterns (OCR errors, near-identical boilerplate with one changed
    number), while Levenshtein counts the actual edits.  The standard
    fuzzy-dedup verify for titles/short docs.

    ``block`` is the (id_a, id_b) candidate list — ALWAYS pass
    fingerprint candidates (winnowing/LSH) at scale; per-pair cost is
    O(len_a·len_b) full or O(len·max_dist) banded, so the verify is
    proportional to candidates, never the corpus.  With ``max_dist``
    the distance runs through Spark's THRESHOLDED Levenshtein (the
    banded DP — the scale path) and pairs beyond the bound drop;
    decision-identical to filtering the plain distance (pytest-pinned).

    Returns ``(id_a, id_b, edit_dist, sim_micro)`` with
    ``sim = 1 - dist / greatest(len_a, len_b)`` as exact integer micro
    units — Spark's and DuckDB's ``levenshtein`` agree character for
    character (unit-cost Wagner-Fischer), so the whole verify
    hash-gates in SQL."""
    t = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    )
    pairs = (
        block.select("id_a", "id_b")
        .join(t.select(F.col("id").alias("id_a"), F.col("__t").alias("__ta")), "id_a")
        .join(t.select(F.col("id").alias("id_b"), F.col("__t").alias("__tb")), "id_b")
    )
    if max_dist is not None:
        if max_dist < 0:
            raise ValueError(f"max_dist must be >= 0, got {max_dist}")
        dist = F.levenshtein("__ta", "__tb", max_dist)
        pairs = pairs.withColumn("__d", dist).where(F.col("__d") >= 0)
    else:
        pairs = pairs.withColumn("__d", F.levenshtein("__ta", "__tb"))
    ml = F.greatest(F.length("__ta"), F.length("__tb"))
    return pairs.select(
        "id_a", "id_b",
        F.col("__d").cast("long").alias("edit_dist"),
        F.when(ml == 0, F.lit(1_000_000).cast("long"))
        .otherwise(
            F.floor(
                ((ml - F.col("__d")) * F.lit(1_000_000)).cast("long") / ml
            ).cast("long")
        )
        .alias("sim_micro"),
    )


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    k: int = 4,
) -> DataFrame:
    """Winnowing / MOSS-style fingerprint dedup: each document keeps its
    ``k`` smallest distinct rolling ``window``-token hashes as a sketch;
    candidate near-dup pairs are documents sharing at least one sketch
    fingerprint.

    Scale shape: sketch selection (sort + slice of a per-row array) is a
    narrow map; the pair join is an equi-join on the 8-byte fingerprint
    — |docs| x k rows, never an all-pairs product.  Hashes are
    md5-derived so a SQL oracle reproduces them bit-for-bit.
    """
    from .text import rolling_hashes

    sketch = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.array_distinct(rolling_hashes(F.col(text_col), window))
                ),
                1,
                k,
            )
        ).alias("fp"),
    )
    a = sketch.alias("a")
    b = sketch.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )


def cross_doc_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Per-document cross-document duplicated-span signal (the
    window-granular form of exact-substring training-data dedup, Lee et
    al. 2022): for each document, the fraction of its distinct
    ``window``-token spans that also occur verbatim in at least one
    OTHER document.  High ratios flag boilerplate, mirrored pages, and
    license headers that survive document-level dedup.

    Scale shape: span fingerprints are md5 rolling hashes built in one
    narrow map (no string n-gram materialization beyond the row);
    occurrence counting is ONE shuffle on the 8-byte fingerprint (a
    count window, not a groupBy+join-back, so the fingerprint table is
    shuffled once not twice), then ONE per-document aggregation.  A
    pathologically common span (empty-page boilerplate) skews its
    fingerprint partition; AQE skew-split handles it — the per-doc agg
    that follows is unskewed.
    """
    from .text import rolling_hashes

    wins = spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(rolling_hashes(F.col(text_col), window))
        ).alias("fp"),
    )
    # (id, fp) is distinct per doc, so count-over-fp == docs containing fp
    n_docs = F.count("*").over(W.partitionBy("fp"))
    per_doc = (
        wins.withColumn("__nd", n_docs)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_windows",
        "n_shared",
        F.round(
            F.col("n_shared") / F.col("n_windows").cast("double"), 6
        ).alias("span_dup_ratio"),
    )


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """(id, cluster) for every document appearing in a near-dup pair:
    connected components over the pair graph, so transitive near-dups
    (A~B, B~C) land in one cluster even when A~C was never emitted.
    Uses the large-star/small-star algorithm — O(log n) rounds, safe for
    the long similarity chains template-heavy corpora produce."""
    from ..operators.analytics import connected_components_star

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return connected_components_star(edges).withColumnRenamed("component", "cluster")


def dedupe_near(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: "int | None" = None,
) -> DataFrame:
    """The full corpus-dedup pipeline: MinHash -> LSH -> verified pairs
    -> transitive clusters -> keep the min-id representative of each
    cluster.  Everything except the LSH band join and the O(log n)
    clustering rounds is a narrow map; non-duplicate documents (the
    overwhelming majority) never enter a shuffle wider than their
    (id, band, bucket) triples."""
    return _drop_clustered(df, id_col, minhash_lsh_dedup(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_bucket_size=max_bucket_size,
    ))


def _drop_clustered(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """``df`` without the near-dups ``pairs`` cluster together: the
    cluster label IS the min id in the cluster, so every clustered doc
    that isn't its cluster's minimum drops and everything unclustered
    stays."""
    losers = near_dup_clusters(pairs).where(F.col("id") != F.col("cluster"))
    return df.join(losers.select(F.col("id").alias(id_col)), id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash): per-bit majority sign over token hashes.

    tokens -> stable 60-bit hash -> for each bit b: +1/-1 -> sum -> bit set
    iff sum > 0.  Computed entirely with higher-order array functions — a
    narrow map over documents, NO explode and NO shuffle (the per-doc bit
    fold replaces the 10M-row token explode + 32-column groupBy; ~4×
    faster locally, and at 100 TB the operator is embarrassingly
    parallel over input splits)."""
    df = spread(df)
    fold = f"""
    aggregate(
      transform(regexp_extract_all(lower({text_col}), '\\\\S+', 0),
                t -> cast(conv(substring(md5(t),1,15),16,10) as bigint)),
      array_repeat(cast(0 as bigint), {bits}),
      (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                           (a, b) -> a + IF(((h >> b) & 1) = 1, 1, -1))
    )"""
    sums = df.select(F.col(id_col).alias("id"), F.expr(fold).alias("bs"))
    assemble = " + ".join(
        f"IF(bs[{b}] > 0, cast({2 ** b} as bigint), cast(0 as bigint))"
        for b in range(bits)
    )
    return sums.select("id", F.expr(f"cast({assemble} as bigint)").alias("simhash"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def _pairs_block_pandas(
    base: DataFrame, threshold: float, max_block_rows: int = 1_000_000
) -> DataFrame:
    """Within-block pairwise cosine via one Arrow-batched applyInPandas
    per block — the FAISS-style inverted-list scan.  The Catalyst
    self-join form materializes |block|^2 rows through an interpreted
    higher-order-function cosine; this path moves the quadratic work
    into numpy at C speed while emitting ONLY the near-threshold pairs.

    Bit-compatibility contract: the dot product accumulates
    DIMENSION-BY-DIMENSION in order (``acc = acc + x_d * y_d`` per
    element), which is IEEE-identical to the Catalyst
    ``aggregate(zip_with(...))`` left fold — so the raw cosine double
    equals the join path's bit for bit, and the caller's engine-side
    ``round(cosine, 6) >= threshold`` decision (and any SQL oracle
    replaying it) is unchanged.  The numpy side prefilters with a
    strictly-looser raw bound (threshold - 1e-6) and leaves the exact
    rounded comparison to the engine, so no numpy rounding semantics
    ever decide a pair.  Zero-norm vectors must be excluded UPSTREAM
    (``embedding_near_dup_pairs`` drops them before either impl): a
    zero norm makes the cosine NaN, and Spark comparison semantics
    (NaN greater than any double) would keep the pair in the join path
    while the numpy prefilter drops it — the one input class where the
    two impls could diverge.

    Memory: the cosine MATRIX is processed in row chunks capped at
    ~16 MB, but applyInPandas materializes each block's rows as ONE
    pandas group — the |block| x dim double stack must fit a single
    Python worker (rows x dim x 8 bytes; 1M rows at dim 64 = 512 MB).
    ``max_block_rows`` is the in-worker guard, with a precise scope: it
    fires AFTER Arrow->pandas group materialization, so it reliably
    stops the |block|^2 scoring work (hours of flops, the chunked
    matrix) and moderately-oversized stacks, but a block so enormous
    that materializing the group itself OOMs dies before the check can
    run — that regime is covered by the DRIVER-SIDE pre-check
    ``embedding_near_dup_pairs`` runs upstream (``block_precheck``,
    default on: one ``groupBy("blk").count()`` against the same cap,
    same message, fails before any worker materializes).  The durable
    fix is blocking granularity: n_centroids ~ sqrt(corpus) keeps
    blocks ~sqrt(corpus) flat at scale (see semantic_ivf_dedupe, which
    derives exactly that).
    """
    import pandas as pd

    looser = threshold - 1e-6
    cap = int(max_block_rows)
    out_schema = "id_a long, id_b long, cosine double"

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n > cap:
            blk = pdf["blk"].iloc[0] if "blk" in pdf.columns else "?"
            raise ValueError(
                f"_pairs_block_pandas: block {blk!r} has {n} rows "
                f"(> max_block_rows={cap}) — the vector stack would not "
                f"fit one worker. Use a finer blocking (more centroids: "
                f"n_centroids ~ sqrt(corpus), the semantic_ivf_dedupe "
                f"default) or raise max_block_rows if the executor has "
                f"the memory (rows x dim x 8 bytes)."
            )
        if n < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.stack(pdf["vec"].to_numpy()[order]).astype(np.float64)
        norms = pdf["norm"].to_numpy()[order].astype(np.float64)
        dim = V.shape[1]
        chunk = max(1, 2_000_000 // n)
        a_out, b_out, c_out = [], [], []
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            acc = np.zeros((e - s, n), dtype=np.float64)
            for d in range(dim):
                # in-order accumulation: acc = acc + x_d*y_d, the exact
                # IEEE sequence of the Catalyst fold
                acc += V[s:e, d : d + 1] * V[None, :, d]
            cos = acc / (norms[s:e, None] * norms[None, :])
            upper = np.arange(n)[None, :] > np.arange(s, e)[:, None]
            keep = upper & (cos >= looser)
            li, j = np.nonzero(keep)
            a_out.append(ids[li + s])
            b_out.append(ids[j])
            c_out.append(cos[li, j])
        return pd.DataFrame(
            {"id_a": np.concatenate(a_out).astype("int64"),
             "id_b": np.concatenate(b_out).astype("int64"),
             "cosine": np.concatenate(c_out)}
        )

    pairs = base.groupBy("blk").applyInPandas(fn, out_schema)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    planes: int = 8,
    exact: bool = False,
    impl: str = "join",
    max_block_rows: int = 1_000_000,
    block_precheck: bool = True,
) -> DataFrame:
    """Pairs with cosine >= threshold.  ``block_col`` is an explicit
    blocking key (an IVF bucket, a language/label column...).

    With ``block_col=None`` the DEFAULT is multi-probe hyperplane-LSH
    blocking: each vector lands in its sign bucket plus the ``planes``
    buckets one bit-flip away, and only bucket-sharing pairs are scored
    — two vectors meet iff their sign patterns differ on <= 2 planes,
    which near-parallel (cosine ~ threshold) vectors almost always
    satisfy.  So the no-thought code path is the bucketed one that
    survives 100 TB; the O(n²) all-pairs self-join must be requested
    explicitly with ``exact=True`` (small verification runs and SQL
    oracles only).  The hyperplanes are md5-derived (deterministic,
    engine-replayable) — see similarity.hyperplane_bucket.

    ``impl`` picks the within-block scorer: ``"join"`` is the Catalyst
    self-join (right for small blocks — label blocking, tight LSH
    buckets); ``"block_pandas"`` scores each block's pairs in one
    vectorized Arrow batch (:func:`_pairs_block_pandas`) — BIT-IDENTICAL
    output (in-order dimension accumulation = the Catalyst fold), ~10×
    faster when blocks grow to thousands of vectors (a fixed-centroid
    IVF blocking at growing corpus), and it never materializes the
    |block|² join rows.  ``max_block_rows`` guards the block_pandas
    path (a block's rows land in ONE Python worker — see
    :func:`_pairs_block_pandas`).  ``block_precheck`` (default True)
    additionally runs the DRIVER-SIDE pre-check the in-worker guard
    can't cover: the worker raise fires only AFTER Arrow->pandas has
    materialized the whole group, so a block whose vector stack alone
    exceeds worker memory would OOM before the ValueError — the
    pre-check (a ``groupBy("blk").count()`` against the cap) fails
    fast on the driver with the same actionable message.  With the
    pre-check on, the blocked projection is materialized ONCE via
    ``localCheckpoint`` and both the count and the scoring scan read
    it back — the upstream lineage (an IVF assignment, the LSH
    bucketing scan) runs a single time (r11 ADVICE closed r12).  Set
    ``block_precheck=False`` to stay fully lazy when the blocking is
    already known-bounded (e.g. a freshly derived sqrt-centroid
    assignment).

    Zero-norm vectors are dropped from pairing in EVERY impl: cosine
    is undefined (NaN) there, and Spark's NaN-greater-than-everything
    comparison would keep NaN pairs in the join path while the numpy
    path drops them — filtering them once upstream keeps the two impls
    bit-identical on all inputs.  A zero vector is nobody's near-dup;
    semantic_dedupe still returns it as its own singleton cluster."""
    from .similarity import hyperplane_bucket

    dot = F.aggregate(
        F.zip_with(F.col("a.vec"), F.col("b.vec"), lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    base = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("vec"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    ).withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("vec"), lambda v: v * v),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
        ),
    ).where(F.col("norm") > 0)
    # A small single-file corpus lands the whole scoring pass in ONE
    # task (the blocked self-join broadcasts the build side, so the
    # stream side's scan partitioning IS the scoring parallelism —
    # measured 4.3 s single-task at sf0.1).  Spread the projection
    # across cores before the per-pair cosine work; a no-op at any
    # real file count, and partitioning never changes pair values.
    base = spread(base)
    blocked = block_col is not None
    if block_col is None and not exact:
        bucket = hyperplane_bucket(F.col("vec"), F.size(F.col("vec")), planes)
        flips = F.array(
            F.col("__b"),
            *[F.col("__b").bitwiseXOR(F.lit(2 ** p)) for p in range(planes)],
        )
        base = (
            base.withColumn("__b", bucket)
            .withColumn("blk", F.explode(flips))
            .drop("__b")
        )
        blocked = True
    if impl == "block_pandas":
        if not blocked:
            raise ValueError(
                "impl='block_pandas' needs a blocked input (a block_col "
                "or the default LSH bucketing) — the exact all-pairs "
                "form has no block to group on"
            )
        if block_precheck:
            # ONE upstream execution feeds both the pre-check count and
            # the scoring scan: the blocked projection materializes to
            # executor storage (localCheckpoint — rows x (dim x 8 + key)
            # bytes, x(planes+1) under the LSH explode) and both passes
            # read it back.  Without this the collect below re-ran the
            # whole upstream lineage once more — for an IVF blocking
            # that is a full extra centroid-assignment pass, for the
            # LSH default a second bucketing scan (ADVICE r11).  The
            # checkpoint blocks free with the DataFrame (ContextCleaner);
            # callers with known-bounded blocks pass
            # block_precheck=False and stay fully lazy.
            base = base.localCheckpoint(eager=True)
            over = (
                base.groupBy("blk")
                .count()
                .where(F.col("count") > int(max_block_rows))
                .orderBy(F.col("count").desc())
                .limit(1)
                .collect()
            )
            if over:
                raise ValueError(
                    f"embedding_near_dup_pairs: block {over[0]['blk']!r} has "
                    f"{over[0]['count']} rows (> max_block_rows="
                    f"{int(max_block_rows)}) — the vector stack would not "
                    f"fit one worker. Use a finer blocking (more centroids: "
                    f"n_centroids ~ sqrt(corpus), the semantic_ivf_dedupe "
                    f"default) or raise max_block_rows if the executor has "
                    f"the memory (rows x dim x 8 bytes)."
                )
        out = _pairs_block_pandas(base, threshold, max_block_rows=max_block_rows)
    elif impl == "join":
        a = base.alias("a")
        b = base.alias("b")
        cond = F.col("a.id") < F.col("b.id")
        if blocked:
            cond = cond & (F.col("a.blk") == F.col("b.blk"))
        joined = a.join(b, cond)
        out = joined.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6).alias("cosine"),
        ).where(F.col("cosine") >= threshold)
    else:
        raise ValueError(f"unknown impl {impl!r}")
    if block_col is None and not exact:
        # multi-probe scores a pair once per shared bucket
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def minhash_lsh_dedup_reproducible(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_candidates_per_doc: "int | None" = None,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pairs with the md5-derived hash
    family: bit-for-bit replayable by an external SQL engine, unlike the
    xxhash64 family of :func:`minhash_lsh_dedup`.  Use this flavor
    when the pipeline result must be auditable across engines.

    ``max_candidates_per_doc`` caps the verify work per document — the
    :func:`containment_pairs` budget pattern applied to the banded
    candidate stream: candidates rank per side by shared-band count
    DESC then partner id ASC, and a pair survives if it is within
    budget on EITHER side (the union keeps recall: a boilerplate hub's
    partners each rank the hub highly even when the hub's own list
    overflows).  Deterministic, decision-identical whenever no document
    exceeds the budget; at 100 TB this bounds the exact-Jaccard verify
    to O(corpus x budget) pairs no matter how dense the near-dup
    clusters are.  Combine with a permissive banding (more bands) when
    the budget is the intended recall control — and gate it
    THRESHOLD-FREE: a high Jaccard threshold already selects only
    top-evidence pairs, leaving the budget nothing to bind on.

    Plan shape (r13): ONE corpus scan builds the per-document gram
    ARRAY table (:func:`shingle_array_table`, checkpointed); the
    signatures explode FROM the checkpoint (the md5s stay in codegen —
    inside higher-order-function lambdas they run interpreted, measured
    2x slower end to end), and the verify intersects the same arrays,
    so the old collect_set shuffle is gone.  The banded fingerprint
    table (corpus x bands rows) is checkpointed once; when it fits a
    bounded driver collect, the candidate selection — bucket
    self-pairing, evidence counts, the two budget windows — replays in
    numpy (:func:`_banded_pairs_driver`), and when the gram arrays are
    also bounded the Jaccard verify runs in-process too
    (:func:`_jaccard_pairs_driver`) — both decision-identical and
    parity-pinned in pytest.  Past the caps the distributed forms
    (:func:`pairs_from_bands`, :func:`_jaccard_pairs_from_arrays`) run.
    Duplicate document ids verify the UNION of their rows' grams: the
    gram table is regrouped once per id when the banding shows them."""
    return _minhash_lsh(
        df, id_col, text_col, n, num_hashes, bands, threshold,
        shingle_array_table, None,
        max_candidates_per_doc=max_candidates_per_doc,
    )


def _minhash_lsh(
    df, id_col, text_col, n, num_hashes, bands, threshold, grams, hash_fn,
    max_bucket_size=None, max_candidates_per_doc=None,
):
    """The one MinHash-LSH pipeline behind both hash families: ``grams``
    builds the per-document gram-array table, ``hash_fn`` is
    :func:`minhash_signatures`' component hash; everything downstream of
    the checkpointed gram arrays is shared."""
    from concurrent.futures import ThreadPoolExecutor

    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    arr = grams(base, "id", "text", n=n).localCheckpoint(eager=True)

    # every checkpoint and cache is released on the failure path too;
    # the success paths free theirs once the result is materialized
    checkpoints = [arr]
    cached: list[DataFrame] = []
    try:
        # the row/gram stats and the banding both read ONLY the checkpoint:
        # run them as concurrent jobs (guide §2.6 overlap) — actions are
        # sequential only because driver code calls them sequentially
        def _stats():
            row = arr.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.size("shingles")), F.lit(0)).alias("g"),
            ).collect()[0]
            return int(row["n"]), int(row["g"])

        def _mk_banded():
            # signatures via explode of the CHECKPOINTED arrays (the md5s
            # stay in whole-stage codegen; inside HOF lambdas they run
            # interpreted — measured 2x slower end to end); one
            # materialization serves the driver collect OR both sides of
            # the distributed self-join (the AQE twin-subtree trap)
            sig = minhash_signatures(
                arr.select("id", F.explode("shingles").alias("shingle")),
                num_hashes=num_hashes, hash_fn=hash_fn,
            )
            b = band_table(sig, num_hashes=num_hashes, bands=bands)
            b = b.localCheckpoint(eager=True)
            checkpoints.append(b)
            return b, b.count()

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_stats = pool.submit(_stats)
            f_band = pool.submit(_mk_banded)
            n_rows, n_grams = f_stats.result()
            banded, n_band = f_band.result()
        if n_band != n_rows * bands:
            # duplicate ids: the signature groupBy already banded each
            # id's union of grams; give the verify the same union (a
            # row without grams has no array row, so adds none).  The
            # gram count stays the per-row sum, an upper bound.
            grouped = arr.groupBy("id").agg(
                F.array_distinct(F.flatten(F.collect_list("shingles"))).alias("shingles")
            ).localCheckpoint(eager=True)
            checkpoints.append(grouped)
            free_local_checkpoint(arr)
            arr = grouped
        spark = df.sparkSession
        id_t = arr.schema["id"].dataType
        # the candidate selection collect and the verify's gram collect are
        # independent too — overlap them
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_pairs = pool.submit(
                _banded_pairs_driver, banded, max_candidates_per_doc, n_band,
                max_bucket_size,
            )
            f_tbl = (
                pool.submit(arr.toArrow)
                if n_grams <= _LSH_DRIVER_GRAMS_MAX
                else None
            )
            pairs_local = f_pairs.result()
            arr_tbl = f_tbl.result() if f_tbl is not None else None
        if pairs_local is not None and arr_tbl is not None:
            # everything after the banding fits the driver: verify the
            # pairs in-process and return one small local relation
            out = _jaccard_pairs_driver(
                arr_tbl, pairs_local, threshold, id_t, spark
            )
            free_local_checkpoint(banded)
            free_local_checkpoint(arr)
            return out
        if pairs_local is not None:
            import pyspark.sql.types as T

            schema = T.StructType(
                [
                    T.StructField("id_a", id_t, True),
                    T.StructField("id_b", id_t, True),
                ]
            )
            cand = local_dataframe(
                spark, [[a for a, _ in pairs_local], [b for _, b in pairs_local]], schema
            )
            n_cand = len(pairs_local)
        else:
            cand = pairs_from_bands(
                banded, max_bucket_size, max_candidates_per_doc
            ).persist()
            cached.append(cand)
            n_cand = cand.count()
        out = _jaccard_pairs_from_arrays(
            arr, block=cand, threshold=threshold,
            broadcast_block=n_cand <= 1_000_000,
        )
        out = out.localCheckpoint(eager=True)
        if pairs_local is None:
            cand.unpersist()
        free_local_checkpoint(banded)
        free_local_checkpoint(arr)
        return out
    except BaseException:
        for ck in checkpoints:
            free_local_checkpoint(ck)
        for c in cached:
            c.unpersist()
        raise


# Bounded driver tier for LSH candidate selection (r13): past the
# banding, the decision surface is a few integers per candidate pair —
# shared-bucket evidence counts and two deterministic rank windows.
# When the banded fingerprint table fits one bounded driver collect,
# the whole selection replays in numpy instead of a self-join + an
# exchange + two window sorts (each a full stage at cluster latency).
LSH_DRIVER_BAND_MAX = 1 << 21
# the in-replay pair budget: hot buckets pair quadratically; past this
# the distributed form (with its skew machinery) runs instead
_LSH_DRIVER_PAIRS_MAX = 1 << 23
# total corpus grams under which the Jaccard verify also runs on the
# driver.  The binding cost is single-threaded python (arrow->pylist +
# set building ~1.4 s/M grams measured), NOT memory: at 2.6M grams
# (sf1.0) the driver verify measured 6.1 s vs 3.7 s distributed, at
# 0.26M (sf0.1) it wins — the default sits between the two with 2x
# headroom over the win case.
_LSH_DRIVER_GRAMS_MAX = 1 << 19


def _round6_half_up(x: float) -> float:
    """Spark's ``round(double, 6)``: BigDecimal(shortest decimal repr)
    quantized HALF_UP — python ``repr`` produces the same shortest
    round-trip decimal as Java's ``Double.toString``, so the quantize
    matches bit-for-bit (python's builtin ``round`` is banker's and
    would differ on exact .5 ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _jaccard_pairs_driver(tbl, pairs_local, threshold, id_t, spark):
    """In-process twin of :func:`_jaccard_pairs_from_arrays` for an
    already-driver-resident candidate list over the COLLECTED gram
    table: intersect python sets per pair, round exactly as Spark's
    ``round(_, 6)``.  Returns a small local-relation DataFrame."""
    import pyspark.sql.types as T

    ids = tbl.column("id").to_pylist()
    grams = tbl.column("shingles").to_pylist()
    bydoc = {i: set(g) for i, g in zip(ids, grams)}
    ids_a, ids_b, jaccards = [], [], []
    for a, b in pairs_local:
        sa = bydoc.get(a)
        sb = bydoc.get(b)
        if sa is None or sb is None:
            continue  # the pair join drops ids without gram rows
        inter = len(sa & sb)
        if inter == 0:
            continue
        jac = _round6_half_up(inter / (len(sa) + len(sb) - inter))
        if threshold > 0 and jac < threshold:
            continue
        ids_a.append(a)
        ids_b.append(b)
        jaccards.append(jac)
    schema = T.StructType(
        [
            T.StructField("id_a", id_t, True),
            T.StructField("id_b", id_t, True),
            T.StructField("jaccard", T.DoubleType(), True),
        ]
    )
    return local_dataframe(spark, [ids_a, ids_b, jaccards], schema)


def _banded_pairs_driver(
    banded: DataFrame, max_candidates_per_doc, n_band: "int | None" = None,
    max_bucket_size: "int | None" = None,
):
    """In-process replay of :func:`pairs_from_bands` over a MATERIALIZED
    (id, band, bucket) table: bucket self-pairing (a.id < b.id, one row
    per shared band), evidence counts, and — with a budget — the two
    row_number windows ((-n_ev, partner) order, survive-on-either-side),
    or — without one — the distinct-pair set.  Returns a sorted list of
    (id_a, id_b) tuples, or None for the distributed path (over the
    caps, a bucket over ``max_bucket_size`` — the star fallback is not
    replayed — or id types the replay does not model).  Decision-identical
    by construction: every step is integer arithmetic over the same
    collected rows the joins would shuffle."""
    if not integral(banded, "id"):
        return None
    # banded is checkpointed by the caller: the count reads block
    # metadata, the collect scans the blocks once
    tbl = bounded_arrow(
        banded,
        LSH_DRIVER_BAND_MAX,
        not_null=("id", "band", "bucket"),
        rows=banded.count if n_band is None else n_band,
    )
    if tbl is None:
        return None
    import numpy as np

    ids = tbl.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
    band = tbl.column("band").to_numpy(zero_copy_only=False).astype(np.int64)
    bucket = tbl.column("bucket").to_numpy(zero_copy_only=False)
    # factorize the ids so a pair packs into ONE int64 (code_a * n +
    # code_b): np.unique over a 1D integer key is ~50x faster than the
    # axis=0 structured sort on the raw (id_a, id_b) pairs (7.3 s ->
    # 0.1 s on the 2.6M raw pairs at sf0.1)
    uid = np.unique(ids)
    code = np.searchsorted(uid, ids)
    # group by (band, bucket): factorize the bucket strings, combine
    _, binv = np.unique(bucket, return_inverse=True)
    gkey = binv * (int(band.max()) + 1 if band.size else 1) + band
    order = np.lexsort((code, gkey))
    g, sid = gkey[order], code[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    sizes = np.diff(np.r_[starts, g.size])
    if max_bucket_size is not None and sizes.max(initial=0) > max_bucket_size:
        return None
    n_pairs = int((sizes * (sizes - 1) // 2).sum())
    if n_pairs > _LSH_DRIVER_PAIRS_MAX:
        return None
    pk_parts = []
    n_codes = uid.size
    for s, m in zip(starts.tolist(), sizes.tolist()):
        if m < 2:
            continue
        sub = sid[s:s + m]
        iu, ju = np.triu_indices(m, 1)
        # sub is ascending and (band, bucket, id) rows are unique, so
        # sub[iu] < sub[ju] — exactly the join's a.id < b.id (the id ->
        # code map is monotone)
        pk_parts.append(sub[iu] * n_codes + sub[ju])
    if not pk_parts:
        return []
    # evidence counts: one row per shared band collapses per pair
    upk, n_ev = np.unique(np.concatenate(pk_parts), return_counts=True)
    ua, ub = uid[upk // n_codes], uid[upk % n_codes]
    if max_candidates_per_doc is not None:
        B = int(max_candidates_per_doc)

        def ranks(part_key, order_key):
            # row_number() over (partition by part_key
            #                    order by n_ev desc, order_key asc)
            o = np.lexsort((order_key, -n_ev, part_key))
            pk_o = part_key[o]
            st = np.flatnonzero(np.r_[True, pk_o[1:] != pk_o[:-1]])
            ln = np.diff(np.r_[st, pk_o.size])
            rn = np.arange(pk_o.size) - np.repeat(st, ln) + 1
            out = np.empty(pk_o.size, dtype=np.int64)
            out[o] = rn
            return out

        keep = (ranks(ua, ub) <= B) | (ranks(ub, ua) <= B)
        ua, ub = ua[keep], ub[keep]
    return list(zip(ua.tolist(), ub.tolist()))


def _jaccard_pairs_from_arrays(
    arr: DataFrame,
    block: DataFrame,
    threshold: float,
    broadcast_block: bool,
) -> DataFrame:
    """The distributed blocked Jaccard verify over a per-document gram
    ARRAY table (id, shingles): candidates join straight to two array
    rows.  :func:`jaccard_pairs` feeds it the arrays it collects from a
    shingle table; the MinHash-LSH pipeline feeds its gram-array
    checkpoint, so no collect_set shuffle runs there."""
    bcast = F.broadcast if broadcast_block else (lambda d: d)
    out = (
        bcast(block)
        .join(
            arr.select(F.col("id").alias("id_a"), F.col("shingles").alias("__a")),
            "id_a",
        )
        .join(
            arr.select(F.col("id").alias("id_b"), F.col("shingles").alias("__b")),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("__a", "__b")).alias("n_inter"),
            F.size("__a").alias("n_a"),
            F.size("__b").alias("n_b"),
        )
        # the unblocked shingle self-join only yields a pair with at
        # least one shared shingle: drop zero-overlap candidates (e.g.
        # LSH band collisions) so both forms agree even at threshold 0
        .where(F.col("n_inter") > 0)
        .select(
            "id_a", "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.where(F.col("jaccard") >= threshold)
    return out


def dedupe_near_reproducible(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Corpus near-dup dedup on the md5 hash family — the auditable twin
    of :func:`dedupe_near`: verified pairs from
    :func:`minhash_lsh_dedup_reproducible` -> transitive star-clusters ->
    keep the min-id representative per cluster.  Because every stage
    (shingles, signatures, banding, Jaccard, min-id components) is
    deterministic and hash-portable, an external SQL engine replays the
    SURVIVOR SET bit-for-bit (components via recursive closure — the
    converged star labels equal min-reachable-id).  Use the xxhash64
    :func:`dedupe_near` when cross-engine audit is not required; its
    plan shape is identical and each stage ~2-4× cheaper."""
    return _drop_clustered(df, id_col, minhash_lsh_dedup_reproducible(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    ))


def semantic_dedupe(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    max_iters: int = 6,
    assert_converged: bool = False,
) -> DataFrame:
    """Cluster-level semantic dedup: embedding near-dup pairs ->
    weakly-connected components -> keep the minimum-id member of each
    cluster as the canonical representative.  The cluster step matters
    because near-duplication is transitive in practice (A~B, B~C: one
    survivor, not two) — pairwise filtering alone keeps chain members.

    Returns (id, rep_id, kept): every input row, its cluster
    representative (itself for singletons), kept=1 iff it IS the
    representative.

    Scale: pairs come from the blocked similarity join — an explicit
    ``block_col`` (IVF bucket, language...) when given, else the
    DEFAULT multi-probe hyperplane-LSH blocking of
    :func:`embedding_near_dup_pairs` — either way the no-thought path
    is bucketed, never the O(n²) self-join.  Components run min-label
    propagation with ``max_iters`` fixed supersteps so a SQL oracle can
    replay the recurrence exactly.  Near-dup clusters are shallow
    (diameter a few hops), so a small fixed superstep count is also the
    converged answer in practice — but a pair graph whose component
    diameter exceeds ``max_iters`` at a future scale would under-merge
    in lockstep behind a green fixed-round replay, so pass
    ``assert_converged=True`` (two scalar aggregations: the last two
    rounds' label sums must match — labels are monotone, so
    sum-stability is equivalent to a true fixpoint) and oversize
    ``max_iters``.  For adversarially long chains use
    ``connected_components_star`` (O(log n) rounds) instead.

    Production corpora rarely ship a usable ``block_col`` — see
    :func:`semantic_ivf_dedupe` for the label-free form that derives
    the block from a deterministic IVF centroid assignment."""
    pairs = embedding_near_dup_pairs(emb, id_col, vec_col, block_col, threshold)
    return _keep_min_reps(emb, id_col, pairs, max_iters, assert_converged)


def _keep_min_reps(
    emb: DataFrame,
    id_col: str,
    pairs: DataFrame,
    max_iters: int,
    assert_converged: bool,
    method: str = "label",
) -> DataFrame:
    """Shared tail of the semantic-dedup family: near-dup pairs ->
    weakly-connected components -> (id, rep_id, kept) with singletons
    keeping themselves.

    ``method="label"`` runs fixed min-label supersteps (O(diameter)
    rounds — right when the substrate's component depth is bounded and
    a fixed-round SQL oracle must replay the exact recurrence);
    ``method="star"`` runs large-star/small-star alternation
    (O(log diameter) rounds — right when component depth grows with the
    corpus; the converged labels equal min-reachable-id, which an SQL
    oracle recomputes with a recursive closure instead of a round
    replay).  Both honor ``assert_converged``."""
    from ..operators import analytics as AN

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    if method == "star":
        comp = AN.connected_components_star(
            edges, max_iters=max_iters, assert_converged=assert_converged
        )
    elif method == "label":
        comp = AN.connected_components(
            edges,
            max_iters=max_iters,
            early_stop=False,
            assert_converged=assert_converged,
        )
    else:
        raise ValueError(f"unknown components method {method!r}")
    out = (
        emb.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("rep_id"))
    )
    return out.withColumn("kept", (F.col("id") == F.col("rep_id")).cast("int"))


def derived_centroid_count(n_rows: int, floor: int = 16) -> int:
    """The IVF centroid count that keeps inverted lists FLAT in the
    corpus: ``max(floor, ceil(sqrt(n_rows)))``.  With k ~ sqrt(n) each
    list holds ~sqrt(n) vectors, so per-list pair work is O(n) total
    instead of the O(n²/k) a FIXED k degrades to as the corpus grows.

    Engine-replayable by construction — and the contract that matters
    is CROSS-ENGINE AGREEMENT, not mathematical exactness of ceil near
    the representable edge: IEEE-754 sqrt is correctly rounded, so any
    two engines computing ``sqrt(double(n))`` over the same integer
    count produce the IDENTICAL double, and ``ceil`` of the identical
    double is the identical integer — k always agrees between this
    function and a DuckDB/SQL oracle's ``greatest(floor,
    CAST(ceil(sqrt(count(*))) AS BIGINT))`` whatever the rounding did.
    (Whether that shared k equals the true mathematical ceil(√n) is a
    separate question that only gets delicate as n approaches 2^52,
    where the 1/(2·sqrt(n)) gap nears half an ulp; a one-off k there
    would change the blocking granularity, never correctness, and both
    engines would change it together.)  Pinned by the DuckDB-parity
    test, which asserts exactly the agreement contract."""
    import math

    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0, got {n_rows}")
    return max(int(floor), math.ceil(math.sqrt(n_rows)))


def semantic_ivf_dedupe(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: "int | None" = None,
    n_probe: int = 2,
    threshold: float = 0.95,
    max_iters: int = 25,
    assert_converged: bool = False,
    max_block_rows: int = 1_000_000,
) -> DataFrame:
    """:func:`semantic_dedupe` for corpora WITHOUT a blocking column —
    the block is a deterministic IVF centroid assignment instead of a
    label: md5-sampled centroids (similarity.ivf_centroids), each vector
    assigned to its ``n_probe`` nearest centroids by cosine
    (similarity.ivf_assign — a narrow unrolled map, zero shuffle), and
    only bucket-sharing pairs are scored.  Multi-probe matters here:
    with ``n_probe >= 2`` two near-duplicates split by a centroid
    boundary still meet through either one's second-nearest list, the
    standard IVF recall lever.  Pair scoring and the min-id
    representative are :func:`semantic_dedupe`'s shared tail — but the
    components run STAR alternation (O(log diameter) rounds), not fixed
    min-label supersteps: with a FIXED centroid count the inverted
    lists grow with the corpus, so the within-list pair graph's
    component depth is unbounded in the scale factor (measured: label
    propagation converged in 9 rounds at sf0.001 and still hadn't at 12
    rounds at sf0.1 — any fixed round constant eventually under-merges,
    and the assert fires instead of silently truncating).  Star's
    converged labels equal min-reachable-id, which an external SQL
    engine recomputes with a recursive reachability closure — no round
    replay, so the oracle is valid at EVERY scale.  ``max_iters`` is
    the star round budget (25 covers < 2^25-deep chains); pass
    ``assert_converged=True`` to trip on exhaustion.

    The whole decision — centroid sample, probe argmax, candidate set,
    cosine threshold, components — is deterministic integer/double math,
    so an external SQL engine replays the survivor set bit-for-bit.

    Scale shape: assignment is a narrow map over the corpus; candidate
    pairs are one self-join per inverted list.  ``n_centroids=None``
    (the default) DERIVES the count from the corpus via
    :func:`derived_centroid_count` — ``max(16, ceil(sqrt(n_rows)))``,
    one bounded driver count — so inverted lists stay ~sqrt(corpus)
    and per-list pair work stays O(corpus) total at every scale; a
    fixed explicit count is for fixture pinning and small corpora only
    (its lists grow linearly with the corpus and the within-list pair
    work quadratically — ``max_block_rows`` raises before that OOMs a
    worker).  The derivation is a deterministic function of the row
    count, so an SQL oracle replays it from the same ``count(*)``
    (see derived_centroid_count's cross-engine rounding note);
    components shuffle only the pair graph.

    Zero-norm embeddings are returned as singleton clusters: cosine is
    undefined there, so they are filtered before centroid sampling and
    assignment (ivf_assign raises on them — ANSI division) and come
    back through the left-join tail as their own representative.  The
    derived centroid count and the oracle's count(*) CTE both count
    the FILTERED (norm > 0) corpus."""
    from .similarity import _as_double_vec, _norm, ivf_assign, ivf_centroids

    # Zero-norm vectors are singletons BY DEFINITION (cosine undefined)
    # and out of ivf_assign's contract (ANSI DIVIDE_BY_ZERO in the
    # unrolled map) — drop them before sampling/assignment; the
    # left-join tail below returns them as their own cluster.  The SQL
    # oracle applies the same norm filter in its base CTE, so engine
    # and oracle agree on ALL inputs, not just zero-free gate data.
    nonzero = emb.where(
        _norm(_as_double_vec(F.col(vec_col))) > 0
    )
    # with a DERIVED (sqrt) centroid count blocks are bounded by
    # construction, so the pair stage's driver-side block pre-check
    # (which would recompute the assignment lineage once) is skipped;
    # an EXPLICIT fixed k is exactly the grows-with-the-corpus regime
    # the pre-check exists for, so it stays on there
    precheck = n_centroids is not None
    if n_centroids is None:
        n_centroids = derived_centroid_count(nonzero.count())
    cents = ivf_centroids(nonzero, n_centroids, id_col=id_col, vec_col=vec_col)
    base = nonzero.select(
        F.col(id_col).alias("id"), _as_double_vec(F.col(vec_col)).alias("vec")
    )
    assign = ivf_assign(base, cents, n_probe=n_probe, id_col="id", vec_col="vec")
    blocked = base.join(assign, "id")
    pairs = embedding_near_dup_pairs(
        blocked, "id", "vec", block_col="centroid_id", threshold=threshold,
        impl="block_pandas", max_block_rows=max_block_rows,
        block_precheck=precheck,
    )
    if n_probe > 1:
        # multi-probe scores a pair once per shared probed centroid
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return _keep_min_reps(
        emb, id_col, pairs, max_iters, assert_converged, method="star"
    )


def contamination_hits(
    probe: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 13,
) -> DataFrame:
    """Benchmark decontamination: for each probe document, the number of
    distinct ``window``-token n-gram fingerprints it shares with ANY
    benchmark document (> 0 means the doc leaks evaluation data and
    should be dropped from a training corpus).

    Scale shape: the benchmark side (eval suites — thousands of docs,
    not billions) collapses to a DISTINCT fingerprint set and
    broadcasts; the corpus side explodes to distinct (doc, fp) pairs
    and never shuffles — the broadcast hash join + partial count happen
    map-side, so a 100 TB corpus streams through in one pass.  Hashes
    are md5-derived so a SQL oracle reproduces them bit-for-bit.
    """
    from .text import rolling_hashes

    grams = lambda df: F.explode(
        F.array_distinct(rolling_hashes(F.col(text_col), window))
    ).alias("fp")
    bench_fps = benchmark.select(grams(benchmark)).distinct()
    return (
        probe.select(F.col(id_col), grams(probe))
        .join(F.broadcast(bench_fps), "fp")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def bloom_bits_pow2(n_fp: int) -> int:
    """Bitmap size (as a power of two) for ``n_fp`` benchmark
    fingerprints: ~16 bits per fingerprint => FP rate
    (1 - e^(-kn/m))^k ≈ 0.2% at k=4.  Floor 2^16 (8 KB — below that
    the bitmap costs less than its bookkeeping), cap 2^30 (128 MB of
    broadcast — past that, shard the filter across several blooms).

    Sizing at scale: 10^6 fingerprints -> 2^24 (2 MB), 10^9 -> capped
    2^30 (fill ~0.78 per word, FP ~7% — still prunes 93% of a clean
    corpus), 10^12 -> shard (the cap alone would saturate; pass
    ``n_shards`` to :func:`contamination_hits_bloom`, which sizes each
    shard's bitmap for its share and tests per-shard)."""
    return max(16, min(30, (16 * max(n_fp, 1) - 1).bit_length()))


def contamination_hits_bloom(
    probe: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 13,
    n_bits_pow2: "int | None" = None,
    k: int = 4,
    n_shards: int = 1,
) -> DataFrame:
    """:func:`contamination_hits` with a BLOOM-FILTER prune tier — the
    classic 100 TB decontamination layout: the benchmark fingerprint
    set compresses to a 2^``n_bits_pow2``-bit Bloom bitmap (``k``
    xxhash64 probes per fingerprint) that broadcasts as ONE array row,
    and the corpus tests its fingerprints against it with pure bit
    arithmetic BEFORE any join — the overwhelming non-contaminated
    majority is eliminated map-side by a ~MB bitmap instead of flowing
    into a join against the full fingerprint set (which at eval-suite
    scale is 100-1000x larger than its bloom).  Survivors (exact hits
    plus the bloom's false positives) then verify against the exact
    fingerprint set, so the RESULT is decision-identical to the exact
    operator — the bloom can only prune, never alter — and the same SQL
    oracle applies.

    ``n_bits_pow2=None`` (default) SIZES THE BITMAP FROM THE BENCHMARK:
    ~16 bits per fingerprint, i.e. 2^ceil(log2(16n)) bits (FP rate
    (1 - e^(-kn/m))^k ≈ 0.2% at k=4), floor 2^16, cap 2^30 (128 MB —
    past that, shard the filter).  A FIXED bitmap silently saturates as
    the benchmark grows (fill → 1, the prune stops pruning — measured:
    a 2^20 bitmap at 10x benchmark passed ~everything), which is why
    the default scales instead.

    The bitmap folds DISTRIBUTED (a bit_or aggregation per 64-bit word),
    so the driver collects at most 2^``n_bits_pow2``/64 word rows — the
    bitmap's own size — regardless of benchmark fingerprint count.
    Driver-side the words accumulate in ONE numpy int64 buffer and hand
    Arrow that buffer, so the 2^30-bit cap costs the advertised m/8
    bytes (128 MB), not a boxed-int list's PyObject overhead.

    ``n_shards > 1`` splits the filter ACROSS several blooms — the
    documented path past the per-bitmap 2^30 cap (10^12 fingerprints):
    each fingerprint belongs to exactly one shard
    (``xxhash64 % n_shards``), the auto-sizer sizes each shard's bitmap
    for its ``n_fp / n_shards`` share, the corpus tests each
    fingerprint against ITS shard's bitmap only (a broadcast equi-join
    on the shard id — still map-side), and the exact verify is
    unchanged — so results are identical to the unsharded filter at any
    shard count."""
    import numpy as np
    import pyarrow as pa
    import pyspark.sql.types as T

    from .text import rolling_hashes

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    grams = lambda df: F.explode(  # noqa: E731 — local shorthand
        F.array_distinct(rolling_hashes(F.col(text_col), window))
    ).alias("fp")
    bench_fps = benchmark.select(grams(benchmark)).distinct()
    pinned = n_bits_pow2 is None
    if pinned:
        # auto-sizing needs a cardinality pass; persist so the fold
        # below reuses it instead of re-shingling the benchmark.  With
        # an explicit n_bits_pow2 there is exactly ONE pass (the fold),
        # so a persist would be pure bookkeeping overhead.
        bench_fps = bench_fps.persist()
        n_fp = bench_fps.count()
        n_bits_pow2 = bloom_bits_pow2(max(1, n_fp // n_shards))
    m = 1 << n_bits_pow2
    # fingerprint -> shard by Spark's own xxhash64 (seed -1 keeps the
    # shard hash independent of the k position hashes at seeds 0..k-1)
    shard = F.pmod(F.xxhash64(F.lit(-1), F.col("fp")), F.lit(n_shards))
    # bit positions computed by SPARK's own xxhash64 — bit-for-bit the
    # same family the membership test below probes, no reimplementation —
    # and the bitmap FOLDS DISTRIBUTED (bit_or per 64-bit word), so the
    # driver collects at most n_shards x m/64 word rows no matter how
    # many fingerprints the benchmark has
    pos_df = bench_fps.select(
        shard.alias("shard"),
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(j), F.col("fp")), F.lit(m))
                    for j in range(k)
                ]
            )
        ).alias("pos"),
    )
    word_rows = (
        pos_df.select(
            "shard",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) AS int))").alias("bit"),
        )
        .groupBy("shard", "w")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .collect()
    )
    words = _bloom_words(word_rows, n_shards, m)
    spark = probe.sparkSession
    # hand Spark the buffer THROUGH ARROW: no per-element boxing on the
    # way out either
    n_words = m // 64
    # int64 offsets (LargeListArray): n_shards x n_words can pass 2^31
    # exactly in the sharded regime this parameter exists for (128
    # shards at the 2^30-bit cap = 2.2e9 words) — int32 list offsets
    # would wrap and silently mis-slice the per-shard bitmaps
    bits_arr = pa.LargeListArray.from_arrays(
        pa.array(
            np.arange(0, (n_shards + 1) * n_words, n_words, dtype=np.int64)
        ),
        pa.array(words.ravel()),
    )
    bits_df = local_dataframe(
        spark,
        pa.table(
            {"shard": pa.array(np.arange(n_shards, dtype=np.int64)),
             "bits": bits_arr}
        ),
        T.StructType(
            [
                T.StructField("shard", T.LongType()),
                T.StructField("bits", T.ArrayType(T.LongType())),
            ]
        ),
    )
    # the cached fingerprint set has served the count + the bitmap fold;
    # drop the pin so repeated calls don't accumulate executor storage —
    # the exact-verify join below recomputes the (benchmark-sized,
    # cheap) fingerprints from source
    if pinned:
        bench_fps.unpersist()
    corpus_fps = probe.select(F.col(id_col), grams(probe)).withColumn(
        "shard", shard
    )
    passed = corpus_fps.join(F.broadcast(bits_df), "shard")
    cond = F.lit(True)
    for j in range(k):
        pos = F.pmod(F.xxhash64(F.lit(j), F.col("fp")), F.lit(m))
        word = F.element_at(F.col("bits"), (pos / 64).cast("int") + 1)
        cond = cond & (F.bit_get(word, F.pmod(pos, F.lit(64))) == 1)
    survivors = passed.where(cond).select(id_col, "fp")
    # exact verify: kills bloom FPs.  DELIBERATELY un-hinted: at
    # eval-benchmark scale AQE broadcasts this anyway, and at 10^9
    # fingerprints (where the bloom tier earns its keep) a plain
    # shuffle join is the CORRECT physical choice — don't "fix" this
    # with F.broadcast
    out = (
        survivors.join(bench_fps, "fp")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return out


def _bloom_words(word_rows, n_shards: int, m: int):
    """Fold collected (shard, w, word) rows into ONE contiguous numpy
    int64 buffer of shape (n_shards, m/64) — exactly m/8 bytes per
    shard, so the 2^30-bit cap costs the advertised 128 MB on the
    driver instead of a boxed-int list's ~30x PyObject overhead.  Arrow
    hands Spark the buffer without per-element boxing."""
    import numpy as np

    words = np.zeros((n_shards, m // 64), dtype=np.int64)
    for r in word_rows:
        words[int(r["shard"]), int(r["w"])] = r["word"]
    return words


def dedupe_keep_best(
    df: DataFrame,
    id_col: str,
    key: Column,
    pref_col: str | None = None,
) -> DataFrame:
    """Keep ONE representative per duplicate-key group — the row with
    the highest ``pref_col`` (quality score, length, recency; ties and
    the no-preference case fall back to smallest id, so selection is
    always deterministic).  ``key`` is any Column: a text hash for
    exact dedup, a leading-window fingerprint for prefix dedup, a
    normalized URL...  Generalizes :func:`dedupe_exact` (== key =
    text hash, no preference).

    One window shuffle on the key; no join-back."""
    order = (
        [F.col(pref_col).desc(), F.col(id_col)] if pref_col else [F.col(id_col)]
    )
    w = W.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def leading_window_key(text_col: Column, window: int = 8) -> Column:
    """Fingerprint of a document's first ``window`` tokens (md5-derived,
    engine-portable) — the dedup key for truncation/expansion pairs
    where one page is a prefix of another."""
    toks = F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), F.lit(0))
    return stable_hash64(F.array_join(F.slice(toks, 1, window), " "))


def dedupe_incremental(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus without ever
    re-pairing the corpus with itself — the steady-state shape of a
    growing 100 TB training set (each crawl dedups against everything
    ingested so far, not from scratch).

    A new doc is dropped when any of:
      * its exact text hash appears in the corpus, or on a smaller-id
        doc of the same batch (keep-first);
      * a verified near-dup (exact n-gram Jaccard >= ``threshold`` over
        MinHash-LSH band candidates, md5 family — auditable) exists in
        the corpus, or on a smaller-id doc of the same batch.

    Candidates come from joining the NEW batch's band fingerprints
    against the union index — corpus x corpus pairs are never formed, so
    per-batch cost is O(new x collisions), independent of corpus size.
    In production the corpus side persists as two index tables (text
    hashes + band fingerprints, see :func:`band_table`); here they are
    recomputed from the corpus text so the operator is self-contained.
    """
    from .text import stable_hash64

    new_ids = new_batch.select(F.col(id_col).alias("id"))
    tagged = new_batch.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text"), F.lit(1).alias("is_new")
    ).unionByName(
        corpus.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text"), F.lit(0).alias("is_new")
        )
    )

    # exact tier: one hash per doc, one equi-join
    hashes = tagged.select("id", "is_new", stable_hash64(F.col("text")).alias("h"))
    hn = hashes.where(F.col("is_new") == 1).alias("hn")
    ho = hashes.alias("ho")
    exact_drop = (
        hn.join(
            ho,
            (F.col("hn.h") == F.col("ho.h"))
            & (
                (F.col("ho.is_new") == 0)
                | (F.col("ho.id") < F.col("hn.id"))
            ),
        )
        .select(F.col("hn.id").alias("id"))
        .distinct()
    )

    # near tier: band the union, but candidates REQUIRE a new-batch side
    sh = shingle_table(tagged, "id", "text", n=n).persist()
    sig = minhash_signatures(sh, num_hashes=num_hashes)
    banded = band_table(sig, num_hashes=num_hashes, bands=bands)
    b_new = banded.join(new_ids, "id", "left_semi").alias("bn")
    b_all = banded.join(
        hashes.select("id", "is_new"), "id"
    ).alias("ba")
    cand = (
        b_new.join(
            b_all,
            (F.col("bn.band") == F.col("ba.band"))
            & (F.col("bn.bucket") == F.col("ba.bucket"))
            & (
                (F.col("ba.is_new") == 0)
                | (F.col("ba.id") < F.col("bn.id"))
            ),
        )
        .select(F.col("bn.id").alias("id_a"), F.col("ba.id").alias("id_b"))
        .dropDuplicates()
        .persist()
    )
    verified = jaccard_pairs(sh, block=cand, threshold=threshold)
    near_drop = verified.select(F.col("id_a").alias("id")).distinct()

    drops = exact_drop.unionByName(near_drop).distinct().withColumnRenamed("id", id_col)
    # Materialize the (small: dropped ids only) drop set and cut its
    # lineage, then release the shingle/candidate caches NOW.  In the
    # intended steady state (one call per crawl batch against a growing
    # corpus) leaving them cached would accumulate executor storage
    # memory across batches; after the checkpoint the returned anti-join
    # depends only on new_batch + the checkpointed ids.
    drops = drops.localCheckpoint(eager=True)
    sh.unpersist()
    cand.unpersist()
    return new_batch.join(drops, id_col, "left_anti")


def dhash_near_dups(
    hashes: DataFrame,
    max_hamming: int = 7,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Near-duplicate IMAGE pairs from 64-bit perceptual hashes
    (multimodal.image_dhash): ``(id_a, id_b, hamming)`` with
    ``id_a < id_b`` and ``hamming <= max_hamming``.

    The pair search is the banding trick in hamming space: the hash
    splits into 8 one-byte bands, candidates share at least one EXACT
    band, and an exact ``bit_count(xor)`` verifies.  The pigeonhole
    guarantee makes this LOSSLESS for ``max_hamming <= 7``: a pair
    differing in at most 7 bits cannot differ in all 8 bands, so every
    qualifying pair is a candidate (larger thresholds would need wider
    bands or multi-band combinations — rejected rather than silently
    losing recall).

    Scale shape: |rows| x 8 band rows, one equi-join on (band_idx,
    band_value), exact verify on the survivors — the image twin of the
    MinHash-LSH band join, with the same skew caveat: a constant band
    value across a huge image family (e.g. letterboxed black bars) is a
    hot bucket; cap or pre-split as in pairs_from_bands."""
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            f"max_hamming must be in [0, 7] for the 8-band pigeonhole "
            f"guarantee, got {max_hamming}"
        )
    # the band self-join consumes the hash table on BOTH sides; without
    # a materialization each AQE join child re-runs the upstream
    # lineage — for image hashes that is the WHOLE decode + dhash
    # Python pipeline, measured as two ~equal mapInPandas subtrees per
    # run on m_dhash_dups.  One row per image: checkpoint it (escapes
    # through the lazy result — ContextCleaner frees it, the
    # verify-arrays pattern of jaccard_pairs); callers that already checkpointed
    # (m_dhash_survivors shares the table with its final join) skip the
    # copy.
    if not is_checkpoint_root(hashes):
        hashes = hashes.localCheckpoint(eager=True)
    bands = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.shiftrightunsigned(F.col(hash_col), 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("band"),
                    )
                    for k in range(8)
                ]
            )
        ).alias("kb"),
    ).select("id", "h", F.col("kb.k").alias("k"), F.col("kb.band").alias("band"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
