"""Count-min sketch — fixed-size frequency estimation for heavy-hitter
analysis over corpora too large for an exact distinct-count table.

Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
count-min sketch and its applications"): ``depth`` hash rows of
``width`` counters; every key increments one counter per row
(``counter[j][h_j(key)] += w``), a lookup takes the MINIMUM over its
row counters.  Estimates are ONE-SIDED (``est >= true`` always — a
counter only ever accumulates its own key plus collisions) and
over-estimate by at most ``e/width * N`` per row with probability
``1 - e^-depth`` (union bound over the independent rows).

Why this shape at 100 TB: the sketch is ``depth x width`` rows NO
MATTER the corpus size, the build is one map-side-combinable
aggregation (the shuffle carries (row, bucket) partial sums, never
keys), and two sketches over disjoint corpora MERGE by counter
addition — the streaming/partitioned form every production frequency
monitor uses.  An exact term-frequency table at 10^12 tokens is a
10^9-row shuffle; the sketch is ~10^4 rows.

Determinism contract: the row hashes are md5-derived
(``md5(j || ':' || key)``, first 15 hex chars, mod width — the
stable_hash64 family), so the ENTIRE sketch, and therefore every
estimate, replays bit-for-bit in an external SQL engine.  No verdict
columns needed: the oracle recomputes the same counters and the same
minima.

Reference parity note: the reference engine has no sketch surface; the
extended analytics family (SURVEY §2.9 A9/A10, k_sketches) carries the
approximate tier, and this module adds the frequency member beside the
existing HLL-distinct and quantile sketches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def cms_hash(key: Column, j: int, width: int) -> Column:
    """Row-``j`` bucket of ``key``: md5-derived 60-bit hash mod width.
    DuckDB equivalent:
    ``('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || key), 1, 15))::UBIGINT % width``.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(int(j))), F.lit(":"), key)), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(int(width)))


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch ``df[key_col]`` (one increment per row, or ``weight_col``
    units per row) into ``(j, bucket, cnt)`` — at most ``depth*width``
    rows.  The explode-by-row is a narrow map (depth is 3-5); the one
    shuffle is the (j, bucket) aggregation with map-side combine."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    # NULL keys are not countable events (the count(DISTINCT)/count(col)
    # convention) — without the filter they would accumulate NULL-bucket
    # counters that no probe can ever reach
    rows = df.where(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        cms_hash(F.col(key_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
        w.alias("__w"),
    )
    return (
        rows.select(F.col("rb.j").alias("j"), F.col("rb.bucket").alias("bucket"), "__w")
        .groupBy("j", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """``(key, est_n)`` for every row of ``keys`` — the minimum of the
    key's ``depth`` row counters (0 when a counter was never touched).
    ``depth``/``width`` must match the build.  The sketch is at most
    depth*width rows, so it broadcasts; the probe never shuffles the
    key set."""
    probes = keys.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        cms_hash(F.col(key_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("key", F.col("rb.j").alias("j"), F.col("rb.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(cms), ["j", "bucket"], "left").select(
        "key", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt")
    )
    return joined.groupBy("key").agg(F.min("cnt").alias("est_n"))


# ---------------------------------------------------------------------------
# HyperLogLog — verifiable distinct-count sketch
# ---------------------------------------------------------------------------
#
# Flajolet et al. 2007: hash each key, use the first ``p`` bits as a
# register index and the position of the leftmost 1-bit of the rest as
# the register value; registers MERGE by max (associative — the
# per-partition / per-day composition); the harmonic mean of 2^-M_j
# estimates the cardinality with ~1.04/sqrt(2^p) relative error.
#
# What's different from ``approx_count_distinct``: Spark's HLL register
# state is implementation-defined (only bounds-auditable — k_sketches).
# THIS sketch hashes with the md5-derived stable_hash64 family, so the
# registers, the zero count, and the harmonic denominator are exact
# integers an external SQL engine recomputes bit-for-bit.  The
# denominator is kept EXACT by scaling: registers cap at RHO_CAP, so
# sum(2^(RHO_CAP - M_j)) <= m * 2^RHO_CAP fits a BIGINT (2^48 at
# m=256) — no order-dependent floating-point summation anywhere.

HLL_HASH_BITS = 60  # stable_hash64: 15 md5 hex chars
HLL_RHO_CAP = 40    # register cap keeping the scaled denominator exact


def hll_build(
    df: DataFrame,
    key_col: str,
    p: int = 8,
    group_cols: tuple = (),
) -> DataFrame:
    """Registers ``(*group_cols, bucket, register)`` — at most
    ``2^p`` rows per group, whatever the input size.  The one shuffle
    is the (group, bucket) max-aggregation with map-side combine."""
    if not 4 <= p <= 14:
        raise ValueError(f"p must be in [4, 14], got {p}")
    w = HLL_HASH_BITS - p
    from .text import stable_hash64

    h = stable_hash64(F.col(key_col).cast("string"))
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    rho = (
        F.when(rem == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.conv(rem, 10, 2)))
        .cast("int")
    )
    # a NULL key hashes to NULL: its bucket row would be COUNTED as
    # present by hll_state but contribute a NULL (skipped) denominator
    # term — silently corrupting the digest.  count(DISTINCT) ignores
    # NULLs; so does the sketch.
    return (
        df.where(F.col(key_col).isNotNull()).select(
            *group_cols,
            F.shiftrightunsigned(h, w).cast("int").alias("bucket"),
            F.least(rho, F.lit(HLL_RHO_CAP)).alias("register"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("register").alias("register"))
    )


def hll_state(hll: DataFrame, p: int = 8, group_cols: tuple = ()) -> DataFrame:
    """Integer-exact sketch digest per group:
    ``(m, zeros, n_scaled, est_cents)``.

    * ``zeros``: registers never touched (absent buckets).
    * ``n_scaled``: ``sum(2^(RHO_CAP - M_j))`` over all m registers
      (absent ones contribute ``2^RHO_CAP``) — the harmonic denominator
      as ONE exact integer.
    * ``est_cents``: the RAW HLL estimate ``alpha_m * m^2 / sum(2^-M_j)``
      in integer cents — a single correctly-rounded double division of
      exact integers, identical in any engine.  Deliberately NO
      small-range (linear-counting) or large-range correction here:
      those need ``ln``, which differs in the last ulp across libms —
      use :func:`hll_estimate` for the corrected user-facing number,
      and gate on this raw digest (valid when n > 2.5m)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    a_scaled = alpha * m * m * float(1 << HLL_RHO_CAP)  # one double literal
    agg = hll.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_CAP} - register)")
        ).alias("__n_present"),
    )
    zeros = (F.lit(m) - F.col("__present")).cast("long")
    n_scaled = (
        F.col("__n_present")
        + zeros * F.lit(1 << HLL_RHO_CAP).cast("long")
    ).cast("long")
    return agg.select(
        *group_cols,
        F.lit(m).cast("int").alias("m"),
        zeros.alias("zeros"),
        n_scaled.alias("n_scaled"),
        F.floor(
            F.lit(a_scaled) / n_scaled.cast("double") * F.lit(100.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("est_cents"),
    )


def hll_estimate(hll: DataFrame, p: int = 8, group_cols: tuple = ()) -> DataFrame:
    """User-facing corrected estimate per group (double): linear
    counting when the raw estimate is under ``2.5m`` and empty
    registers remain (the Flajolet small-range correction — uses
    ``ln``, hence not part of the hash-gated digest)."""
    m = 1 << p
    st = hll_state(hll, p, group_cols)
    raw = F.col("est_cents").cast("double") / F.lit(100.0)
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double"))
    return st.select(
        *group_cols,
        F.when((raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0), lin)
        .otherwise(raw)
        .alias("estimate"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — Bar-Yossef et al. 2002 /
# Beyer et al. SIGMOD'07.  Same md5 hash family as the HLL above, but
# where the HLL's user estimate needs an ln correction (kept OUT of its
# gated digest), the KMV estimator is ONE correctly-rounded double
# division of exact integers: with k - 1 a power of two the numerator
# (k-1) * 2^60 is an exact double, so the WHOLE sketch — kept hashes,
# kth-min, xor digest, and the estimate itself — hash-gates bit-for-bit
# in SQL.  Std error ~ 1/sqrt(k - 2) (~8.9% at the default k = 129).
# ---------------------------------------------------------------------------

KMV_HASH_BITS = 60  # stable_hash64: 15 md5 hex chars


def _kmv_check_k(k: int) -> None:
    if k < 3 or (k - 1) & (k - 2) != 0:
        raise ValueError(
            f"k - 1 must be a power of two >= 2 (got k={k}): the "
            f"estimator's numerator (k-1)*2^60 must be an exact double "
            f"so the division replays bit-for-bit in any engine"
        )


def kmv_build(
    df: DataFrame, key_col: str, k: int = 129, group_cols: tuple = ()
) -> DataFrame:
    """The ``k`` smallest DISTINCT 60-bit md5 hashes per group:
    ``(*group_cols, pos, h)`` with ``pos`` in 1..k — at most ``k`` rows
    per group whatever the input size (the mergeable sketch state).

    Scale shape: distinct (group, hash) first (one shuffle with
    map-side combine), then the skew-capped TWO-LEVEL rank the
    cluster-sampler uses (similarity.cluster_sample): row_number within
    ``(group, h % 256)`` keeps per-prefix top-k — a superset of the
    global top-k by pigeonhole — then the exact window runs over at
    most ``256k`` survivors per group, never the full distinct set.
    NULL keys are excluded, matching ``count(DISTINCT ...)``."""
    _kmv_check_k(k)
    from .text import stable_hash64

    g = list(group_cols)
    h = stable_hash64(F.col(key_col).cast("string"))
    hashes = (
        df.where(F.col(key_col).isNotNull())
        .select(*g, h.alias("h"))
        .distinct()
    )
    return kmv_from_hashes(hashes, k=k, group_cols=group_cols)


def kmv_from_hashes(
    hashes: DataFrame, k: int = 129, group_cols: tuple = ()
) -> DataFrame:
    """The sketch window of :func:`kmv_build` over an already-hashed,
    already-distinct ``(*group_cols, h)`` frame — for pipelines that
    derive several sketches from ONE materialized key table (e.g. the
    theta set-ops audit, which tags both populations in a single
    union pass) instead of re-scanning the base data per sketch."""
    _kmv_check_k(k)
    g = list(group_cols)
    w1 = W.partitionBy(*g, F.pmod(F.col("h"), F.lit(256))).orderBy("h")
    pruned = (
        hashes.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
        .drop("__r1")
    )
    w2 = W.partitionBy(*g).orderBy("h")
    return (
        pruned.withColumn("pos", F.row_number().over(w2))
        .where(F.col("pos") <= k)
        .select(*g, "pos", "h")
    )


def kmv_merge(
    a: DataFrame, b: DataFrame, k: int = 129, group_cols: tuple = ()
) -> DataFrame:
    """Union two sketches built with the same family and re-take the k
    smallest — the union sketch equals the sketch of the unioned keys
    (hashes are a function of the key, so duplicates collapse)."""
    _kmv_check_k(k)
    g = list(group_cols)
    merged = a.select(*g, "h").unionByName(b.select(*g, "h")).distinct()
    w = W.partitionBy(*g).orderBy("h")
    return (
        merged.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select(*g, "pos", "h")
    )


def kmv_state(
    kmv: DataFrame, k: int = 129, group_cols: tuple = ()
) -> DataFrame:
    """Integer-exact digest + estimate per group:
    ``(n_kept, h_k, digest, est)``.

    * ``n_kept`` < k: the group had fewer than k distinct keys — the
      sketch IS the distinct set and ``est = n_kept`` exactly.
    * otherwise ``est = floor((k-1) * 2^60 / h_k)``: numerator exact in
      double by the k contract, denominator's long->double conversion
      and the division both correctly rounded — identical in Spark and
      DuckDB (the est itself is hash-gateable, unlike the HLL's
      ln-corrected estimate).
    * ``digest`` = bit_xor of the kept hashes (order-independent,
      overflow-free) — any divergence in ANY kept hash flips it."""
    _kmv_check_k(k)
    g = list(group_cols)
    num = float((k - 1) << KMV_HASH_BITS)  # exact: k-1 is a power of two
    agg = kmv.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("h").alias("h_k"),
        F.bit_xor("h").alias("digest"),
    )
    return agg.select(
        *g,
        "n_kept",
        "h_k",
        "digest",
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(
            F.floor(F.lit(num) / F.col("h_k").cast("double")).cast("long")
        )
        .cast("long")
        .alias("est"),
    )


def sample_bottomk(
    df: DataFrame,
    id_cols: "tuple | list",
    k: int = 257,
    group_cols: tuple = (),
) -> DataFrame:
    """Deterministic uniform sample WITHOUT replacement: the ``k`` rows
    per group whose md5 hash of the identity columns is smallest — the
    bottom-k trick (KMV's sibling over ROWS instead of distinct
    values).  Uniform because the hash is uniform on the identity,
    DETERMINISTIC and shard-independent because it is a pure function
    of the row (re-running, re-partitioning, or merging shards yields
    the same sample — the property `TABLESAMPLE`/`rand()` sampling
    lacks and an auditable pipeline needs), and MERGEABLE: bottom-k of
    a union is the bottom-k of the per-shard bottom-k's.

    Returns the sampled rows with a ``__rank`` column (1..k by hash
    order).  Same two-level skew-capped rank as :func:`kmv_build`."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .text import stable_hash64

    g = list(group_cols)
    ident = F.concat_ws(
        ":", *[F.col(c).cast("string") for c in id_cols]
    )
    hashed = df.withColumn("__h", stable_hash64(ident))
    # id columns break hash ties (a 60-bit collision, or duplicate
    # identities) so the rank — and therefore the sample — is a total
    # deterministic order, never a shuffle-order coin flip
    order = [F.col("__h")] + [F.col(c) for c in id_cols]
    w1 = W.partitionBy(*g, F.pmod(F.col("__h"), F.lit(256))).orderBy(*order)
    pruned = (
        hashed.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
        .drop("__r1")
    )
    w2 = W.partitionBy(*g).orderBy(*order)
    return (
        pruned.withColumn("__rank", F.row_number().over(w2))
        .where(F.col("__rank") <= k)
        .drop("__h")
    )


def kmv_theta_ops(
    a: DataFrame, b: DataFrame, k: int = 129, group_cols: tuple = ()
) -> DataFrame:
    """Theta-sketch set operations over two KMV sketches (the
    Datasketches theta framework — Dasgupta et al., "Theta Sketch
    Framework", 2016): estimate |A ∪ B|, |A ∩ B| and |A \\ B| from two
    :func:`kmv_build` sketches WITHOUT touching the base data again.

    θ_X = 2^60 when the sketch kept fewer than k hashes (it IS the
    exact distinct set), else its k-th smallest hash; θ = min(θ_A,
    θ_B).  Each sketch's retained sample below θ is a uniform hash
    sample of its set at rate θ/2^60, so for any set expression the
    estimate is |sample expression| * 2^60 / θ — and because both
    samples share ONE hash family, intersection/difference are plain
    set ops on the kept hashes (the property independent samples lack).

    Output per group: ``theta_h``, exact sample counts (``n_union``,
    ``n_inter``, ``n_a_only``) and the three estimates, all integers:
    the numerator ``n * 2^60`` is an exact double for any n ≤ k (an
    integer times a power of two), the long→double θ conversion and
    the division are correctly rounded, so every column hash-gates —
    the same determinism contract as :func:`kmv_state`'s ``est``.
    When θ = 2^60 (both sketches unsaturated) the estimates ARE the
    exact counts.

    Scale shape: inputs are ≤ k rows per group, so everything here —
    the per-side θ aggregate, the hash equi-join, the final rollup —
    moves O(k) rows per group.  The sketches mergeable upstream
    (kmv_merge) + set ops downstream is the standard two-level
    pipeline for overlap audits across 100 TB partitions.
    """
    _kmv_check_k(k)
    g = list(group_cols)
    full = 1 << KMV_HASH_BITS

    def _theta(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*g)
            .agg(F.count(F.lit(1)).alias("__n"), F.max("h").alias("__hk"))
            .select(
                *g,
                F.when(F.col("__n") < k, F.lit(full))
                .otherwise(F.col("__hk"))
                .alias("th"),
            )
        )

    if g:
        th = (
            _theta(a).withColumnRenamed("th", "tha")
            .join(_theta(b).withColumnRenamed("th", "thb"), g, "outer")
        )
    else:
        th = _theta(a).withColumnRenamed("th", "tha").crossJoin(
            _theta(b).withColumnRenamed("th", "thb")
        )
    # a side absent from a group contributes an empty sample: θ = 2^60
    th = th.select(
        *g,
        F.least(
            F.coalesce("tha", F.lit(full)), F.coalesce("thb", F.lit(full))
        ).alias("theta_h"),
    )

    def _sample(df: DataFrame) -> DataFrame:
        join_on = g if g else []
        s = df.select(*g, "h")
        s = s.join(F.broadcast(th), join_on) if join_on else s.crossJoin(
            F.broadcast(th)
        )
        return s.where(F.col("h") < F.col("theta_h")).select(*g, "h")

    sa = _sample(a)
    sb = _sample(b)
    inter = sa.join(sb, g + ["h"]).select(*g, "h")

    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(*g).agg(F.count(F.lit(1)).cast("long").alias(name))

    def _j(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(right, g, "outer") if g else left.crossJoin(right)

    stats = _j(_j(_cnt(sa, "n_a"), _cnt(sb, "n_b")), _cnt(inter, "n_inter"))
    stats = _j(th, stats).select(
        *g,
        "theta_h",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
    )

    def _est(n: Column) -> Column:
        return (
            F.when(F.col("theta_h") >= full, n)
            .otherwise(
                F.floor(
                    n.cast("double") * F.lit(float(full))
                    / F.col("theta_h").cast("double")
                )
            )
            .cast("long")
        )

    n_union = (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long")
    n_a_only = (F.col("n_a") - F.col("n_inter")).cast("long")
    return stats.select(
        *g,
        "theta_h",
        n_union.alias("n_union"),
        F.col("n_inter").cast("long").alias("n_inter"),
        n_a_only.alias("n_a_only"),
        _est(n_union).alias("union_est"),
        _est(F.col("n_inter")).alias("inter_est"),
        _est(n_a_only).alias("diff_est"),
    )
