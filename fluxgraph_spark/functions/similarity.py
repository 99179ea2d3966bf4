"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact; crossJoin + JVM-side
``zip_with``/``aggregate`` arithmetic — no Python in the loop, queries
broadcast).  Scale path: random-hyperplane LSH bucketing so each query
only scans its probe buckets — the same top-k computed over a small
candidate set, trading recall for a ~buckets-fold scan reduction.

The LSH projection is md5-seeded (deterministic, engine-reproducible),
not ``rand()`` — resumable runs and cross-engine tests depend on it.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..local_relation import bounded_arrow, local_dataframe


def _as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda v: v * v),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against the
    corpus, rank per query.  Output: (query_id, vec_id, cosine, rank).

    The corpus side runs through :func:`dedup.spread` first: a small
    single-split parquet scan otherwise folds every (query x vector)
    dot product in ONE task; at scale the scan already has thousands of
    splits and spread is a no-op.  Partitioning never changes the
    result -- the salted two-stage top-k re-ranks globally."""
    from .dedup import spread

    corpus = spread(corpus)
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_vec(F.col(vec_col)).alias("cvec")
    ).withColumn("cnorm", _norm(F.col("cvec")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("qvec"),
    ).withColumn("qnorm", _norm(F.col("qvec")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("cvec"), F.col("qvec"))
            / (F.col("cnorm") * F.col("qnorm")),
            6,
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _topk_per_query(
    scored: DataFrame, k: int, score_col: str = "cosine"
) -> DataFrame:
    """Two-stage top-k: per-(query, input-partition) local top-k first,
    then global top-k over the k×partitions survivors.  A single
    ``row_number() OVER (PARTITION BY query_id)`` would funnel the whole
    scored corpus through ONE reducer per query — at 100 TB that is the
    job; the salted stage keeps every task at k rows out."""
    w_local = W.partitionBy("query_id", "salt").orderBy(
        F.col(score_col).desc(), F.col("vec_id")
    )
    local = (
        scored.withColumn("salt", F.spark_partition_id())
        .withColumn("r", F.row_number().over(w_local))
        .where(F.col("r") <= k)
        .drop("salt", "r")
    )
    w = W.partitionBy("query_id").orderBy(F.col(score_col).desc(), F.col("vec_id"))
    return local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    n_candidates: int = 20,
    k: int = 8,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    greedy diversified top-k.  Step 1 picks the most relevant candidate;
    every later step picks
    ``argmax_c  lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)``
    with ``lam = lam_num / lam_den`` — relevance traded against
    redundancy with what is already picked.  Output:
    ``(query_id, rank, vec_id, mmr_score_scaled)``, ``rank`` 1..k;
    the score is an exact INTEGER in units of ``1e-6 / lam_den``
    (divide by ``lam_den * 1e6`` for the conventional float).

    Execution: the DISTRIBUTED part is candidate generation —
    :func:`cosine_topk_bruteforce` (salted two-stage top-k, queries
    broadcast, no single-reducer funnel).  The inherently SEQUENTIAL
    greedy runs per query inside one Arrow-batched ``applyInPandas``
    group bounded at ``n_candidates`` rows (n_candidates x dim doubles
    + an n^2 sim matrix per group — constants, whatever the corpus
    size); queries parallelize across tasks.  At 100 TB the corpus is
    scanned once by the top-k; the greedy never sees more than
    ``n_candidates`` rows per query.

    Cross-engine decision contract — the BM25/label_centroids integer
    micro-quantization discipline, chosen over rounding the combined
    score because a linear combination of two 6-decimal values lands
    ON decimal half-boundaries structurally (0.7x - 0.3y has exactly 7
    decimal digits), where binary ``round`` and BigDecimal HALF_UP
    disagree — measured immediately at sf0.01:
    * ``rel`` and every pairwise sim are cosines rounded at 6dp (the
      established safe class: nothing pushes a raw cosine onto a
      decimal boundary; sims accumulate dimension-in-order, the
      Catalyst fold's IEEE sequence, rounded with F.round-identical
      Decimal-HALF_UP-on-shortest-repr semantics);
    * both then become EXACT micro-integers (x 1e6), and the score is
      pure int64 arithmetic:
      ``lam_num * rel_u - (lam_den - lam_num) * max_sim_u``
      — no float op, no rounding, bit-equal in any engine;
    * ties break on ``vec_id`` ascending.
    A SQL oracle replays every pick with a recursive CTE carrying the
    selected list (see the registry's ``s_mmr_rerank``).
    """
    import pandas as pd  # noqa: F401 — applyInPandas path

    if not (0 < lam_num <= lam_den):
        raise ValueError(
            f"lam_num/lam_den must be a ratio in (0, 1], got "
            f"{lam_num}/{lam_den}"
        )
    cand = cosine_topk_bruteforce(
        corpus, queries, k=n_candidates, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
    )
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_vec(F.col(vec_col)).alias("vec"),
    ).withColumn("norm", _norm(F.col("vec")))
    base = cand.join(vecs, "vec_id").select(
        "query_id", "vec_id", F.col("cosine").alias("rel"), "vec", "norm"
    )
    p, q = int(lam_num), int(lam_den)
    mu = q - p
    kk = int(k)
    out_schema = "query_id long, rank int, vec_id long, mmr_score_scaled long"

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")

        def r6u(v: float) -> int:
            # F.round(_, 6) exactly (BigDecimal(Double.toString) HALF_UP
            # == Decimal(shortest repr) quantized HALF_UP), scaled to an
            # exact micro-integer
            return int(
                (Decimal(repr(float(v))) * 1_000_000).quantize(
                    Decimal(1), ROUND_HALF_UP
                )
            )

        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        # rel is the engine-rounded 6dp cosine: exact micro-int via rint
        rel_u = [
            int(x)
            for x in np.rint(
                pdf["rel"].to_numpy()[order].astype(np.float64) * 1e6
            )
        ]
        V = np.stack(pdf["vec"].to_numpy()[order]).astype(np.float64)
        norms = pdf["norm"].to_numpy()[order].astype(np.float64)
        n = len(ids)
        acc = np.zeros((n, n), dtype=np.float64)
        for d in range(V.shape[1]):
            # in-order accumulation: the exact IEEE sequence of the
            # Catalyst aggregate(zip_with(...)) left fold
            acc += V[:, d : d + 1] * V[None, :, d]
        cos = acc / (norms[:, None] * norms[None, :])
        sims_u = np.frompyfunc(r6u, 1, 1)(cos).astype(np.int64)
        qid = int(pdf["query_id"].iloc[0])
        selected: list = []
        avail = list(range(n))  # ids ascending — ties keep the first
        out_rows = []
        for step in range(1, min(kk, n) + 1):
            best_j, best_score = None, None
            for j in avail:
                if not selected:
                    score = p * rel_u[j]
                else:
                    ms = max(int(sims_u[j, s]) for s in selected)
                    score = p * rel_u[j] - mu * ms
                if best_score is None or score > best_score:
                    best_j, best_score = j, score
            out_rows.append((qid, step, int(ids[best_j]), best_score))
            selected.append(best_j)
            avail.remove(best_j)
        return pd.DataFrame(
            out_rows,
            columns=["query_id", "rank", "vec_id", "mmr_score_scaled"],
        )

    return base.groupBy("query_id").applyInPandas(fn, out_schema)


def hyperplane_bucket(
    vec: Column, dim: "int | Column", planes: int = 8, seed: str = "lsh"
) -> Column:
    """Random-hyperplane LSH bucket id (0..2^planes-1), deterministic:
    plane p's component d is md5-derived in [-0.5, 0.5).  ``dim`` may be
    a Column (e.g. ``F.size(vec)``) when the width isn't statically
    known — the plane components are generated per-row either way."""
    last = F.lit(dim - 1) if isinstance(dim, int) else (dim - 1)
    bits = []
    for p in range(planes):
        comps = F.transform(
            F.sequence(F.lit(0), last),
            lambda d: (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{seed}:{p}:"), d.cast("string"))), 1, 8),
                    16, 10,
                ).cast("double")
                / F.lit(float(16 ** 8))
                - 0.5
            ),
        )
        proj = F.aggregate(
            F.zip_with(vec, comps, lambda x, c: x * c),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0)))
    return sum(bits).cast("int")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 6,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries with the same
    hyperplanes, score only same-bucket candidates.

    ``probes=1`` adds multi-probe: each query also checks the ``planes``
    buckets at Hamming distance 1 (one hyperplane sign flipped) —
    (planes+1)× the candidates for much higher recall, still a tiny
    fraction of the corpus.  At 100 TB: persist the bucketed corpus
    partitioned by bucket so each probe is a partition-pruned scan."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_vec(F.col(vec_col)).alias("cvec")
    )
    c = c.withColumn("bucket", hyperplane_bucket(F.col("cvec"), dim, planes))
    c = c.withColumn("cnorm", _norm(F.col("cvec")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("qvec"),
    )
    q = q.withColumn("bucket", hyperplane_bucket(F.col("qvec"), dim, planes))
    if probes >= 1:
        flips = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2 ** p)) for p in range(planes)],
        )
        q = q.withColumn("bucket", F.explode(flips))
    q = q.withColumn("qnorm", _norm(F.col("qvec")))
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("cvec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6
        ).alias("cosine"),
    )
    # multi-probe can score the same (query, vec) via several buckets
    scored = scored.dropDuplicates(["query_id", "vec_id"])
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

# Past this centroid count ivf_assign switches from the unrolled
# literal map to the Arrow-batched pruned scan below.  The driver here
# is MEASURED, not asymptotic: Catalyst evaluates the higher-order
# aggregate/zip_with fold interpreted (HOFs don't codegen), so the
# scan wins at every k tried on this box — 4.3x at k=16, 4.8x at
# k=23, 11x at k=45, 23x at k=448 (SCALE_BENCH ivf_assign_stage_sf10
# + the r11 sweep in STATE.md) — while the expression tree and
# per-row cost of the unrolled plan also grow O(k·dim).  r12 lowered
# the default 32 → 8: the unrolled plan's cost is not only execution —
# every run re-ANALYZES the O(k·dim) literal tree on the driver
# (s_ann_recall carried four ~27 KB expression nodes in a 165-operator
# plan; quiet-window A/B at sf0.1: s_ivf_topk 4.04 → 1.73 s,
# s_ann_recall 4.22 → 2.32 s, d_semantic_ivf_dedupe 2.67 → 2.39 s
# with the scan tier), so the k=16/23 gate layouts now ride the same
# path that wins at every measured scale.  k ≤ 8 stays unrolled: tiny
# unit fixtures remain Python-worker-free and their literal trees are
# too small to matter.
IVF_ASSIGN_UNROLL_MAX = 8

# Past this centroid count the centroid matrix stops fitting one
# driver collect / executor broadcast (k·dim·8 bytes: 2^18 centroids at
# dim 64 is 128 MB; at dim 768, 1.5 GB — near the practical broadcast
# ceiling) and ivf_assign switches to the SHARDED scan: per-shard
# Arrow top-n_probe carrying the exact sort key, merged by one global
# per-id window — decision-identical, at the price of one corpus scan
# per shard.
IVF_ASSIGN_BROADCAST_MAX = 1 << 18

# Safety slack on the coarse pruning bound (see _ivf_assign_arrow): the
# bound math runs through BLAS matmul + arccos/cos, whose rounding near
# sim = ±1 can err by ~1e-6 (arccos'(x) = -1/sqrt(1-x²) amplifies a
# 1e-13 dot error to ~1e-6 rad at x = 1-1e-12).  Widening the bound by
# 1e-5 (twice, radius and ub) only ever scans EXTRA groups — the final
# decision sims are computed with the exact in-order fold, so slack can
# never change a result, only forfeit a prune.
_IVF_PRUNE_SLACK = 1e-5


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "id",
    vec_col: str = "vec",
    max_unrolled_centroids: "int | None" = None,
    max_broadcast_centroids: "int | None" = None,
) -> DataFrame:
    """(id, centroid_id) for each vector's ``n_probe`` nearest centroids
    by cosine (ties broken by smaller centroid_id — Spark NaN-largest
    comparison semantics, matching the SQL oracles' ``ORDER BY sim
    DESC, centroid_id``).

    Two decision-identical physical strategies, auto-selected on the
    centroid count k (``max_unrolled_centroids``, default
    :data:`IVF_ASSIGN_UNROLL_MAX` = 8 — the measured
    crossover note there):

    * **k ≤ cap — unrolled literal map**: centroids unroll into one
      array expression (per-centroid cosine, comparator-sorted, sliced
      to ``n_probe``, exploded) — a NARROW map, zero shuffle, zero
      window, zero Python.  Right while the expression tree is small.
    * **k > cap — Arrow-batched pruned scan**: with a DERIVED list
      count (k ~ sqrt(corpus), see dedup.derived_centroid_count /
      ann_index.auto_n_centroids) k grows with the data, and the
      unrolled plan grows with it — O(k·dim) literals to construct and
      an O(k·dim) interpreted fold per row.  The scan path broadcasts
      the centroid matrix once and assigns inside ``mapInPandas``
      (still a narrow map, zero shuffle), pruning with a coarse
      ceil(sqrt(k))-seed triangle-inequality bound so the EXPECTED
      per-row work is O(sqrt(k)·dim) flops at numpy speed (worst case
      O(k·dim), still expression-tree-free).  Decisions are
      bit-identical to the unrolled map: the per-centroid cosine is
      accumulated dimension-in-order (the exact IEEE sequence of the
      Catalyst fold), and the pruning bound is only ever used to SKIP
      provably-losing centroid groups (see :func:`_ivf_assign_arrow`).

    Third tier — **k > ``max_broadcast_centroids`` (default
    :data:`IVF_ASSIGN_BROADCAST_MAX` = 2^18): sharded scan.**  Once
    the centroid matrix itself outgrows one broadcast (k·dim·8 bytes),
    the centroid set splits into id-ordered shards of the broadcast
    cap; each shard runs the Arrow scan emitting its top-``n_probe``
    WITH the exact sort key, and one per-id window over the
    shard-union (≤ n_probe·n_shards rows per id) takes the global
    top-``n_probe`` — decision-identical (a global winner is its own
    shard's winner, and the merge replays the same (key DESC, id ASC)
    rule on the identical doubles).  Cost: one corpus scan per shard
    plus one bounded shuffle — the honest price of a centroid set
    bigger than memory; at sqrt-derived k this tier starts around a
    10^11-row corpus."""
    cap = IVF_ASSIGN_UNROLL_MAX if max_unrolled_centroids is None else max_unrolled_centroids
    bcap = (
        IVF_ASSIGN_BROADCAST_MAX
        if max_broadcast_centroids is None
        else max_broadcast_centroids
    )
    # ONE bounded action decides the tier AND feeds the broadcast: a
    # limit(bcap+1) collect can return at most one row past the ceiling
    # (so it is safe by the cap's own definition of "fits the driver"),
    # and when the set is within the ceiling these rows ARE the data —
    # no second execution of the centroid lineage (which is typically a
    # corpus-wide md5 top-n sort; an unconditional count() ran it twice
    # on every call, including per Lloyd iteration).  Past the ceiling
    # the rows are discarded and the sharded tier re-reads per shard —
    # the rare tier pays, not the common path.
    tbl = bounded_arrow(centroids.select("centroid_id", "cvec"), bcap)
    if tbl is None:
        return _ivf_assign_sharded(
            vectors, centroids, n_probe, id_col, vec_col, max(1, bcap)
        )
    cents = [
        (cid, [float(x) for x in cvec])
        for cid, cvec in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist())
    ]
    if len(cents) > cap:
        return _ivf_assign_arrow(vectors, centroids, cents, n_probe, id_col, vec_col)
    import math

    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vvec"),
        _norm(F.col(vec_col)).alias("vn"),
    )
    scored = []
    for cid, cvec in cents:
        cn = math.sqrt(sum(x * x for x in cvec)) or 1.0
        lit_vec = F.array(*[F.lit(x) for x in cvec])
        sim = _dot(F.col("vvec"), lit_vec) / (F.col("vn") * F.lit(cn))
        scored.append(F.struct(sim.alias("sim"), F.lit(cid).alias("centroid_id")))
    ranked = F.array_sort(
        F.array(*scored),
        lambda a, b: F.when(a["sim"] > b["sim"], F.lit(-1))
        .when(a["sim"] < b["sim"], F.lit(1))
        .otherwise((a["centroid_id"] - b["centroid_id"]).cast("int")),
    )
    return v.select(
        "id", F.explode(F.slice(ranked, 1, n_probe)).alias("pick")
    ).select("id", F.col("pick.centroid_id").alias("centroid_id"))


def _ivf_assign_arrow(
    vectors: DataFrame,
    centroids: DataFrame,
    cents: list,
    n_probe: int,
    id_col: str,
    vec_col: str,
    emit_key: bool = False,
) -> DataFrame:
    """The k-scalable ivf_assign strategy: one broadcast centroid
    matrix + an Arrow-batched ``mapInPandas`` top-``n_probe`` scan with
    exact coarse pruning.  Still a NARROW map over the corpus — zero
    shuffle, zero window, O(1) plan size in k.

    **Decision identity** with the unrolled path (so every oracle that
    replays the argmax holds through either):

    * the per-centroid cosine accumulates DIMENSION-IN-ORDER
      (``acc = acc + v_d·c_d``) from 0.0 — the exact IEEE sequence of
      the Catalyst ``aggregate(zip_with(...))`` fold — then one
      ``sqrt``-norm product and one division, each correctly rounded,
      in the same expression order; vectors are assumed double (every
      in-repo caller casts upstream via ``_as_double_vec``);
    * ordering replays Spark comparison semantics (ties break by
      ascending centroid_id); a ZERO-NORM VECTOR is out of contract in
      both paths — the unrolled map raises Spark's ANSI
      DIVIDE_BY_ZERO on it, and this path raises a ValueError naming
      the fix (filter ``norm > 0`` upstream; semantic_ivf_dedupe
      does).  A zero-norm CENTROID is in contract (the ``or 1.0``
      norm guard makes every sim against it exactly 0.0).  A vector
      with a NaN/Inf COMPONENT is in contract too (r12): its pruning
      bounds are poisoned (NaN), so the row is treated as UNPRUNABLE —
      every group scans exactly, the fold produces the identical
      NaN/0.0 sims the unrolled map would, and the NaN→+inf key
      replays Spark's NaN-largest order (pytest-pinned path equality);
    * pruning is sound, never decisive: fine centroids group under
      ceil(sqrt(k)) coarse seeds (evenly spaced over the id-ordered
      list — grouping quality affects speed only); for unit vectors
      the sphere's triangle inequality gives angle(v,f) ≥
      angle(v,seed) − radius(group), so cos(max(0, θ − r)) bounds any
      member's cosine from above.  Groups are scanned in descending
      bound order and a row stops when its bound (plus
      :data:`_IVF_PRUNE_SLACK`, twice — see there) falls below its
      current ``n_probe``-th best EXACT sim; a zero-norm centroid's
      true sim is exactly 0.0 and its arccos(0) = π/2 contribution to
      the group radius makes the bound cover it automatically.

    Cited parity: the reference's index surface is point-lookup only
    (FluxIndex.java); the IVF family is the 100 TB-scale extension the
    LLM-pipeline operators (semantic_ivf_dedupe, the ann_index
    builders) stand on — this strategy is the FAISS coarse-quantizer
    shape (Jégou et al., TPAMI'11) recast as a Spark narrow map."""
    import math

    import numpy as np
    from pyspark.sql.types import StructField, StructType

    k = len(cents)
    cid = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    dim = C.shape[1]
    cn = np.zeros(k, dtype=np.float64)
    for d in range(dim):
        cn = cn + C[:, d] * C[:, d]
    cn = np.sqrt(cn)
    cn[cn == 0.0] = 1.0  # the unrolled path's `or 1.0` guard
    # --- coarse structure (driver-side, numpy; bit-accuracy NOT needed
    # here — it can only change which groups get scanned, never a sim)
    Ch = C / cn[:, None]
    n_seeds = max(1, math.isqrt(max(k - 1, 0)) + 1)  # ceil(sqrt(k))
    order = np.argsort(cid, kind="stable")
    seed_pos = np.unique((np.arange(n_seeds) * k) // n_seeds)
    seeds = order[seed_pos]
    Sh = Ch[seeds]
    sims_cs = Ch @ Sh.T
    grp = np.argmax(sims_cs, axis=1)
    n_grp = Sh.shape[0]
    members = [np.nonzero(grp == g)[0] for g in range(n_grp)]
    radius = np.zeros(n_grp, dtype=np.float64)
    for g in range(n_grp):
        if members[g].size:
            radius[g] = float(
                np.max(np.arccos(np.clip(sims_cs[members[g], g], -1.0, 1.0)))
            )
    radius = radius + _IVF_PRUNE_SLACK
    bc = vectors.sparkSession.sparkContext.broadcast(
        (C, cn, cid, Sh, members, radius)
    )
    n_probe_ = int(n_probe)
    slack = _IVF_PRUNE_SLACK
    id_type = vectors.schema[id_col].dataType
    cid_type = centroids.schema["centroid_id"].dataType
    cid_np = "int32" if cid_type.simpleString() in ("int", "smallint", "tinyint") else "int64"
    fields = [StructField("id", id_type, True), StructField("centroid_id", cid_type, True)]
    if emit_key:
        # the exact ordering key (sim, NaN mapped to +inf — Spark's
        # NaN-largest order) so a sharded merge can replay the same
        # (key DESC, centroid_id ASC) decision on identical doubles
        from pyspark.sql.types import DoubleType

        fields.append(StructField("__key", DoubleType(), True))
    out_schema = StructType(fields)

    def fn(batches):
        import numpy as np
        import pandas as pd

        C, cn, cid, Sh, members, radius = bc.value
        k = C.shape[0]
        dim = C.shape[1]
        P = min(n_probe_, k)
        INT_MAX = np.iinfo(np.int64).max
        for pdf in batches:
            for s0 in range(0, len(pdf), 1024):
                chunk = pdf.iloc[s0 : s0 + 1024]
                m = len(chunk)
                if m == 0:
                    continue
                V = np.stack(chunk.iloc[:, 1].to_numpy()).astype(np.float64)
                with np.errstate(invalid="ignore", over="ignore"):
                    vn = np.zeros(m, dtype=np.float64)
                    for d in range(dim):
                        vn = vn + V[:, d] * V[:, d]
                    vn = np.sqrt(vn)
                    if np.any(vn == 0.0):
                        bad = chunk.iloc[:, 0].to_numpy()[vn == 0.0][:3]
                        raise ValueError(
                            f"ivf_assign: zero-norm vector(s) (ids {list(bad)}"
                            f"...) — cosine assignment is undefined there (the "
                            f"unrolled path raises ANSI DIVIDE_BY_ZERO on the "
                            f"same input).  Filter norm > 0 upstream; "
                            f"semantic_ivf_dedupe keeps them as singletons."
                        )
                    Vh = V / vn[:, None]
                    theta = np.arccos(np.clip(Vh @ Sh.T, -1.0, 1.0))
                    ub = np.cos(np.maximum(0.0, theta - radius[None, :])) + slack
                # a NaN/Inf component poisons the pruning bounds (NaN norm
                # or inf/inf=NaN in Vh), which would silently skip every
                # group (NaN >= x is False) — instead such rows are simply
                # UNPRUNABLE: scan all groups exactly.  The exact fold then
                # computes the identical NaN/Inf sims the unrolled map
                # would, and the NaN→+inf key below replays Spark's
                # NaN-largest ordering — the two paths stay
                # decision-identical on non-finite inputs too (zero-norm
                # stays the one out-of-contract case: both paths raise).
                bad_ub = ~np.isfinite(ub)
                if bad_ub.any():
                    ub[bad_ub] = np.inf
                scan_order = np.argsort(-ub, axis=1, kind="stable")
                top_key = np.full((m, P), -np.inf)
                top_cid = np.full((m, P), INT_MAX, dtype=np.int64)
                alive = np.arange(m)
                for t in range(scan_order.shape[1]):
                    if alive.size == 0:
                        break
                    g_t = scan_order[alive, t]
                    cont = ub[alive, g_t] >= top_key[alive, P - 1]
                    alive = alive[cont]
                    g_t = g_t[cont]
                    if alive.size == 0:
                        break
                    for g in np.unique(g_t):
                        mem = members[g]
                        if mem.size == 0:
                            continue
                        rows = alive[g_t == g]
                        # exact decision sims: the in-order IEEE fold
                        with np.errstate(invalid="ignore", over="ignore"):
                            acc = np.zeros((rows.size, mem.size))
                            for d in range(dim):
                                acc = acc + V[rows, d][:, None] * C[mem, d][None, :]
                            sim = acc / (vn[rows][:, None] * cn[mem][None, :])
                        key = np.where(np.isnan(sim), np.inf, sim)
                        comb_key = np.concatenate([top_key[rows], key], axis=1)
                        comb_cid = np.concatenate(
                            [top_cid[rows],
                             np.broadcast_to(cid[mem], (rows.size, mem.size))],
                            axis=1,
                        )
                        # key desc then cid asc: stable sort by cid asc,
                        # then stable sort by -key
                        o1 = np.argsort(comb_cid, axis=1, kind="stable")
                        k1 = np.take_along_axis(comb_key, o1, axis=1)
                        o2 = np.argsort(-k1, axis=1, kind="stable")
                        sel = np.take_along_axis(o1, o2, axis=1)[:, :P]
                        top_key[rows] = np.take_along_axis(comb_key, sel, axis=1)
                        top_cid[rows] = np.take_along_axis(comb_cid, sel, axis=1)
                ids = chunk.iloc[:, 0].to_numpy()
                out_id, out_cid, out_key = [], [], []
                filled = top_key > -np.inf
                for r in range(m):
                    picks = top_cid[r][filled[r]]
                    out_id.extend([ids[r]] * len(picks))
                    out_cid.append(picks)
                    if emit_key:
                        out_key.append(top_key[r][filled[r]])
                cols = {
                    "id": pd.Series(out_id),
                    "centroid_id": (
                        np.concatenate(out_cid).astype(cid_np)
                        if out_cid
                        else np.array([], dtype=cid_np)
                    ),
                }
                if emit_key:
                    cols["__key"] = (
                        np.concatenate(out_key)
                        if out_key
                        else np.array([], dtype=np.float64)
                    )
                yield pd.DataFrame(cols)

    from .dedup import spread

    # the O(sqrt(k)*dim)-per-row scan is the heavy tier — a single-split
    # corpus scan would run it all in ONE Python worker; no-op once the
    # scan has real splits (the unrolled small-k tier stays unspread:
    # its per-row fold is too cheap to buy an exchange for)
    v = spread(vectors).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return v.mapInPandas(fn, out_schema)


def _ivf_assign_sharded(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
    shard_size: int,
) -> DataFrame:
    """ivf_assign past the collect/broadcast ceiling: the centroid set
    splits into id-ordered shards of ``shard_size`` (only the id
    column is ever collected whole — 8 bytes per centroid — each
    shard's vectors collect separately), each shard runs
    :func:`_ivf_assign_arrow` emitting its top-``n_probe`` WITH the
    exact sort key, and one per-id window over the union takes the
    global top-``n_probe``.

    Decision identity: a global top-``n_probe`` centroid is by
    definition inside its own shard's top-``n_probe``, each shard
    computes the IDENTICAL key doubles the single-broadcast scan
    would (same in-order fold; NaN→+inf mapping replays Spark's
    NaN-largest order), and the merge window replays the same
    (key DESC, centroid_id ASC) rule — so the union provably contains
    the global winners and ranks them identically.  Cost: one corpus
    scan per shard + one shuffle of ≤ n_probe·n_shards rows per
    vector (the window partitions by id over many ids — no single
    reducer).  At sqrt-derived k this tier starts around a 10^11-row
    corpus; below that the single-broadcast scan path handles it."""
    import math

    cids = sorted(
        r["centroid_id"] for r in centroids.select("centroid_id").collect()
    )
    k = len(cids)
    n_shards = max(1, math.ceil(k / shard_size))
    parts = []
    for s in range(n_shards):
        lo = cids[s * shard_size]
        hi = cids[min((s + 1) * shard_size, k) - 1]
        sub = centroids.where(F.col("centroid_id").between(lo, hi))
        sub_cents = [
            (r["centroid_id"], [float(x) for x in r["cvec"]])
            for r in sub.select("centroid_id", "cvec").collect()
        ]
        parts.append(
            _ivf_assign_arrow(
                vectors, centroids, sub_cents, n_probe, id_col, vec_col,
                emit_key=True,
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    w = W.partitionBy("id").orderBy(F.col("__key").desc(), F.col("centroid_id"))
    return (
        union.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_probe)
        .select("id", "centroid_id")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid sample: the ``n_centroids`` corpus vectors
    with the smallest md5(id) (uniform pseudo-random, reproducible, no
    rand()).  A k-means refinement would iterate ivf_assign + mean —
    deliberately omitted: the sample is enough for bucketing, and
    determinism matters more for verification."""
    h = F.md5(F.col(id_col).cast("string"))
    picked = (
        corpus.select(F.col(id_col), _as_double_vec(F.col(vec_col)).alias("cvec"), h.alias("h"))
        .orderBy("h", id_col)
        .limit(n_centroids)
    )
    w = W.orderBy("h", id_col)
    return picked.withColumn("centroid_id", F.row_number().over(w)).select(
        "centroid_id", "cvec"
    )


def ivf_centroids_refined(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd/k-means refinement of the deterministic centroid sample —
    the quality path the plain sample trades away, WITHOUT giving up
    cross-engine verification: each iteration assigns every vector to
    its nearest centroid (cosine argmax — the same narrow unrolled map
    as ``ivf_assign``) and replaces the centroid with its cluster's
    per-dimension mean computed in integer ``1/scale`` units
    (floor(x*scale+0.5) summed as BIGINT, one correctly-rounded IEEE
    division — the :func:`label_centroids` trick), so the refined
    centroids are bit-identical in any engine and the whole iterative
    loop unrolls into a SQL oracle.  Empty clusters keep their previous
    centroid.  Scale shape per iteration: one narrow assignment map +
    one (centroid, dim) aggregation with map-side partials — the
    canonical distributed k-means step."""
    v = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_vec(F.col(vec_col)).alias("vvec")
    )
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    for _ in range(iters):
        assigned = ivf_assign(v, cents, 1, "vec_id", "vvec").withColumnRenamed(
            "id", "vec_id"
        )
        pos = assigned.join(v, "vec_id").select(
            "centroid_id", F.posexplode("vvec").alias("pos", "x")
        )
        means = pos.groupBy("centroid_id", "pos").agg(
            F.sum(
                F.floor(F.col("x").cast("double") * scale + F.lit(0.5)).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        new_vecs = (
            means.select(
                "centroid_id",
                "pos",
                (
                    F.floor(F.col("s").cast("double") / F.col("n") + F.lit(0.5))
                    .cast("long")
                    / F.lit(float(scale))
                ).alias("val"),
            )
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("new_cvec")
            )
        )
        cents = cents.join(new_vecs, "centroid_id", "left").select(
            "centroid_id",
            F.coalesce(F.col("new_cvec"), F.col("cvec")).alias("cvec"),
        )
        # each iteration's assignment collects the (tiny) centroid table;
        # pin the new centroids so lineage doesn't recompute the chain
        cents = local_dataframe(cents.sparkSession, cents.toArrow(), cents.schema)
    return cents


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: "DataFrame | None" = None,
) -> DataFrame:
    """Approximate top-k via an inverted file: corpus vectors bucket to
    their nearest centroid; each query scans only its ``n_probe`` nearest
    buckets.  At 100 TB: persist the assigned corpus partitioned by
    centroid_id — each probe is then a partition-pruned scan, and the
    centroid table (tiny) broadcasts everywhere.  Pass ``centroids``
    (e.g. :func:`ivf_centroids_refined`) to bucket against a refined
    set instead of the raw sample."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_vec(F.col(vec_col)).alias("cvec")
    )
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, n_centroids, id_col, vec_col)
    )
    corpus_buckets = ivf_assign(c, cents, 1, "vec_id", "cvec").withColumnRenamed(
        "id", "vec_id"
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("qvec"),
    )
    q_buckets = ivf_assign(q, cents, n_probe, "query_id", "qvec").withColumnRenamed(
        "id", "query_id"
    )
    cand = (
        q_buckets.join(corpus_buckets, "centroid_id")
        .select("query_id", "vec_id")
        .dropDuplicates()
    )
    cv = c.withColumn("cn", _norm(F.col("cvec")))
    qv = q.withColumn("qn", _norm(F.col("qvec")))
    scored = (
        cand.join(cv, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("cvec"), F.col("qvec")) / (F.col("cn") * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    return _topk_per_query(scored, k)


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact per-label centroid, one ``(label, pos, centroid_micro,
    n_vecs)`` row per dimension, with the mean in integer units of
    ``1/scale``.  Components are scaled to integers before summing, so
    the aggregation is order- and partitioning-independent (double
    summation is not), and the mean stays integer (one correctly-rounded
    IEEE division), so a SQL oracle matches bit-for-bit.

    Scale shape: posexplode is a narrow map (|rows| x dim), the single
    shuffle is the (label, pos) aggregation with map-side partial
    aggregation — at 100 TB this is the canonical mean-pooling job and
    never touches the driver."""
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    # floor(x + 0.5), not round(x): Spark rounds half-up but other engines
    # (DuckDB) round half-to-even, and scaled floats DO land on exact .5
    # ties.  floor is correctly-rounded IEEE in every engine.
    agg = pos.groupBy("label", "pos").agg(
        F.sum(
            F.floor(F.col("v").cast("double") * scale + F.lit(0.5)).cast("long")
        ).alias("s"),
        F.count("*").alias("n_vecs"),
    )
    return agg.select(
        "label",
        "pos",
        F.floor(F.col("s").cast("double") / F.col("n_vecs") + F.lit(0.5))
        .cast("long")
        .alias("centroid_micro"),
        "n_vecs",
    )


def cluster_sample(
    corpus: DataFrame,
    quota: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Cluster-balanced diversity sampling — the "keep N per semantic
    cluster" selection step of embedding-driven corpus curation
    (the selection shape popularized by SemDeDup/DSIR-style pipelines:
    after near-dup pruning, cap each semantic neighborhood so the
    training mix isn't dominated by overrepresented topics).

    Every vector assigns to its nearest centroid (cosine; the
    deterministic md5-sample centroids of :func:`ivf_centroids` unless
    ``centroids`` is given) and each cluster keeps its first ``quota``
    members in md5(id) order — a uniform pseudo-random draw that is
    reproducible and replays exactly in SQL.  Returns
    ``(vec_id, centroid_id, pick_rank)``, ``pick_rank`` 1-based within
    the cluster.

    Scale shape: the assignment is a narrow map (centroids unroll into
    one array expression — zero shuffle); the per-cluster rank is
    computed in TWO levels so a hot cluster can never serialize into
    one window task: a first row_number within
    ``(centroid_id, 2-hex-md5-prefix)`` — 256-way parallel per cluster —
    keeps only per-prefix top-``quota`` (a superset of the global
    top-``quota``, since a globally-kept row is also kept within its own
    prefix), and the exact window then runs over ≤ 256×quota survivors
    per cluster (the x_mix_budget / token_budget_mix pattern)."""
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, n_centroids, id_col, vec_col)
    )
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_vec(F.col(vec_col)).alias("vec"),
    )
    assigned = ivf_assign(v, cents, 1, "vec_id", "vec").withColumnRenamed(
        "id", "vec_id"
    )
    pre = assigned.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
    wp = W.partitionBy("centroid_id", F.substring(F.col("__h"), 1, 2)).orderBy(
        "__h", "vec_id"
    )
    survivors = pre.withColumn("__pr", F.row_number().over(wp)).where(
        F.col("__pr") <= quota
    )
    w = W.partitionBy("centroid_id").orderBy("__h", "vec_id")
    return (
        survivors.withColumn("pick_rank", F.row_number().over(w))
        .where(F.col("pick_rank") <= quota)
        .select("vec_id", "centroid_id", "pick_rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------

# FAISS convention: 256 codebook entries per subspace = one-byte codes
PQ_AUTO_KSUB = 256


def auto_pq_geometry(dim: int, n_rows: "int | None" = None) -> "tuple[int, int]":
    """Default PQ geometry when the caller doesn't size it — the FAISS
    production convention (Jégou et al. TPAMI'11; FAISS guidelines):

    * ``ksub = 256`` codebook entries per subspace (one-byte codes —
      the quantization/LUT-size sweet spot), naturally shrunk to the
      corpus size when the corpus is smaller (``least(256, n)`` — the
      md5-sample LIMIT does that on the engine side, the oracle's
      row_number filter on the SQL side);
    * subvector width ``dsub = 4`` dims (FAISS recommends 4-8, i.e.
      ``m`` in dim/4..dim/2 subquantizers; we take the dim/4 end —
      finer subspaces resolve more distance structure for the same
      one-byte budget), with documented FLOORS ``dsub = 2`` when dim
      is even but not divisible by 4 and ``dsub = 1`` otherwise, so
      the rule is total on any dimension; ``m = dim // dsub``.

    Both halves BIND on the gate embeddings (dim 64, 500 rows):
    m = 16, ksub = 256 — nothing like the pinned m=4/ksub=16 layouts,
    so a drifted derivation flips codes and the oracle hash.  The rule
    is one integer CASE + one least() — an external SQL engine
    recomputes it exactly from its own ``len(vec)`` / ``count(*)``
    CTEs (the s_ivfpq_derived_topk oracle does)."""
    if dim <= 0:
        raise ValueError(f"auto_pq_geometry: dim must be positive, got {dim}")
    dsub = 4 if dim % 4 == 0 else (2 if dim % 2 == 0 else 1)
    m = dim // dsub
    ksub = (
        PQ_AUTO_KSUB if n_rows is None else max(1, min(PQ_AUTO_KSUB, int(n_rows)))
    )
    return m, ksub


def pq_codebooks(
    corpus: DataFrame,
    m: "int | None" = 4,
    ksub: "int | None" = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic PQ codebooks: the ``ksub`` corpus vectors with the
    smallest md5(id) (the same reproducible sample rule as
    ``ivf_centroids``) sliced into ``m`` subvectors each —
    ``codebooks[s][j]`` is code j+1's subvector for subspace s.  A
    k-means refinement is deliberately omitted for the same reason as in
    IVF: determinism enables cross-engine verification, and the sample
    is adequate for bucketing/compression.  The sample is tiny
    (ksub rows) — collecting it is a bounded driver probe.

    ``m=None`` / ``ksub=None`` derive from the corpus via
    :func:`auto_pq_geometry` (FAISS convention: one-byte codes,
    dim/4 subquantizers)."""
    if ksub is None:
        ksub = PQ_AUTO_KSUB  # the LIMIT shrinks naturally on small corpora
    h = F.md5(F.col(id_col).cast("string"))
    rows = (
        corpus.select(
            F.col(id_col), _as_double_vec(F.col(vec_col)).alias("vec"), h.alias("h")
        )
        .orderBy("h", id_col)
        .limit(ksub)
        .collect()
    )
    dim = len(rows[0]["vec"])
    if m is None:
        m = auto_pq_geometry(dim)[0]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [[float(x) for x in r["vec"][s * dsub : (s + 1) * dsub]] for r in rows]
        for s in range(m)
    ]


# Past this many codebook entries (m x ksub) pq_encode switches from
# the unrolled literal map to the Arrow-batched scan below.  Same
# driver as IVF_ASSIGN_UNROLL_MAX: the per-entry aggregate/zip_with
# fold is an interpreted HOF and the expression tree grows O(m·ksub·
# dsub) — at the FAISS-convention derived geometry (m=dim/4, ksub=256:
# 4096 entries at dim 64) the literal plan is both slow to build and
# past any sane plan-size budget, while 64-entry pinned layouts stay
# on the long-verified JVM-only path.
PQ_ENCODE_UNROLL_MAX = 512


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_unrolled_entries: "int | None" = None,
) -> DataFrame:
    """(id, codes array<int>) — per subspace, the 1-based code of the
    nearest codebook entry by squared L2.  The codebooks unroll into
    literal array expressions, so encoding is a NARROW map over the
    corpus (zero shuffle): at 100 TB this is the canonical compression
    pass, embarrassingly parallel over input splits, emitting m small
    ints per vector (a 64-dim float vector compresses 64x).

    Past ``max_unrolled_entries`` total codebook entries (default
    :data:`PQ_ENCODE_UNROLL_MAX`) the encode switches to an
    Arrow-batched ``mapInPandas`` scan (:func:`_pq_encode_arrow`) —
    still a narrow map, O(1) plan size in the geometry, and
    DECISION-IDENTICAL: the squared-L2 accumulates dimension-in-order
    (the exact IEEE sequence of the Catalyst fold) and argmin's
    first-minimum tie break IS the (distance ASC, code ASC)
    comparator.  The derived FAISS geometry (m=dim/4, ksub=256) rides
    this path; the pinned m=4/ksub=16 gate layouts stay unrolled."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cap = PQ_ENCODE_UNROLL_MAX if max_unrolled_entries is None else max_unrolled_entries
    v = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_vec(F.col(vec_col)).alias("vec")
    )
    if m * ksub > cap:
        return _pq_encode_arrow(v, codebooks)
    code_cols = []
    for s in range(m):
        sub = F.slice(F.col("vec"), s * dsub + 1, dsub)
        entries = []
        for j, cvec in enumerate(codebooks[s]):
            lit_vec = F.array(*[F.lit(x) for x in cvec])
            d = F.aggregate(
                F.zip_with(sub, lit_vec, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            entries.append(F.struct(d.alias("d"), F.lit(j + 1).alias("code")))
        ranked = F.array_sort(
            F.array(*entries),
            lambda a, b: F.when(a["d"] < b["d"], F.lit(-1))
            .when(a["d"] > b["d"], F.lit(1))
            .otherwise((a["code"] - b["code"]).cast("int")),
        )
        code_cols.append(ranked[0]["code"])
    return v.select("vec_id", F.array(*code_cols).alias("codes"))


def _pq_encode_arrow(v: DataFrame, codebooks: list) -> DataFrame:
    """The geometry-scalable pq_encode strategy: the codebook tensor
    broadcasts once and each corpus vector's m argmins run vectorized
    inside ``mapInPandas`` — a NARROW map (zero shuffle) whose plan
    size is O(1) in (m, ksub) where the unrolled literal map grows
    O(m·ksub·dsub) interpreted-HOF nodes.

    Decision identity with the unrolled map (so the SQL oracles that
    replay the encode hold through either path):

    * the squared-L2 to each codebook entry accumulates
      DIMENSION-IN-ORDER from 0.0 — ``acc = acc + (x_d - y_d)·(x_d -
      y_d)`` — the exact IEEE sequence of the Catalyst
      ``aggregate(zip_with(...))`` fold (the `_pairs_block_pandas`
      trick);
    * the pick replays the (distance ASC, code ASC) comparator:
      ``np.argmin`` returns the FIRST minimum and codes ascend with
      the array index, so exact ties break to the smaller code in
      both paths."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    CB = np.array(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = CB.shape
    bc = v.sparkSession.sparkContext.broadcast(CB)
    id_type = v.schema["vec_id"].dataType
    out_schema = StructType(
        [StructField("vec_id", id_type, True),
         StructField("codes", ArrayType(IntegerType()), True)]
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        CB = bc.value
        m, ksub, dsub = CB.shape
        for pdf in batches:
            for s0 in range(0, len(pdf), 1024):
                chunk = pdf.iloc[s0 : s0 + 1024]
                n = len(chunk)
                if n == 0:
                    continue
                V = np.stack(chunk.iloc[:, 1].to_numpy()).astype(np.float64)
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(m):
                    sub = V[:, s * dsub : (s + 1) * dsub]
                    acc = np.zeros((n, ksub), dtype=np.float64)
                    for d in range(dsub):
                        diff = sub[:, d][:, None] - CB[s, :, d][None, :]
                        acc = acc + diff * diff
                    codes[:, s] = np.argmin(acc, axis=1) + 1
                yield pd.DataFrame(
                    {"vec_id": chunk.iloc[:, 0].to_numpy(),
                     "codes": list(codes)}
                )

    return v.mapInPandas(fn, out_schema)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: "int | None" = 4,
    ksub: "int | None" = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ
    codes: each query precomputes an m x ksub lookup table of squared-L2
    distances to every codebook entry, and a corpus vector's distance is
    the sum of m table lookups — the scan touches only the compressed
    codes, never the raw vectors.  LUT entries are floored to integer
    micro-units so the per-vector sum is exact integer arithmetic
    (order-independent -> SQL-oracle replayable).

    Scale shape: one narrow encode pass over the corpus + a broadcast of
    (queries x m x ksub) ints + a two-stage top-k.  Zero corpus
    shuffles before the top-k reduction.  Output: (query_id, vec_id,
    adc_micro, rank) ascending by distance."""
    codebooks = pq_codebooks(corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
    # a corpus smaller than ksub yields a shorter codebook: the LUT
    # stride MUST be the actual entry count or lookups cross subspaces
    # (and m=None derives inside pq_codebooks — read both back)
    m = len(codebooks)
    ksub = len(codebooks[0])
    from .dedup import spread

    codes = pq_encode(spread(corpus), codebooks, id_col=id_col, vec_col=vec_col)
    lut_df = pq_query_lut(queries, codebooks, query_id_col, vec_col)
    scored = codes.crossJoin(F.broadcast(lut_df)).select(
        "query_id", "vec_id", pq_adc_column(m, ksub).alias("adc_micro")
    )
    return topk_asc(scored, k)


def pq_query_lut(
    queries: DataFrame,
    codebooks: list,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, lut array<bigint>): the per-query asymmetric-distance
    lookup table — squared-L2 to every codebook entry, floored to
    integer micro-units (order-independent sums -> SQL-replayable).
    Bounded driver work: queries x m x ksub entries.  The query-id
    column inherits the caller's type (string ids are as valid as
    longs — the PQ path never does arithmetic on them)."""
    import math

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("vec"),
    ).collect()
    qids, luts = [], []
    for r in q_rows:
        flat = []
        for s in range(m):
            qsub = [float(x) for x in r["vec"][s * dsub : (s + 1) * dsub]]
            for cvec in codebooks[s]:
                d = 0.0
                for x, y in zip(qsub, cvec):  # sequential fold = engine parity
                    d += (x - y) * (x - y)
                flat.append(int(math.floor(d * 1_000_000 + 0.5)))
        qids.append(r["query_id"])
        luts.append(flat)
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("lut", T.ArrayType(T.LongType())),
        ]
    )
    return local_dataframe(queries.sparkSession, [qids, luts], schema)


def pq_adc_column(m: int, ksub: int) -> Column:
    """Exact-integer ADC sum over a ``codes`` column against a ``lut``
    column: m element_at lookups, BIGINT fold.  ``ksub`` MUST be the
    actual codebook entry count or lookups cross subspaces."""
    return F.expr(
        f"aggregate(zip_with(codes, sequence(0, {m - 1}), "
        f"(c, s) -> element_at(lut, s * {ksub} + c)), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )


def topk_asc(scored: DataFrame, k: int, order_col: str = "adc_micro") -> DataFrame:
    """Two-stage ascending top-k per query_id (distance ranking): local
    per-partition prune, then the global rank over the survivors —
    never a global sort of the full scored set."""
    w_local = W.partitionBy("query_id", "salt").orderBy(
        F.col(order_col).asc(), F.col("vec_id")
    )
    local = (
        scored.withColumn("salt", F.spark_partition_id())
        .withColumn("r", F.row_number().over(w_local))
        .where(F.col("r") <= k)
        .drop("salt", "r")
    )
    w = W.partitionBy("query_id").orderBy(F.col(order_col).asc(), F.col("vec_id"))
    return local.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).where(F.col("rank") <= k)


def sq_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 scalar quantization (FAISS's SQ8 idea, per-vector max-abs
    scaling): ``codes[i] = floor(v[i] / scale * 127 + 0.5)`` with
    ``scale = max|v|`` — 8x smaller than float64, one NARROW map over
    the corpus (zero shuffle, the canonical compression pass at
    100 TB).  COSINE of the code vectors is scale-free (both per-vector
    scales cancel out of dot/(|a||b|)), so the compressed-domain
    ranking needs no scale column at all and every score is exact
    integer arithmetic over the codes ⇒ the whole path replays in SQL.
    Returns (vec_id, sq_codes array<int>, sq_norm2 bigint); an
    all-zero vector codes to zeros (norm2 0 — excluded from ranking)."""
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_vec(F.col(vec_col)).alias("vec"),
    ).withColumn(
        "__s", F.array_max(F.transform(F.col("vec"), lambda x: F.abs(x)))
    )
    out = v.select(
        "vec_id",
        F.transform(
            F.col("vec"),
            lambda x: F.when(F.col("__s") == 0, F.lit(0)).otherwise(
                F.floor(x / F.col("__s") * 127 + F.lit(0.5))
            ).cast("int"),
        ).alias("sq_codes"),
    )
    return out.withColumn(
        "sq_norm2",
        F.aggregate(
            F.col("sq_codes"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint") * x.cast("bigint"),
        ),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over int8 scalar-quantized vectors: the scan
    touches only the code arrays (8x compression), the score is the
    integer-cosine of the code vectors quantized to micro-units
    (``floor(dot / sqrt(n2_c * n2_q) * 1e6 + 0.5)`` — the established
    engine-parity rounding), ties break by vec_id.  Near-exact ranking
    (SQ8 keeps ~7 significant bits per component) at an 8th of the
    scan bytes — the middle rung between raw cosine and PQ/ADC.
    Output: (query_id, vec_id, score_micro, rank)."""
    from .dedup import spread

    corpus = spread(corpus)  # see cosine_topk_bruteforce
    c = sq_encode(corpus, id_col, vec_col)
    q = sq_encode(queries, query_id_col, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("sq_codes").alias("q_codes"),
        F.col("sq_norm2").alias("q_norm2"),
    )
    num = F.aggregate(
        F.zip_with(
            F.col("sq_codes"), F.col("q_codes"),
            lambda x, y: x.cast("bigint") * y.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where((F.col("sq_norm2") > 0) & (F.col("q_norm2") > 0))
        .select(
            "query_id",
            "vec_id",
            F.floor(
                num
                / F.sqrt((F.col("sq_norm2") * F.col("q_norm2")).cast("double"))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("score_micro"),
        )
    )
    return _topk_per_query(scored, k, score_col="score_micro")


def topk_recall(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against exact ground
    truth: per query, ``n_hits`` = |truth ∩ approx| and
    ``recall_micro`` = n_hits * 1e6 // k (exact integer — hash-gates).

    The index-quality measurement every ANN deployment runs before
    trusting an approximate index at scale (FAISS's own benchmark
    protocol): build the exact top-k for a bounded probe-query sample
    (brute force over Q×N is fine when |Q| is bounded), run the same
    queries through the candidate index, and report recall@k.  The
    query universe is the UNION of both sides' query ids: queries the
    approximate side missed entirely still get a row (n_hits=0 — a
    silent empty result is the failure mode this measurement exists to
    catch), and a query id present in approx but absent from truth
    ALSO surfaces as n_hits=0 rather than silently dropping — that row
    means the truth build skipped a query the index answered, i.e. the
    measurement inputs disagree, which the report must show, not hide.

    Scale shape: both inputs are ≤ k rows per query, so the equi-join
    and the per-query count shuffle k·|Q| rows total — the measurement
    costs nothing next to the searches that produced its inputs.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    t = truth.select(
        F.col(query_col).alias("query_id"), F.col(id_col).alias("vec_id")
    )
    a = approx.select(
        F.col(query_col).alias("query_id"), F.col(id_col).alias("vec_id")
    )
    hits = (
        t.join(a, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qs = (
        t.select("query_id")
        .unionByName(a.select("query_id"))
        .distinct()
    )
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.expr(f"coalesce(n_hits, 0) * 1000000 div {k}")
        .cast("long")
        .alias("recall_micro"),
    )
