"""Count-min sketch: construction pinned nibble-for-nibble against a
scalar reference (same md5-derived hashes), the one-sided guarantee,
mergeability, and the absent-key zero."""

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from fluxgraph_spark.functions import sketches

WORDS = (
    ["the"] * 50 + ["fox"] * 20 + ["lazy"] * 9 + ["dog"] * 5
    + [f"rare{i}" for i in range(40)]
)


def _h(key, j, width):
    return int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:15], 16) % width


def _ref_cms(words, depth, width):
    counters = Counter()
    for w, n in Counter(words).items():
        for j in range(depth):
            counters[(j, _h(w, j, width))] += n
    return counters


def _ref_est(counters, key, depth, width):
    return min(counters.get((j, _h(key, j, width)), 0) for j in range(depth))


@pytest.fixture(scope="module")
def words_df(spark):
    return spark.createDataFrame([(w,) for w in WORDS], ["word"])


def test_cms_build_matches_scalar_reference(spark, words_df):
    got = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in sketches.cms_build(words_df, "word", depth=3, width=64).collect()
    }
    assert got == dict(_ref_cms(WORDS, 3, 64))


def test_cms_estimate_one_sided_and_exact_reference(spark, words_df):
    cms = sketches.cms_build(words_df, "word", depth=3, width=64)
    keys = spark.createDataFrame(
        [(w,) for w in ["the", "fox", "lazy", "dog", "rare0", "absent"]], ["word"]
    )
    got = {
        r["key"]: r["est_n"]
        for r in sketches.cms_estimate(cms, keys, "word", depth=3, width=64).collect()
    }
    ref = _ref_cms(WORDS, 3, 64)
    true = Counter(WORDS)
    for k, est in got.items():
        assert est == _ref_est(ref, k, 3, 64)
        assert est >= true.get(k, 0)          # one-sided: never under
    assert got["absent"] >= 0
    # a wide sketch with few keys: heavy keys come back exact here
    wide = sketches.cms_build(words_df, "word", depth=4, width=1 << 14)
    got_w = {
        r["key"]: r["est_n"]
        for r in sketches.cms_estimate(cms=wide, keys=keys, key_col="word", depth=4, width=1 << 14).collect()
    }
    ref_w = _ref_cms(WORDS, 4, 1 << 14)
    assert all(got_w[k] == _ref_est(ref_w, k, 4, 1 << 14) for k in got_w)


def test_cms_merge_equals_whole(spark, words_df):
    rows = [r["word"] for r in words_df.collect()]
    a = rows[:60]
    b = rows[60:]
    df_a = spark.createDataFrame([(w,) for w in a], ["word"])
    df_b = spark.createDataFrame([(w,) for w in b], ["word"])
    whole = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in sketches.cms_build(words_df, "word", depth=3, width=32).collect()
    }
    # sketches of the parts merge by counter-wise sum into the whole's
    merged = {}
    for part in (df_a, df_b):
        for r in sketches.cms_build(part, "word", depth=3, width=32).collect():
            merged[(r["j"], r["bucket"])] = merged.get((r["j"], r["bucket"]), 0) + r["cnt"]
    assert merged == whole


def test_cms_weighted_build(spark):
    df = spark.createDataFrame([("a", 5), ("a", 2), ("b", 1)], ["word", "n"])
    cms = sketches.cms_build(df, "word", depth=2, width=16, weight_col="n")
    keys = spark.createDataFrame([("a",), ("b",)], ["word"])
    got = {
        r["key"]: r["est_n"]
        for r in sketches.cms_estimate(cms, keys, "word", depth=2, width=16).collect()
    }
    assert got["a"] >= 7 and got["b"] >= 1


def test_cms_bad_shape_raises(spark, words_df):
    with pytest.raises(ValueError):
        sketches.cms_build(words_df, "word", depth=0)
    with pytest.raises(ValueError):
        sketches.cms_build(words_df, "word", width=1)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def _ref_hll_regs(keys, p):
    m, w = 1 << p, 60 - p
    regs = {}
    for k in set(keys):
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        b = h >> w
        rem = h & ((1 << w) - 1)
        rho = w + 1 if rem == 0 else w + 1 - rem.bit_length()
        regs[b] = max(regs.get(b, 0), min(rho, 40))
    return regs


def test_hll_registers_match_scalar_reference(spark):
    keys = [f"key{i}" for i in range(500)] * 3  # duplicates must not matter
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r["bucket"]: r["register"]
        for r in sketches.hll_build(df, "k", p=6).collect()
    }
    assert got == _ref_hll_regs(keys, 6)


def test_hll_merge_equals_whole_and_estimate_accuracy(spark):
    keys = [f"u{i}" for i in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    whole = sketches.hll_build(df, "k", p=8)
    a = spark.createDataFrame([(k,) for k in keys[:900]], ["k"])
    b = spark.createDataFrame([(k,) for k in keys[900:]], ["k"])
    # sketches of the parts merge by register-wise max into the whole's
    as_dict = lambda d: {r["bucket"]: r["register"] for r in d.collect()}
    ra, rb = as_dict(sketches.hll_build(a, "k", p=8)), as_dict(sketches.hll_build(b, "k", p=8))
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in ra.keys() | rb.keys()}
    assert merged == as_dict(whole)
    st = sketches.hll_state(whole, p=8).collect()[0]
    # n=2000 >> 2.5m=640: raw-HLL regime; 1.04/sqrt(256) ~ 6.5% sigma
    assert abs(st["est_cents"] / 100.0 - 2000) <= 0.2 * 2000
    # exact-integer digest recomputed from the scalar registers
    regs = _ref_hll_regs(keys, 8)
    n_scaled = sum(1 << (40 - v) for v in regs.values()) + (256 - len(regs)) * (1 << 40)
    assert st["n_scaled"] == n_scaled
    assert st["zeros"] == 256 - len(regs)


def test_hll_linear_counting_small_n(spark):
    keys = [f"s{i}" for i in range(40)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    hll = sketches.hll_build(df, "k", p=8)
    est = sketches.hll_estimate(hll, p=8).collect()[0]["estimate"]
    assert abs(est - 40) <= 0.25 * 40  # linear counting is tight here


def test_hll_grouped_and_bad_p(spark):
    rows = [("a", i) for i in range(300)] + [("b", i) for i in range(50)]
    df = spark.createDataFrame(rows, ["g", "k"])
    st = {
        r["g"]: r
        for r in sketches.hll_state(
            sketches.hll_build(df, "k", p=6, group_cols=("g",)),
            p=6,
            group_cols=("g",),
        ).collect()
    }
    assert set(st) == {"a", "b"}
    assert st["a"]["zeros"] < st["b"]["zeros"]  # more keys touch more registers
    with pytest.raises(ValueError, match="p must"):
        sketches.hll_build(df, "k", p=2)


def test_kmv_matches_scalar_reference_and_merges(spark):
    """KMV k-minimum-values sketch (r7): kept hashes == the scalar
    k-smallest of the md5 family, two-level rank == naive global rank,
    estimate exact below k and within the analytic error above it,
    merge(a, b) == build(a ∪ b), NULL keys excluded, bad k rejected."""
    import hashlib

    from fluxgraph_spark.functions import sketches as SK

    def h60(key):
        return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)

    keys = [f"key{i}" for i in range(500)] + [f"key{i}" for i in range(100)]
    rows = [(k, "g1") for k in keys] + [(f"only{i}", "g2") for i in range(5)]
    rows.append((None, "g1"))
    df = spark.createDataFrame(rows, "k string, grp string")

    k = 33
    sk = SK.kmv_build(df, "k", k=k, group_cols=("grp",))
    got = {
        (r["grp"], r["pos"]): r["h"] for r in sk.collect()
    }
    want_g1 = sorted(h60(f"key{i}") for i in range(500))[:k]
    for pos, hv in enumerate(want_g1, 1):
        assert got[("g1", pos)] == hv
    assert sum(1 for g, _ in got if g == "g2") == 5  # below k: whole set

    st = {r["grp"]: r for r in SK.kmv_state(sk, k=k, group_cols=("grp",)).collect()}
    assert st["g2"]["est"] == 5 and st["g2"]["n_kept"] == 5
    est = st["g1"]["est"]
    assert abs(est - 500) <= 500 * 0.6  # ~18% stderr at k=33; generous
    import math
    assert st["g1"]["h_k"] == want_g1[-1]
    import functools, operator
    assert st["g1"]["digest"] == functools.reduce(operator.xor, want_g1)
    # the estimator arithmetic is the exact double division
    assert est == math.floor(float((k - 1) << 60) / float(want_g1[-1]))

    # merge == build over the union
    half_a = df.where(F.col("k").isNotNull() & (F.length("k") % 2 == 0))
    half_b = df.where(F.col("k").isNotNull() & (F.length("k") % 2 == 1))
    m = SK.kmv_merge(
        SK.kmv_build(half_a, "k", k=k, group_cols=("grp",)),
        SK.kmv_build(half_b, "k", k=k, group_cols=("grp",)),
        k=k, group_cols=("grp",),
    )
    full = SK.kmv_build(df, "k", k=k, group_cols=("grp",))
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, full.collect()))

    with pytest.raises(ValueError, match="power of two"):
        SK.kmv_build(df, "k", k=20)


def test_sample_bottomk_deterministic_uniform_mergeable(spark):
    """sample_bottomk (r7): the kept rows equal the scalar bottom-k of
    the identity hashes, per-shard bottom-k merges to the global
    bottom-k, repartitioning changes nothing, and k >= group size keeps
    everything."""
    import hashlib

    from fluxgraph_spark.functions import sketches as SK

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [(i, "g%d" % (i % 2), i * 10) for i in range(200)]
    df = spark.createDataFrame(rows, "rid long, grp string, val long")

    k = 9
    got = {
        (r["grp"], r["__rank"]): r["rid"]
        for r in SK.sample_bottomk(df, ["rid"], k=k, group_cols=("grp",)).collect()
    }
    for grp in ("g0", "g1"):
        members = [rid for rid, g, _ in rows if g == grp]
        want = sorted(members, key=lambda rid: (h60(str(rid)), rid))[:k]
        for pos, rid in enumerate(want, 1):
            assert got[(grp, pos)] == rid, (grp, pos)

    # shard-merge: bottom-k of per-shard bottom-k == global bottom-k
    a = df.where(F.col("rid") % 3 == 0)
    b = df.where(F.col("rid") % 3 != 0)
    merged = SK.sample_bottomk(
        SK.sample_bottomk(a, ["rid"], k=k, group_cols=("grp",)).drop("__rank")
        .unionByName(
            SK.sample_bottomk(b, ["rid"], k=k, group_cols=("grp",)).drop("__rank")
        ),
        ["rid"], k=k, group_cols=("grp",),
    )
    direct = SK.sample_bottomk(df, ["rid"], k=k, group_cols=("grp",))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))

    # partitioning-independent
    re = SK.sample_bottomk(df.repartition(13), ["rid"], k=k, group_cols=("grp",))
    assert sorted(map(tuple, re.collect())) == sorted(map(tuple, direct.collect()))

    # k >= n keeps all rows
    allrows = SK.sample_bottomk(df, ["rid"], k=1000, group_cols=("grp",))
    assert allrows.count() == 200
    with pytest.raises(ValueError, match="k must be"):
        SK.sample_bottomk(df, ["rid"], k=0)


def test_kmv_theta_ops_exact_when_unsaturated(spark):
    """Both sketches keep < k hashes -> theta = 2^60 and every estimate
    IS the exact set-op count."""
    from fluxgraph_spark.functions.sketches import kmv_build, kmv_theta_ops

    a = spark.createDataFrame([(i,) for i in range(40)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(25, 60)], ["k"])
    out = kmv_theta_ops(
        kmv_build(a, "k", k=129), kmv_build(b, "k", k=129), k=129
    ).collect()[0]
    assert out["theta_h"] == 1 << 60
    assert out["n_union"] == out["union_est"] == 60
    assert out["n_inter"] == out["inter_est"] == 15
    assert out["n_a_only"] == out["diff_est"] == 25


def test_kmv_theta_ops_saturated_matches_scalar_reference(spark):
    """Saturated sketches: replay theta / samples / estimates with
    hashlib and compare every column."""
    import hashlib

    from fluxgraph_spark.functions.sketches import kmv_build, kmv_theta_ops

    def h(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    k = 129
    A = list(range(1000))
    B = list(range(500, 2200))
    a = spark.createDataFrame([(i,) for i in A], ["k"])
    b = spark.createDataFrame([(i,) for i in B], ["k"])
    ka = sorted(h(x) for x in set(A))[:k]
    kb = sorted(h(x) for x in set(B))[:k]
    theta = min(ka[-1], kb[-1])
    sa = {x for x in ka if x < theta}
    sb = {x for x in kb if x < theta}
    full = 1 << 60

    def est(n):
        return int(float(n) * float(full) / float(theta))

    out = kmv_theta_ops(
        kmv_build(a, "k", k=k), kmv_build(b, "k", k=k), k=k
    ).collect()[0]
    assert out["theta_h"] == theta
    assert out["n_union"] == len(sa | sb)
    assert out["n_inter"] == len(sa & sb)
    assert out["n_a_only"] == len(sa - sb)
    assert out["union_est"] == est(len(sa | sb))
    assert out["inter_est"] == est(len(sa & sb))
    assert out["diff_est"] == est(len(sa - sb))
    # sanity: the union estimate lands near the true 2200
    assert abs(out["union_est"] - 2200) < 2200 * 0.3
