"""Hot-key skew guards: the LSH hot-bucket star cap."""


def _hot_bucket_corpus(spark):
    """120 byte-identical docs (ids 0..119 — ONE hot LSH bucket in every
    band) + 30 fully distinct docs (disjoint shingle sets)."""
    hot = [(i, "the same boilerplate page body repeated everywhere") for i in range(120)]
    cold = [
        (200 + i, " ".join(f"tok{i}x{j}" for j in range(12))) for i in range(30)
    ]
    return spark.createDataFrame(hot + cold, ["doc_id", "text"])


def test_lsh_hot_bucket_cap_star_fallback(spark):
    """A hot band bucket of m members makes m*(m-1)/2 candidate pairs in
    one reducer (quadratic task, AQE can't split re-pairing work);
    max_bucket_size caps it to an O(m) member<->representative star with
    the SAME transitive clusters."""
    from fluxgraph_spark.functions import dedup

    docs = _hot_bucket_corpus(spark)
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)

    banded = dedup.band_table(sig, num_hashes=16, bands=4)
    uncapped = dedup.pairs_from_bands(banded)
    capped = dedup.pairs_from_bands(banded, max_bucket_size=50)
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped >= 120 * 119 // 2  # quadratic blow-up is real
    assert n_capped <= 200               # star is linear
    # star keeps every hot doc connected to the representative (id 0)
    star = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    hot_connected = {b for (a, b) in star if a == 0} | {a for (a, b) in star if b == 0}
    assert hot_connected == set(range(1, 120))

    # end-to-end: capped dedupe keeps exactly one of the 120 identical
    # docs and all 30 distinct ones — identical to the uncapped result
    kept_capped = sorted(
        r["doc_id"]
        for r in dedup.dedupe_near(
            docs, "doc_id", "text", max_bucket_size=50
        ).collect()
    )
    kept_uncapped = sorted(
        r["doc_id"] for r in dedup.dedupe_near(docs, "doc_id", "text").collect()
    )
    assert kept_capped == kept_uncapped == [0] + [200 + i for i in range(30)]
