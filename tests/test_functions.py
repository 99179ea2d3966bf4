"""Pipeline-function tests: text analysis, dedup, similarity, multimodal
plumbing — on the driver testdata plus cross-engine hash determinism."""

import duckdb
import pytest
from pyspark.sql import functions as F

from fluxgraph_spark.functions import dedup, multimodal, similarity, text
from fluxgraph_spark.sources.tpch import read_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tables(spark):
    return read_tables(spark, SF_DIR)


def test_stable_hash64_matches_duckdb(spark):
    df = spark.createDataFrame([("hello",), ("wörld",), ("",)], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", text.stable_hash64(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for s, h in got.items():
        dd = con.execute(
            "SELECT ('0x' || substring(md5(?),1,15))::UBIGINT", [s]
        ).fetchone()[0]
        assert dd == h, s


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("don't stop-me now",)], "t string")
    rows = df.select(
        text.token_count(F.col("t")).alias("n"),
        text.bpe_token_count(F.col("t")).alias("b"),
    ).collect()
    assert [r["n"] for r in rows] == [3, 0, 0, 3]
    # don ' t stop - me now -> 7 BPE-ish pieces
    assert rows[3]["b"] == 7


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in that house with food",),
            ("der Hund und die Katze ist nicht ein Tier mit",),
            ("le chat est dans la maison et les chiens",),
            ("xyzzy qwerty 12345",),
        ],
        "text string",
    )
    langs = [r["l"] for r in df.select(text.language_id(F.col("text")).alias("l")).collect()]
    assert langs == ["en", "de", "fr", "und"]


def test_quality_and_fingerprint(tables):
    docs = tables["documents"]
    q = text.quality_score(docs, "text")
    rows = q.select("doc_id", "quality_score").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    fp = docs.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))
    # identical texts share a fingerprint; token order does not matter
    spark = docs.sparkSession
    pair = spark.createDataFrame([(1, "b a c"), (2, "c a b"), (3, "a b d")], "doc_id long, text string")
    fps = [r["fp"] for r in pair.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_exact_dedup(tables):
    docs = tables["documents"]
    spark = docs.sparkSession
    dup = docs.limit(5).union(docs.limit(3))  # inject exact dups
    groups = dedup.exact_duplicate_groups(dup, "doc_id", "text")
    assert groups.count() == 3
    kept = dedup.dedupe_exact(dup, "doc_id", "text")
    assert kept.count() == 5


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    near = base.replace("lazy", "sleepy")
    far = "completely different words about database systems and query engines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "id long, text string"
    )
    sh = dedup.shingle_table(df, "id", "text", n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    pairs = dedup.pairs_from_bands(dedup.band_table(sig, num_hashes=16, bands=8))
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 4) in got  # identical docs always collide
    assert (1, 2) in got  # near-dup should collide in >=1 of 8 bands
    # estimated Jaccard: the fraction of matching signature components
    mh = {r["id"]: [r[f"mh_{i}"] for i in range(16)] for r in sig.collect()}
    est = {p: sum(x == y for x, y in zip(mh[p[0]], mh[p[1]])) / 16 for p in got}
    assert est[(1, 4)] == 1.0
    assert est[(1, 2)] > 0.3


def test_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        "id long, text string",
    )
    sh = dedup.shingle_table(df, "id", "text", n=2)
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.jaccard_pairs(sh).collect()}
    # doc1: {a b, b c, c d, d e}; doc2: {a b, b c, c d, d f}: inter 3, union 5
    assert abs(out[(1, 2)] - 0.6) < 1e-9
    assert (1, 3) not in out


def test_simhash_near(spark):
    base = "spark dataframes execute queries with catalyst optimizer and tungsten engine"
    near = base.replace("tungsten", "codegen")
    far = "grateful dead concerts feature long improvised jams and setlist variations"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    sim = dedup.simhash(df, "id", "text", bits=32)
    vals = {r["id"]: r["simhash"] for r in sim.collect()}
    assert all(0 <= v < 2 ** 32 for v in vals.values())
    def hamming(a, b):
        return bin(vals[a] ^ vals[b]).count("1")

    # one changed token moves few bits; an unrelated text about half
    assert hamming(1, 2) < hamming(1, 3)


def test_embedding_near_dup_and_topk(tables, spark):
    emb = tables["embeddings"]
    pairs = dedup.embedding_near_dup_pairs(
        emb, block_col="label", threshold=0.99
    )
    assert pairs.count() >= 0  # runs; threshold high so usually small
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    rows = topk.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        best = [r for r in rs if r["rank"] == 1][0]
        assert best["vec_id"] == qid  # self is its own nearest neighbor
        assert abs(best["cosine"] - 1.0) < 1e-4
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_topk_recall(tables):
    emb = tables["embeddings"]
    dim = len(emb.first()["embedding"])
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk_bruteforce(emb, queries, k=10)
    approx = similarity.cosine_topk_lsh(emb, queries, dim=dim, k=10, planes=4, probes=1)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4  # 4 planes + distance-1 multi-probe
    # every query at least finds itself
    assert all((q, q) in a for q, _ in {(r, r) for r in [x[0] for x in e]})


def test_ivf_topk_recall(tables):
    emb = tables["embeddings"]
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk_bruteforce(emb, queries, k=10)
    approx = similarity.cosine_topk_ivf(
        emb, queries, k=10, n_centroids=8, n_probe=4
    )
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # probing half the buckets: decent recall, and each query finds itself
    assert len(e & a) / len(e) >= 0.4
    assert all((q, q) in a for q in {x[0] for x in e})


def test_cluster_sample_equals_naive_single_window(spark, tables):
    """The two-level skew-capped rank (per-md5-prefix prefilter, then
    the exact window over survivors) must select EXACTLY the naive
    global per-cluster window's rows."""
    from pyspark.sql import Window as W

    emb = tables["embeddings"]
    got = similarity.cluster_sample(emb, quota=7, n_centroids=8)
    cents = similarity.ivf_centroids(emb, 8)
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    assigned = similarity.ivf_assign(v, cents, 1, "vec_id", "vec").withColumnRenamed(
        "id", "vec_id"
    )
    h = F.md5(F.col("vec_id").cast("string"))
    w = W.partitionBy("centroid_id").orderBy(h.asc(), F.col("vec_id"))
    naive = (
        assigned.withColumn("pick_rank", F.row_number().over(w))
        .where(F.col("pick_rank") <= 7)
        .select("vec_id", "centroid_id", "pick_rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_cluster_sample_quota_and_coverage(tables):
    emb = tables["embeddings"]
    rows = similarity.cluster_sample(emb, quota=5, n_centroids=8).collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r["centroid_id"], []).append(r["pick_rank"])
    for c, ranks in by_c.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    # a quota >= corpus size selects EVERY vector exactly once (the
    # clusters partition the corpus)
    n = emb.count()
    full = similarity.cluster_sample(emb, quota=n, n_centroids=8).collect()
    assert len(full) == n
    assert len({r["vec_id"] for r in full}) == n


def test_cluster_sample_bad_quota_raises(tables):
    with pytest.raises(ValueError, match="quota"):
        similarity.cluster_sample(tables["embeddings"], quota=0)


def test_multimodal_plumbing(tables):
    docs = tables["documents"].limit(20)
    media = multimodal.media_table_from_documents(docs)
    feats = multimodal.extract_features(media, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # determinism
    again = multimodal.extract_features(media, decoder="fake").collect()
    assert {r["media_id"]: tuple(r["feature"]) for r in rows} == {
        r["media_id"]: tuple(r["feature"]) for r in again
    }
    resized = multimodal.resize_images(media, 64, 64).collect()
    assert all(r["meta"]["width"] == 64 for r in resized)
    # decoder="real" decodes PNG/WAV since round 3 (test_multimodal_real);
    # on these md5-fake bytes it must refuse loudly, not guess
    with pytest.raises(Exception, match="PNG and WAV"):
        multimodal.extract_features(media, decoder="real").collect()


def test_rolling_hashes(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")], "id long, t string"
    )
    out = df.select(text.rolling_hashes(F.col("t"), window=4).alias("rh")).first()["rh"]
    assert len(out) == 7  # 10 tokens, window 4 -> 7 grams
    assert len(set(out)) == 7


def test_hashed_shingle_jaccard_matches_string_shingles(spark):
    """The scale path (hashed shingle arrays + array_intersect) must
    produce the same Jaccard numbers as the string-shingle reference
    path (shingle_table + jaccard_pairs) — collisions in 64-bit hash
    space are negligible at any realistic corpus size."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(5, 25))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.4:  # add a near-dup with one token changed
            mut = list(base)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, "id long, text string")

    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            dedup.shingle_table(df, "id", "text", n=3)
        ).collect()
    }

    sh = dedup.shingle_arrays(df, "id", "text", n=3)
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") > 0)
        .collect()
    }
    for pair, j in want.items():
        if j > 0:
            assert pair in got and abs(got[pair] - j) < 1e-6, (pair, j, got.get(pair))


def test_dedupe_near_transitive_clusters(spark):
    """A~B and B~C near-dups but A,C farther apart: all three must land
    in one cluster and only the min id survives."""
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = a.replace("zeta", "zzz")
    c = b.replace("kappa", "qqq")
    far = "totally unrelated content about spark shuffles and parquet readers"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, far)], "doc_id long, text string"
    )
    pairs = dedup.minhash_lsh_dedup(df, "doc_id", "text", bands=8, threshold=0.3)
    clusters = dedup.near_dup_clusters(pairs)
    got = {r["id"]: r["cluster"] for r in clusters.collect()}
    assert got.get(1) == 1 and got.get(2) == 1 and got.get(3) == 1
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedupe_near(
            df, "doc_id", "text", bands=8, threshold=0.3
        ).collect()
    )
    assert kept == [1, 9]


def test_scrub_pii_placeholders(spark):
    from fluxgraph_spark.functions import text as TX

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@example.co.uk or call +1 (555) 123-4567 from 10.0.0.1"),
         (2, "no pii here")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        TX.scrub_pii(F.col("text")).alias("clean"),
        *[c.alias(n) for c, n in zip(TX.pii_counts(F.col("text")), ["ne", "np", "ni"])],
    ).collect()}
    assert rows[1]["ne"] == 1 and rows[1]["np"] == 1 and rows[1]["ni"] == 1
    assert "<EMAIL>" in rows[1]["clean"] and "<PHONE>" in rows[1]["clean"] and "<IP>" in rows[1]["clean"]
    assert "example" not in rows[1]["clean"] and "555" not in rows[1]["clean"]
    assert rows[2]["clean"] == "no pii here" and rows[2]["ne"] == 0


def test_repetition_metrics(spark):
    from fluxgraph_spark.functions import text as TX

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),   # 7 trigrams, 3 distinct
         (2, "all words unique here now")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in TX.repetition_metrics(df).collect()}
    assert rows[1]["n_grams"] == 7 and rows[1]["n_distinct_grams"] == 3
    assert rows[1]["dup_gram_ratio"] == round(4 / 7, 6)
    assert rows[2]["dup_gram_ratio"] == 0.0


def test_split_assign_deterministic_partition(spark):
    from fluxgraph_spark.functions import text as TX

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    out1 = {r["doc_id"]: r["split"] for r in df.select(
        "doc_id", TX.split_assign(F.col("doc_id")).alias("split")).collect()}
    # same assignment at different parallelism (no RNG state)
    out2 = {r["doc_id"]: r["split"] for r in df.repartition(7).select(
        "doc_id", TX.split_assign(F.col("doc_id")).alias("split")).collect()}
    assert out1 == out2
    counts = {s: sum(1 for v in out1.values() if v == s) for s in {"train", "val", "test"}}
    # ~90/5/5 with hash noise
    assert counts["train"] > 800 and 10 < counts["val"] < 100 and 10 < counts["test"] < 100


def test_edit_distance_pairs_matches_scalar_reference(spark):
    """edit_distance_pairs (r8): exact Levenshtein + integer-micro
    similarity over a candidate block equals a scalar DP reference;
    the thresholded (banded) form is decision-identical to filtering
    the plain distance; NULL text reads as empty; bad max_dist raises."""
    import pytest as _pt

    from fluxgraph_spark.functions import dedup

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    texts = {1: "kitten", 2: "sitting", 3: "kitte", 4: "", 5: None,
             6: "a completely different sentence", 7: "kitten"}
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    block_pairs = [(1, 2), (1, 3), (4, 5), (2, 3), (1, 6), (1, 7)]
    block = spark.createDataFrame(block_pairs, ["id_a", "id_b"])

    def want(max_dist=None):
        out = set()
        for a, b in block_pairs:
            ta, tb = texts[a] or "", texts[b] or ""
            d = lev(ta, tb)
            if max_dist is not None and d > max_dist:
                continue
            ml = max(len(ta), len(tb))
            sim = 1_000_000 if ml == 0 else (ml - d) * 1_000_000 // ml
            out.add((a, b, d, sim))
        return out

    got = {
        tuple(r)
        for r in dedup.edit_distance_pairs(df, "doc_id", "text", block).collect()
    }
    assert got == want()
    got_t = {
        tuple(r)
        for r in dedup.edit_distance_pairs(
            df, "doc_id", "text", block, max_dist=3
        ).collect()
    }
    assert got_t == want(3) and len(got_t) < len(got)
    with _pt.raises(ValueError, match="max_dist"):
        dedup.edit_distance_pairs(df, "doc_id", "text", block, max_dist=-1)


def test_winnow_candidate_pairs(spark):
    from fluxgraph_spark.functions import dedup as DD

    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, shared + " tail a"), (2, shared + " other ending here"),
         (3, "completely different words with no overlap at all today")],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             DD.winnow_candidate_pairs(df, "doc_id", "text", window=8, k=4).collect()}
    # 1 and 2 share the 8-token run -> same window hash; 3 pairs with nobody
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_contamination_hits(spark):
    from fluxgraph_spark.functions import dedup as DD

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    probe = spark.createDataFrame(
        [
            # shares the 4-gram "beta gamma delta epsilon" with the benchmark
            (1, "x beta gamma delta epsilon y"),
            # no shared 4-token window
            (2, "totally unrelated words that overlap with nothing else"),
        ],
        ["doc_id", "text"],
    )
    hits = {r["doc_id"]: r["n_hits"] for r in
            DD.contamination_hits(probe, bench, window=4).collect()}
    assert hits.get(1, 0) >= 1
    assert 2 not in hits


def test_cross_doc_span_stats(spark):
    from fluxgraph_spark.functions import dedup as DD

    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            # 1 and 2 share the 8-token run; their other windows differ
            (1, shared + " unique tail for doc one"),
            (2, shared + " another distinct ending entirely"),
            (3, "completely different words with no overlap at all today"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in DD.cross_doc_span_stats(df, "doc_id", "text", window=8).collect()
    }
    # every doc reports all of its distinct windows (13 and 12 tokens)
    assert out[1]["n_windows"] == 6 and out[2]["n_windows"] == 5
    # exactly the one leading window is shared between 1 and 2
    assert out[1]["n_shared"] == 1 and out[2]["n_shared"] == 1
    assert out[3]["n_shared"] == 0
    assert abs(out[1]["span_dup_ratio"] - round(1 / 6, 6)) < 1e-9
    # a byte-identical pair shares every window
    dup = spark.createDataFrame(
        [(10, shared), (11, shared), (12, "nothing in common here at all")],
        ["doc_id", "text"],
    )
    dout = {r["doc_id"]: r for r in
            DD.cross_doc_span_stats(dup, "doc_id", "text", window=8).collect()}
    assert dout[10]["span_dup_ratio"] == 1.0 == dout[11]["span_dup_ratio"]


def test_stratified_sample(spark):
    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = text.stratified_sample(
        df, "lang", {"en": 1.0, "zh": 0.25}, "doc_id"
    ).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # rate-1.0 stratum is kept in full; absent stratum ("fr") never appears
    assert len(by_lang["en"]) == 200
    # rate-0.25 stratum lands near 50 of 200 (hash-uniform, not exact)
    assert 25 <= len(by_lang["zh"]) <= 85
    # deterministic: a second draw with the same salt is identical,
    # a different salt draws a different subset
    again = {r["doc_id"] for r in text.stratified_sample(
        df, "lang", {"en": 1.0, "zh": 0.25}, "doc_id").collect()}
    assert again == by_lang["en"] | by_lang["zh"]
    other = {r["doc_id"] for r in text.stratified_sample(
        df, "lang", {"zh": 0.25}, "doc_id", salt="other").collect()}
    assert other != by_lang["zh"]


def test_label_centroids_exact(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, -10.0])],
        ["label", "embedding"],
    )
    out = {(r["label"], r["pos"]): (r["centroid_micro"], r["n_vecs"])
           for r in similarity.label_centroids(df).collect()}
    assert out[(0, 0)] == (2_000_000, 2)
    assert out[(0, 1)] == (4_000_000, 2)
    assert out[(1, 0)] == (10_000_000, 1)
    assert out[(1, 1)] == (-10_000_000, 1)
    # partitioning-independent: single-partition result identical
    one = {(r["label"], r["pos"]): (r["centroid_micro"], r["n_vecs"])
           for r in similarity.label_centroids(df.coalesce(1)).collect()}
    assert one == out


def test_dedupe_keep_best(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta one two three four SHORT", 10),
            (2, "alpha beta gamma delta one two three four plus a longer tail", 20),
            (3, "entirely different leading words here for this doc ok", 5),
        ],
        ["doc_id", "text", "n_chars"],
    )
    key = dedup.leading_window_key(F.col("text"), window=8)
    kept = {r["doc_id"] for r in
            dedup.dedupe_keep_best(df, "doc_id", key, "n_chars").collect()}
    # docs 1 and 2 share the leading 8-token window; 2 is longer and wins
    assert kept == {2, 3}
    # without a preference the smallest id wins
    kept_min = {r["doc_id"] for r in
                dedup.dedupe_keep_best(df, "doc_id", key).collect()}
    assert kept_min == {1, 3}


def test_quality_weighted_sample(spark):
    junk = "!!! ??? ;;; ::: ,,, ... (((" * 3
    good = ("the quick brown fox jumps over the lazy dog and then keeps "
            "running through the field with steady confident strides") * 3
    df = spark.createDataFrame(
        [(i, good if i % 2 == 0 else junk) for i in range(200)],
        ["doc_id", "text"],
    )
    kept = text.quality_weighted_sample(df, "doc_id").collect()
    by_kind = {"good": 0, "junk": 0}
    for r in kept:
        by_kind["good" if r["doc_id"] % 2 == 0 else "junk"] += 1
    # high-quality docs survive at a much higher rate than junk
    assert by_kind["good"] > 60
    assert by_kind["junk"] < by_kind["good"] / 2
    # deterministic across invocations
    again = {r["doc_id"] for r in text.quality_weighted_sample(df, "doc_id").collect()}
    assert again == {r["doc_id"] for r in kept}


def test_semantic_dedupe_clusters_transitively(spark):
    """A~B and B~C must collapse to ONE survivor even when A!~C
    (pairwise filtering would keep two); far-away vectors are
    singleton representatives of themselves."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.98, 0.199], 0),   # ~A (cos≈0.98), ~C
        (3, [0.92, 0.392], 0),   # ~B (cos≈0.98), vs A cos≈0.92
        (10, [0.0, 1.0], 0),     # far from the chain
        (20, [1.0, 0.0], 1),     # other block: never joins block 0
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], b) for i, v, b in rows],
        "vec_id long, embedding array<double>, label int",
    )
    out = {
        r["id"]: (r["rep_id"], r["kept"])
        for r in dedup.semantic_dedupe(
            df, block_col="label", threshold=0.95, max_iters=4
        ).collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (1, 0)
    assert out[3] == (1, 0)   # transitive: in A's cluster via B
    assert out[10] == (10, 1)  # singleton keeps itself
    assert out[20] == (20, 1)  # blocking key isolates label 1


def test_dedupe_near_reproducible_matches_closure(spark):
    """md5-family corpus dedup: A~B~C chain collapses to min-id survivor
    and the survivor set equals a driver-side transitive closure over
    the verified pairs (the property the recursive-CTE oracle relies
    on)."""
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = a.replace("zeta", "zzz")
    c = b.replace("kappa", "qqq")
    far = "totally unrelated content about spark shuffles and parquet readers"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, far)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedupe_near_reproducible(
            df, "doc_id", "text", bands=8, threshold=0.3
        ).collect()
    )
    assert kept == [1, 9]


def test_embedding_default_block_is_lsh(spark):
    """With no block_col the default is multi-probe hyperplane-LSH
    blocking: (a) every label-blocked near-dup pair is also found by the
    default blocker (recall >= label-blocked on the fixture), (b) the
    default never invents pairs the exact all-pairs scan lacks, and
    (c) the default plan is an equi-join, not a cartesian product."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.98, 0.199], 0),
        (3, [0.92, 0.392], 0),
        (10, [0.0, 1.0], 0),
        (20, [1.0, 0.0], 1),    # identical to 1, other label
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], b) for i, v, b in rows],
        "vec_id long, embedding array<double>, label int",
    )
    pair_set = lambda d: {
        (r["id_a"], r["id_b"]) for r in d.collect()
    }
    labeled = pair_set(
        dedup.embedding_near_dup_pairs(df, block_col="label", threshold=0.95)
    )
    default = dedup.embedding_near_dup_pairs(df, threshold=0.95)
    default_set = pair_set(default)
    exact = pair_set(
        dedup.embedding_near_dup_pairs(df, threshold=0.95, exact=True)
    )
    assert labeled <= default_set          # blocked recall >= label-blocked
    assert default_set <= exact            # blocking only prunes
    assert (1, 20) in default_set          # cross-label dup found by LSH
    plan = default._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_minhash_lsh_reproducible_finds_planted_dups(spark):
    """The md5-family LSH pipeline recovers a planted near-duplicate
    pair and never emits a pair below the Jaccard threshold."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base + "alpha beta gamma"),
        (2, base + "alpha beta delta"),          # near-dup of 1
        (3, "completely different text about spark engines and parquet"),
        (4, "another unrelated document mentioning ducks and databases"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_dedup_reproducible(
        df, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (1, 2) in pairs
    assert all(j >= 0.5 for j in pairs.values())


def test_sequence_packing_boundaries(spark):
    """Greedy sequential packing: a doc starts a new pack when the
    preceding docs already fill the budget; oversized docs own packs."""
    import __spark_entry__ as em
    rows = [
        (1, "a " * 1000, "s"),   # 1000 tokens -> pack 0
        (2, "b " * 1000, "s"),   # cum-before 1000 -> pack 0
        (3, "c " * 1000, "s"),   # cum-before 2000 -> pack 0 (floor 2000/2048)
        (4, "d " * 5000, "s"),   # cum-before 3000 -> pack 1 (spans onward)
        (5, "e " * 10, "s"),     # cum-before 8000 -> pack 3
        (6, "f " * 10, "t"),     # other shard restarts at pack 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    import fluxgraph_spark.sources.tpch as tpch_mod
    orig = tpch_mod.read_tables
    tpch_mod.read_tables = lambda spark_, sf_: {"documents": df}
    try:
        out = {
            (r["source"], r["pack_id"]): (r["n_docs"], r["first_doc"])
            for r in em.q_x_pack(spark, None).collect()
        }
    finally:
        tpch_mod.read_tables = orig
    assert out[("s", 0)] == (3, 1)
    assert out[("s", 1)] == (1, 4)
    assert out[("s", 3)] == (1, 5)
    assert out[("t", 0)] == (1, 6)


def test_pack_sequences_greedy_resets_at_boundary(spark):
    """The ADVICE divergence case: 3 docs x 1000 tokens, budget 2048.
    Cumulative bucketing puts all three in pack 0 (overflow to 3000);
    TRUE greedy closes pack 0 at two docs and opens pack 1.  Also: an
    oversized doc gets its own pack and ids never skip."""
    from fluxgraph_spark.functions.text import pack_sequences_greedy

    rows = [
        # shard A: 1000+1000 fit, third resets
        ("a", 1, 1000), ("a", 2, 1000), ("a", 3, 1000),
        # shard B: oversized doc alone, then two small ones share
        ("b", 1, 5000), ("b", 2, 100), ("b", 3, 100),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    got = {
        (r["source"], r["doc_id"]): r["pack_id"]
        for r in pack_sequences_greedy(
            df, "source", "doc_id", "n_tokens", budget=2048
        ).collect()
    }
    assert got == {
        ("a", 1): 0, ("a", 2): 0, ("a", 3): 1,
        ("b", 1): 0, ("b", 2): 1, ("b", 3): 1,
    }


def test_pq_adc_topk_separates_clusters(spark):
    """PQ compressed-domain search: with three well-separated clusters,
    a query's top-k contains only members of its own cluster, and the
    codes table is m small ints per vector."""
    import random

    from fluxgraph_spark.functions import similarity

    rng = random.Random(7)
    rows = []
    centers = {0: 0.0, 1: 10.0, 2: -10.0}
    for i in range(90):
        c = i % 3
        vec = [centers[c] + rng.uniform(-0.5, 0.5) for _ in range(16)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id IN (0, 1, 2)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = similarity.pq_adc_topk(emb, queries, k=10, m=4, ksub=8)
    got = out.collect()
    assert len(got) == 30
    for r in got:
        assert r["vec_id"] % 3 == r["query_id"] % 3  # same cluster only
    # codes: m ints in [1, ksub]
    codes = similarity.pq_encode(
        emb, similarity.pq_codebooks(emb, m=4, ksub=8)
    ).collect()
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(1 <= c <= 8 for c in r["codes"])


def test_pq_adc_topk_string_query_ids(spark):
    """The PQ path is id-type-agnostic: string query ids must flow
    through the broadcast LUT (its schema derives from the caller's
    query frame, not a hardcoded long)."""
    import random

    from fluxgraph_spark.functions import similarity

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [float(i % 3) * 5 + rng.uniform(-0.2, 0.2) for _ in range(8)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.where("vec_id IN (0, 1)").selectExpr(
        "concat('q-', vec_id) AS query_id", "embedding"
    )
    out = similarity.pq_adc_topk(emb, queries, k=5, m=4, ksub=4).collect()
    assert len(out) == 10
    assert {r["query_id"] for r in out} == {"q-0", "q-1"}


def test_dedupe_incremental_vs_corpus_and_within_batch(spark):
    """Incremental new-batch dedup: exact corpus match drops, verified
    near-dup of a corpus doc drops, later near-dup within the batch
    drops (keep-first), unique docs survive, corpus never re-pairs."""
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    corpus = spark.createDataFrame(
        [(1, base), (2, "existing corpus text about query engines and storage layers ok")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),                              # exact corpus dup -> drop
            (11, base.replace("lazy", "sleepy")),    # near-dup of corpus -> drop
            (12, "a genuinely novel document with words unseen anywhere else today"),
            (13, "a genuinely novel document with words unseen anywhere else now"),
            # 13 is a near-dup of smaller-id 12 -> drop; 12 kept
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedupe_incremental(
            new, corpus, "doc_id", "text", num_hashes=16, bands=8
        ).collect()
    )
    assert kept == [12]


def test_containment_catches_embedded_excerpt(spark):
    """A short doc quoted inside a long one: containment ~= 1 while
    symmetric Jaccard is low (union dominated by the long side) — the
    case MinHash-banded dedup structurally misses.  Rare-shingle
    blocking must surface the pair without an all-pairs join."""
    import uuid

    excerpt = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"w{uuid.uuid4().hex[:6]}" for _ in range(300))
    container = filler + " " + excerpt + " " + " ".join(
        f"z{uuid.uuid4().hex[:6]}" for _ in range(300)
    )
    unrelated = " ".join(f"u{uuid.uuid4().hex[:6]}" for _ in range(50))
    docs = spark.createDataFrame(
        [(1, excerpt), (2, container), (3, unrelated)], "doc_id long, text string"
    )
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(sh, rare_df_max=5).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh).collect()
    }
    assert cont[(1, 2)] >= 0.99           # the excerpt is fully contained
    assert jac[(1, 2)] < 0.1              # ...but Jaccard calls them unrelated
    assert (1, 3) not in cont and (2, 3) not in cont


def test_contamination_bloom_matches_exact(spark):
    """The bloom tier can only prune, never alter: results are
    decision-identical to the exact operator, and the map-side bitmap
    pass actually eliminates fingerprints (survivor count is strictly
    between the exact hit pairs and the full corpus fingerprint set)."""
    from pyspark.sql import functions as F

    from fluxgraph_spark.functions import dedup
    from fluxgraph_spark.sources.tpch import read_tables

    docs = read_tables(spark, "/root/testdata/sf0.001")["documents"]
    bench = docs.where(F.col("doc_id") % 50 == 0)
    probe = docs.where(F.col("doc_id") % 50 != 0)
    exact = sorted(map(tuple, dedup.contamination_hits(
        probe, bench, window=4).collect()))
    bloom = sorted(map(tuple, dedup.contamination_hits_bloom(
        probe, bench, window=4).collect()))
    assert bloom == exact and len(exact) > 0
    # tiny bitmap => many FPs; bigger bitmap prunes harder but the
    # decision must not move
    small = sorted(map(tuple, dedup.contamination_hits_bloom(
        probe, bench, window=4, n_bits_pow2=10, k=2).collect()))
    assert small == exact


def test_bloom_autosize_formula():
    """Default bitmap sizing: ~16 bits/fingerprint, floor 2^16, cap
    2^30 — a fixed bitmap saturates as the benchmark grows, so the
    default must scale with fingerprint count (pure function, no
    Spark)."""
    from fluxgraph_spark.functions.dedup import bloom_bits_pow2

    assert bloom_bits_pow2(0) == 16 and bloom_bits_pow2(1) == 16
    assert bloom_bits_pow2(10**3) == 16       # floor still binds at 8 KB
    assert bloom_bits_pow2(10**6) == 24       # 2 MB for a 1M-fp suite
    assert bloom_bits_pow2(10**9) == 30       # cap: 128 MB broadcast
    assert bloom_bits_pow2(10**12) == 30      # past the cap: shard
    # monotone non-decreasing, and never under 16x undersized below cap
    prev = 0
    for n in (1, 10, 10**2, 10**4, 10**5, 10**7, 10**8):
        b = bloom_bits_pow2(n)
        assert b >= prev and (b == 30 or (1 << b) >= 16 * n)
        prev = b


def test_bloom_words_buffer_and_sharding(spark):
    """The driver-side bitmap is ONE contiguous int64 buffer (m/8 bytes
    per shard, no boxed-int list), and sharding the filter (the path
    past the 2^30 per-bitmap cap) leaves results identical to the
    unsharded filter."""
    import numpy as np
    from pyspark.sql import functions as F

    from fluxgraph_spark.functions import dedup
    from fluxgraph_spark.functions.dedup import _bloom_words
    from fluxgraph_spark.sources.tpch import read_tables

    # buffer shape/cost: nbytes is exactly shards x m/8, bits land where
    # the fold put them
    class R(dict):
        __getitem__ = dict.get

    m = 1 << 18
    rows = [R(shard=0, w=5, word=3), R(shard=3, w=4095, word=-1)]
    words = _bloom_words(rows, 4, m)
    assert words.dtype == np.int64 and words.nbytes == 4 * m // 8
    assert words[0, 5] == 3 and words[3, 4095] == -1 and words.sum() == 2

    docs = read_tables(spark, "/root/testdata/sf0.001")["documents"]
    bench = docs.where(F.col("doc_id") % 50 == 0)
    probe = docs.where(F.col("doc_id") % 50 != 0)
    unsharded = sorted(map(tuple, dedup.contamination_hits_bloom(
        probe, bench, window=4, n_bits_pow2=18).collect()))
    sharded = sorted(map(tuple, dedup.contamination_hits_bloom(
        probe, bench, window=4, n_bits_pow2=18, n_shards=4).collect()))
    assert sharded == unsharded and len(unsharded) > 0
    with pytest.raises(ValueError, match="n_shards"):
        dedup.contamination_hits_bloom(probe, bench, n_shards=0)


def test_sq_topk_recall_and_code_range(spark):
    """Int8 scalar quantization: codes stay in [-127, 127], every vector
    with max|v| > 0 hits ±127 somewhere (full-scale use), and the
    compressed ranking recovers the exact top-10 on the test corpus
    (SQ8 keeps ~7 significant bits per component — near-exact by
    design).  All-zero vectors are excluded from ranking, not NaN'd."""
    from fluxgraph_spark.functions.similarity import (
        cosine_topk_bruteforce,
        sq_encode,
        sq_topk,
    )

    emb = read_tables(spark, SF_DIR)["embeddings"]
    enc = sq_encode(emb).collect()
    for r in enc:
        assert all(-127 <= x <= 127 for x in r["sq_codes"])
        assert max(abs(x) for x in r["sq_codes"]) == 127  # full-scale
        assert r["sq_norm2"] == sum(x * x for x in r["sq_codes"])

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=10).collect()
    }
    have = {
        (r["query_id"], r["vec_id"])
        for r in sq_topk(emb, queries, k=10).collect()
    }
    assert len(want & have) / len(want) >= 0.95

    # zero vectors: coded to zeros, excluded from scoring
    z = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    q = z.where(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = sq_topk(z, q, k=5).collect()
    assert {r["vec_id"] for r in rows} == {2}


# ---------------------------------------------------------------------------
# bigram familiarity + token-budget mix (LM-filter / mix-construction ops)
# ---------------------------------------------------------------------------

def test_bigram_familiarity_scalar_reference(spark):
    texts = {
        0: "the cat sat on the mat",
        1: "the cat sat",
        2: "colorless green ideas sleep furiously",
        3: "x",               # <2 tokens: excluded
        4: "the cat sat on the mat",  # exact dup of 0: max familiarity
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["fam_micro"], r["below_mean"])
        for r in text.bigram_familiarity(df).collect()
    }
    # scalar reference
    bigs = {}
    per_doc = {}
    for i, t in texts.items():
        ws = t.lower().split()
        bg = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        if bg:
            per_doc[i] = bg
        for g in bg:
            bigs[g] = bigs.get(g, 0) + 1
    exp = {}
    for i, bg in per_doc.items():
        fam = sum(bigs[g] for g in bg)
        exp[i] = (len(bg), fam * 1_000_000 // len(bg))
    mean = sum(v[1] for v in exp.values()) // len(exp)
    exp = {i: (n, fm, fm < mean) for i, (n, fm) in exp.items()}
    assert got == exp
    assert 3 not in got
    # the dup pair scores identical and above the nonsense sentence
    assert got[0] == got[4]
    assert got[2][1] < got[0][1]


def test_token_budget_mix_matches_naive_window(spark, tables):
    docs = tables["documents"]
    got = text.token_budget_mix(docs, budget_tokens=5000)
    rows = got.collect()
    assert rows, "budget fill selected nothing"
    # reference: naive per-lang cumulative order by (md5, doc_id)
    base = docs.select(
        "doc_id",
        text.language_id(F.col("text")).alias("lang"),
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).collect()
    per_lang = {}
    for r in sorted(base, key=lambda r: (r["lang"], r["h"], r["doc_id"])):
        per_lang.setdefault(r["lang"], []).append(r)
    exp = {}
    for lang, rs in per_lang.items():
        cum = 0
        for r in rs:
            if cum < 5000:
                cum += r["n_tok"]
                exp[r["doc_id"]] = (lang, r["n_tok"], cum)
            else:
                cum += r["n_tok"]
    assert {r["doc_id"]: (r["lang"], r["n_tok"], r["cum_tokens"]) for r in rows} == exp
    # every language with any docs is represented
    assert {r["lang"] for r in rows} == set(per_lang)


def test_containment_candidate_budget_identity_and_binding(spark):
    """VERDICT r6 item 5: the per-doc candidate budget must be
    DECISION-IDENTICAL when it doesn't bind, and when it does bind it
    keeps the highest-evidence partner per side (either-side survival:
    the short quoted side keeps its container even when the container
    is popular)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [(i, f"{base} fam{i % 3}") for i in range(1, 7)]
    docs.append((10, "solo unique words only here nothing shared"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dedup.shingle_table(df, "doc_id", "text", n=3)

    unbounded = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(sh, rare_df_max=10).collect()
    }
    # budget larger than any doc's candidate list: identical output
    roomy = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            sh, rare_df_max=10, max_candidates_per_doc=100
        ).collect()
    }
    assert roomy == unbounded and len(unbounded) > 1

    # budget of 1: binds (every doc here shares shingles with 5 others);
    # surviving pairs are a subset, each pair top-ranked on >= one side,
    # and every surviving pair's score matches the unbounded run exactly
    tight = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            sh, rare_df_max=10, max_candidates_per_doc=1
        ).collect()
    }
    assert set(tight) < set(unbounded)
    assert all(tight[p] == unbounded[p] for p in tight)
    # every doc that had candidates still has at least one pair
    docs_with = {i for p in unbounded for i in p}
    docs_kept = {i for p in tight for i in p}
    assert docs_kept == docs_with


def test_ngram_overlap_matches_scalar_reference(spark):
    """ngram_overlap (r7): clipped counts equal a scalar BLEU/ROUGE-N
    counter for n=1 and n=2, short texts contribute zero grams, and
    disjoint texts match zero."""
    from collections import Counter

    from fluxgraph_spark.functions.text import ngram_overlap

    rows = [
        (1, "the cat sat on the mat", "the cat lay on the mat"),
        (2, "a a a b", "a a c"),
        (3, "one", "one two three"),          # cand too short for n=2
        (4, "alpha beta", "gamma delta"),     # disjoint
        (5, "", "anything here"),             # empty candidate
    ]
    df = spark.createDataFrame(rows, "doc_id long, cand string, ref string")

    def ref_counts(c, r, n):
        def gr(s):
            t = s.lower().split()
            return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
        cc, rc = Counter(gr(c)), Counter(gr(r))
        return (
            sum(cc.values()),
            sum(rc.values()),
            sum(min(v, rc[g]) for g, v in cc.items()),
        )

    for n in (1, 2):
        got = {
            r["id"]: (r["n_cand"], r["n_ref"], r["n_match"])
            for r in ngram_overlap(df, "doc_id", "cand", "ref", n=n).collect()
        }
        want = {i: ref_counts(c, r, n) for i, c, r in rows}
        assert got == want, (n, got, want)
    # sanity anchors
    assert want[2] == (3, 2, 1)          # bigrams: 'a a' x2 clipped to ref's 1
    assert want[3][2] == 0 and want[4][2] == 0
    with pytest.raises(ValueError, match="n must be"):
        ngram_overlap(df, "doc_id", "cand", "ref", n=0)


def test_jaccard_blocked_drops_zero_overlap_candidates(spark):
    """Blocked verify agrees with the unblocked exploded form even at
    threshold=0.0 (r9 ADVICE fix): a candidate pair with NO shared
    shingle (an LSH band collision) produces no row, not a jaccard=0.0
    row, and the shared pairs carry identical values."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        "id long, text string",
    )
    sh = dedup.shingle_table(df, "id", "text", n=2)
    block = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    blocked = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh, block=block).collect()
    }
    assert (1, 3) not in blocked          # zero overlap: dropped, not 0.0
    unblocked = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh).collect()
    }
    assert blocked == {
        k: v for k, v in unblocked.items() if k in {(1, 2), (1, 3)}
    }


def test_containment_pairs_keeps_caller_cache(spark):
    """containment_pairs releases only the cache IT created (r9 ADVICE
    fix): a caller who persisted the shingle table for reuse across
    calls keeps their cache; the self-created cache is still released."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "id long, text string"
    )
    sh = dedup.shingle_table(df, "id", "text", n=2).persist()
    try:
        sh.count()
        dedup.containment_pairs(sh).collect()
        assert sh.is_cached               # caller-owned cache survives
    finally:
        sh.unpersist()
    sh2 = dedup.shingle_table(df, "id", "text", n=2)
    dedup.containment_pairs(sh2).collect()
    assert not sh2.is_cached              # call-created cache released


def test_semantic_ivf_dedupe_label_free(tables, spark):
    """semantic_ivf_dedupe (r9): label-free semantic dedup — the block
    is the deterministic IVF centroid assignment, not a data column.
    Pins: full cover (one row per vector), representative consistency
    (every rep keeps itself, non-reps don't), the min-id contract, and
    the convergence assert firing on an undersized STAR round budget
    (components run star alternation since the pair graph's depth is
    unbounded in SF; the fixture converges within a few star rounds,
    so only a 1-round budget can trip the assert)."""
    emb = tables["embeddings"]
    out = dedup.semantic_ivf_dedupe(
        emb, n_centroids=16, n_probe=2, threshold=0.35,
        max_iters=12, assert_converged=True,
    )
    rows = {r["id"]: (r["rep_id"], r["kept"]) for r in out.collect()}
    assert len(rows) == emb.count()
    for vid, (rep, kept) in rows.items():
        assert rep <= vid                       # min-id representative
        assert kept == (1 if rep == vid else 0)
        assert rows[rep][0] == rep              # reps represent themselves
    assert any(rep != vid for vid, (rep, _) in rows.items())  # merges exist
    with pytest.raises(ValueError, match="star fixpoint"):
        dedup.semantic_ivf_dedupe(
            emb, n_centroids=16, n_probe=2, threshold=0.35,
            max_iters=1, assert_converged=True,
        )


def test_lsh_candidate_budget_identity_and_binding(tables, spark):
    """minhash_lsh_dedup_reproducible's max_candidates_per_doc (r9):
    decision-identical to the unbudgeted detector when the budget never
    binds, a strict subset (with unchanged jaccard values) when it does
    — the containment_pairs budget pattern on the banded stream."""
    docs = tables["documents"]
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup_reproducible(
            docs, "doc_id", "text", n=2, num_hashes=8, bands=8,
            threshold=0.0,
        ).collect()
    }
    wide = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup_reproducible(
            docs, "doc_id", "text", n=2, num_hashes=8, bands=8,
            threshold=0.0, max_candidates_per_doc=100_000,
        ).collect()
    }
    assert wide == full                  # unbound budget: identity
    tight = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup_reproducible(
            docs, "doc_id", "text", n=2, num_hashes=8, bands=8,
            threshold=0.0, max_candidates_per_doc=3,
        ).collect()
    }
    assert set(tight) < set(full)        # the budget actually binds
    assert all(full[k] == v for k, v in tight.items())  # values unchanged
    # either-side union keeps recall: every pair kept ranks within
    # budget on at least one side by construction; spot the cut size
    assert len(tight) < len(full) // 2


def test_topk_recall_counts_hits_and_keeps_empty_queries(spark):
    """recall@k join: per-query hit counts, exact integer micros, and a
    row (n_hits=0) for a query the approximate side missed entirely."""
    import pytest as _pytest

    from fluxgraph_spark.functions.similarity import topk_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        ["query_id", "vec_id"],
    )
    approx = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 99)], ["query_id", "vec_id"]
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall_micro"])
        for r in topk_recall(truth, approx, k=3).collect()
    }
    assert got == {1: (2, 666666), 2: (0, 0)}
    with _pytest.raises(ValueError, match="k must be"):
        topk_recall(truth, approx, k=0)


def test_topk_recall_brute_vs_ivf_self_consistent(spark):
    """Recall of the exact search against itself is 1.0 for every
    query; the IVF path with few probes stays <= 1.0 and joins on the
    same ids the searches emitted."""
    from fluxgraph_spark.functions import similarity

    import pyspark.sql.functions as F

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
         for i in range(60)],
        ["vec_id", "embedding"],
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    self_rec = similarity.topk_recall(truth, truth, k=5).collect()
    assert all(r["recall_micro"] == 1_000_000 for r in self_rec)
    approx = similarity.cosine_topk_ivf(
        emb, queries, k=5, n_centroids=8, n_probe=1
    )
    rec = similarity.topk_recall(truth, approx, k=5).collect()
    assert len(rec) == 3
    assert all(0 <= r["recall_micro"] <= 1_000_000 for r in rec)


def test_chunk_documents_matches_scalar_reference(spark):
    """Window/stride chunking vs a python reference: coverage, overlap,
    short tails, empty-doc drop, and the error contract."""
    import pytest as _pytest

    from fluxgraph_spark.functions.text import chunk_documents

    docs = [
        (1, " ".join(f"t{i}" for i in range(10))),   # 10 toks: 2 chunks
        (2, "a b c"),                                  # <= budget: 1 chunk
        (3, ""),                                       # empty: no chunks
        (4, " ".join(f"w{i}" for i in range(17))),   # 17 toks, tail chunk
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    budget, stride = 8, 6

    def ref(doc_id, text):
        toks = text.split()
        if not toks:
            return []
        n = len(toks)
        n_chunks = 1 if n <= budget else -(-(n - budget) // stride) + 1
        out = []
        for c in range(n_chunks):
            piece = toks[c * stride : c * stride + budget]
            out.append(
                (doc_id, c, c * stride, len(piece), " ".join(piece))
            )
        return out

    want = sorted(r for d, t in docs for r in ref(d, t))
    got = sorted(
        map(tuple, chunk_documents(df, budget=budget, stride=stride).collect())
    )
    assert got == want
    # every token appears in some chunk; consecutive chunks overlap by
    # budget - stride tokens
    by_doc = {}
    for d, c, s, n, t in got:
        by_doc.setdefault(d, []).append((c, t.split()))
    for d, chunks in by_doc.items():
        toks = dict(docs)[d].split()
        covered = {w for _, ws in chunks for w in ws}
        assert covered == set(toks)
        for (c1, w1), (c2, w2) in zip(chunks, chunks[1:]):
            if len(w1) == budget:
                assert w1[stride:] == w2[: budget - stride]
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, budget=4, stride=5)
    with _pytest.raises(ValueError, match="budget"):
        chunk_documents(df, budget=0, stride=1)


def test_embedding_pairs_block_pandas_bit_identical_to_join(spark):
    """The vectorized per-block scorer must return the exact pair set
    AND the exact rounded cosines of the Catalyst self-join (in-order
    dimension accumulation is IEEE-identical to the fold)."""
    import pytest as _pytest

    from fluxgraph_spark.functions.dedup import embedding_near_dup_pairs

    import pyspark.sql.functions as F

    emb = spark.createDataFrame(
        [(i, [float(((i * 13 + j * 7) % 23) - 11) / 7.0 for j in range(16)],
          i % 3)
         for i in range(120)],
        ["vec_id", "embedding", "blk"],
    )
    a = sorted(map(tuple, embedding_near_dup_pairs(
        emb, block_col="blk", threshold=0.2, impl="join").collect()))
    b = sorted(map(tuple, embedding_near_dup_pairs(
        emb, block_col="blk", threshold=0.2, impl="block_pandas").collect()))
    assert a == b and len(a) > 0
    with _pytest.raises(ValueError, match="block_pandas"):
        embedding_near_dup_pairs(emb, exact=True, impl="block_pandas")
    with _pytest.raises(ValueError, match="unknown impl"):
        embedding_near_dup_pairs(emb, block_col="blk", impl="nope")


def test_derived_centroid_count_rule_and_duckdb_parity():
    """The sqrt centroid rule (r10): max(16, ceil(sqrt(n))).  What this
    pins is the contract the d_semantic_ivf_dedupe oracle rides on —
    CROSS-ENGINE AGREEMENT: both engines take ceil of the identical
    correctly-rounded IEEE double, so k always matches (asserted
    against DuckDB for every case, including the 2^52-1 edge where
    mathematical exactness of ceil(√n) gets delicate).  The spot
    expectations additionally document the rule's values at the floor,
    at perfect squares, and one off them."""
    from fluxgraph_spark.functions.dedup import derived_centroid_count

    cases = [0, 1, 255, 256, 257, 1024, 1025, 500, 2000,
             10**6, 10**6 - 1, (10**6) ** 2, (10**6) ** 2 - 1,
             2**52 - 1]
    expect = {0: 16, 1: 16, 255: 16, 256: 16, 257: 17, 1024: 32,
              1025: 33, 500: 23, 2000: 45, 10**6: 1000,
              10**6 - 1: 1000, (10**6) ** 2: 10**6,
              (10**6) ** 2 - 1: 10**6}
    for n in cases:
        k = derived_centroid_count(n)
        if n in expect:
            assert k == expect[n], (n, k)
        duck = duckdb.sql(
            f"SELECT greatest(16, CAST(ceil(sqrt({n}::DOUBLE)) AS BIGINT))"
        ).fetchone()[0]
        assert k == duck, (n, k, duck)
    with pytest.raises(ValueError, match="n_rows"):
        derived_centroid_count(-1)


def test_semantic_ivf_dedupe_derives_centroid_count(tables):
    """n_centroids=None (the r10 default) derives max(16, ceil(sqrt(n)))
    from the corpus — the result is identical to passing the derived
    constant explicitly, and differs from the old fixed 16 on this
    fixture (the derivation binds: 500 rows -> k=23)."""
    from fluxgraph_spark.functions.dedup import derived_centroid_count

    emb = tables["embeddings"]
    k = derived_centroid_count(emb.count())
    assert k == 23
    auto = sorted(map(tuple, dedup.semantic_ivf_dedupe(
        emb, threshold=0.35, max_iters=12, assert_converged=True
    ).collect()))
    explicit = sorted(map(tuple, dedup.semantic_ivf_dedupe(
        emb, n_centroids=k, threshold=0.35, max_iters=12,
        assert_converged=True,
    ).collect()))
    assert auto == explicit


def test_spread_split_estimate_no_rdd(spark, tmp_path):
    """spread's under-partitioned probe runs on Spark's own file-split
    math over inputFiles() — no df.rdd lineage translation (r11 VERDICT
    nit).  A small single-file parquet scan spreads to
    defaultParallelism; a non-file local relation is left alone (at
    scale every caller reads files; a tiny fixture gains nothing from
    a 32-way exchange)."""
    p = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "one.parquet")
    spark.range(100).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    est = dedup._scan_split_estimate(df)
    assert est is not None and est < p
    assert dedup.spread(df).rdd.getNumPartitions() == p
    local = spark.createDataFrame([(1,)], "a long")
    assert dedup._scan_split_estimate(local) is None
    assert dedup.spread(local) is local
    # a scan already past parallelism stays shuffle-free: estimate
    # with the split knobs forced tiny so even this small file chops
    # into > p splits
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
    spark.conf.set("spark.sql.files.openCostInBytes", "0b")
    try:
        big_est = dedup._scan_split_estimate(df)
        assert big_est is not None and big_est > p
        assert dedup.spread(df) is df
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    # size-conf parsing: canonical '<n>b', unit suffixes, plain ints
    assert dedup._bytes_conf(spark, "spark.graft.nonexistent", 7) == 7
    for raw, want in (("134217728b", 128 << 20), ("128MB", 128 << 20),
                      ("4m", 4 << 20), ("1024", 1024), ("1g", 1 << 30)):
        spark.conf.set("spark.graft.test_size", raw)
        assert dedup._bytes_conf(spark, "spark.graft.test_size", 0) == want
    spark.conf.unset("spark.graft.test_size")


def test_pairs_block_pandas_block_cap_raises(spark):
    """A block larger than max_block_rows must fail fast with the fix
    named (finer blocking / more centroids), not OOM a worker.  Two
    guard tiers (ADVICE r10): the DRIVER-SIDE pre-check (default on)
    raises at call time, BEFORE any worker materializes the stack —
    the only tier that can stop a stack too big to Arrow-materialize;
    with the pre-check off, the in-worker guard still stops the
    quadratic scoring after group materialization."""
    from pyspark.errors import PythonException

    from fluxgraph_spark.functions.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)], 0) for i in range(10)],
        ["vec_id", "embedding", "blk"],
    )
    # tier 1: driver-side pre-check raises eagerly at call time
    with pytest.raises(ValueError, match="max_block_rows"):
        embedding_near_dup_pairs(
            emb, block_col="blk", threshold=0.0, impl="block_pandas",
            max_block_rows=4,
        )
    # tier 2: pre-check off => the in-worker guard still fires
    with pytest.raises(PythonException, match="max_block_rows"):
        embedding_near_dup_pairs(
            emb, block_col="blk", threshold=0.0, impl="block_pandas",
            max_block_rows=4, block_precheck=False,
        ).collect()
    ok = embedding_near_dup_pairs(
        emb, block_col="blk", threshold=0.0, impl="block_pandas",
        max_block_rows=10,
    )
    assert ok.count() > 0


def test_embedding_near_dup_zero_norm_dropped_identically(spark):
    """Zero-norm vectors (cosine undefined -> NaN; Spark's NaN-greater-
    than-everything would KEEP NaN pairs in the join path while numpy
    drops them) are excluded from pairing identically in BOTH impls —
    the one input class where the impls could diverge (r10 ADVICE)."""
    from fluxgraph_spark.functions.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0], 0),
         (1, [1.0, 2.0, 3.0, 4.0], 0),
         (2, [1.0, 2.0, 3.0, 4.0], 0),
         (3, [0.0, 0.0, 0.0, 0.0], 0)],
        ["vec_id", "embedding", "blk"],
    )
    a = sorted(map(tuple, embedding_near_dup_pairs(
        emb, block_col="blk", threshold=0.5, impl="join").collect()))
    b = sorted(map(tuple, embedding_near_dup_pairs(
        emb, block_col="blk", threshold=0.5, impl="block_pandas"
    ).collect()))
    assert a == b == [(1, 2, 1.0)]   # zero-norm ids appear in NO pair
    # and the dedup tail still returns the zero vectors as singletons
    out = {r["id"]: (r["rep_id"], r["kept"]) for r in dedup.semantic_dedupe(
        emb, block_col="blk", threshold=0.5).collect()}
    assert out[0] == (0, 1) and out[3] == (3, 1) and out[2] == (1, 0)


def test_star_fixpoint_signature_collision_not_converged(spark):
    """The star fixpoint's cheap per-round signature only SCREENS — a
    collision between different edge sets must not be declared
    converged (r10 ADVICE: the assert_converged contract is
    load-bearing for d_semantic_ivf_dedupe).  This pins the exact
    anti-join confirm (_edge_sets_equal) that backs the screen:
    {(1,4),(3,2)} and {(1,2),(3,4)} collide the sum-style signature
    this round replaced (count=2, sum(u)=4, sum(v)=6) and would also
    have to be told apart under any future signature — the confirm
    distinguishes them; equal sets pass.  The loop-side behavior
    (confirm failure keeps iterating instead of breaking) is pinned by
    test_star_confirm_failure_keeps_iterating."""
    from fluxgraph_spark.operators.analytics import _edge_sets_equal

    e1 = spark.createDataFrame([(1, 4), (3, 2)], ["u", "v"])
    e2 = spark.createDataFrame([(1, 2), (3, 4)], ["u", "v"])
    assert not _edge_sets_equal(e1, e2)
    assert not _edge_sets_equal(e2, e1)
    assert _edge_sets_equal(e1, e1)
    assert _edge_sets_equal(e2, e2)


def test_topk_recall_surfaces_approx_only_queries(spark):
    """A query id present in approx but absent from truth surfaces as
    an n_hits=0 row instead of silently dropping (r10 ADVICE): the
    universe is the UNION of both sides' query ids — the inputs
    disagreeing is exactly what the measurement must show."""
    from fluxgraph_spark.functions.similarity import topk_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11)], ["query_id", "vec_id"]
    )
    approx = spark.createDataFrame(
        [(1, 10), (3, 30)], ["query_id", "vec_id"]
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall_micro"])
        for r in topk_recall(truth, approx, k=2).collect()
    }
    assert got == {1: (1, 500000), 3: (0, 0)}


def test_star_confirm_failure_keeps_iterating(spark, monkeypatch):
    """The 'signature matched but the exact confirm failed' branch of
    connected_components_star must keep ITERATING (a collision is a
    delayed detection, never a declared fixpoint) — and exhausting the
    budget with the confirm never passing must trip assert_converged.
    The branch is unreachable with real collisions on small fixtures,
    so the confirm is faked: first rejecting once (convergence then
    succeeds one round later), then rejecting always (raise)."""
    from fluxgraph_spark.operators import analytics

    # this pins the DISTRIBUTED confirm machinery — force past the
    # bounded driver tier (which needs no signature screen at all)
    monkeypatch.setattr(analytics, "CC_DRIVER_EDGE_MAX", 0)
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    real = analytics._edge_sets_equal
    calls = {"n": 0}

    def reject_first(e, prev_e):
        calls["n"] += 1
        return False if calls["n"] == 1 else real(e, prev_e)

    monkeypatch.setattr(analytics, "_edge_sets_equal", reject_first)
    out = analytics.connected_components_star(
        edges, max_iters=10, assert_converged=True
    ).collect()
    assert calls["n"] >= 2                       # kept going after the reject
    assert {r["component"] for r in out} == {1}  # and still fully converged

    monkeypatch.setattr(analytics, "_edge_sets_equal", lambda e, p: False)
    with pytest.raises(ValueError, match="star fixpoint"):
        analytics.connected_components_star(
            edges, max_iters=4, assert_converged=True
        )


def test_components_label_sum_probe_exact_at_hash_scale_ids(spark):
    """connected_components' convergence probes must be exact at hash-
    magnitude ids (r10 review find — the star signature bug's sibling):
    long sums of ~2^61 labels overflow (ANSI mode raises) and wrapped
    sums could falsely compare equal.  Decimal(38,0) sums are exact, so
    both the early_stop probe and the assert_converged tail probe work
    on a 40-vertex chain of 2^61-scale ids."""
    from fluxgraph_spark.operators.analytics import connected_components

    base = 1 << 61
    ids = [base + 7 * i for i in range(40)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)], ["src", "dst"]
    )
    out = connected_components(edges, max_iters=45, early_stop=True).collect()
    assert {r["component"] for r in out} == {ids[0]}
    out2 = connected_components(
        edges, max_iters=45, early_stop=False, assert_converged=True
    ).collect()
    assert {r["component"] for r in out2} == {ids[0]}


# ------------------------------------------------------------------ mmr

def _mmr_ref(ids, rels, vecs, k, lam_num, lam_den):
    """Pure-python MMR with the engine's discipline: cosines rounded to
    exact micro-integers (6dp HALF_UP on shortest repr), then pure
    integer scores ``lam_num * rel_u - (lam_den - lam_num) * ms_u``."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def r6u(v):
        return int(
            (Decimal(repr(float(v))) * 1_000_000).quantize(
                Decimal(1), ROUND_HALF_UP
            )
        )

    V = np.asarray(vecs, dtype=np.float64)
    norms = np.sqrt((V * V).sum(axis=1))
    mu = lam_den - lam_num
    n = len(ids)
    sims = [
        [r6u(float(V[i] @ V[j]) / float(norms[i] * norms[j])) for j in range(n)]
        for i in range(n)
    ]
    rels_u = [r6u(r) for r in rels]
    picked, avail, out = [], list(range(n)), []
    for step in range(1, min(k, n) + 1):
        best, best_s = None, None
        for j in avail:  # ids ascending -> ties keep the smaller id
            if picked:
                ms = max(sims[j][s] for s in picked)
                sc = lam_num * rels_u[j] - mu * ms
            else:
                sc = lam_num * rels_u[j]
            if best_s is None or sc > best_s:
                best, best_s = j, sc
        out.append((step, ids[best], best_s))
        picked.append(best)
        avail.remove(best)
    return out


def test_mmr_rerank_matches_reference_and_diversifies(spark):
    """Engine MMR equals the scalar reference pick-by-pick, and the
    diversification is visible: with two near-identical top candidates,
    rank 2 skips the clone the plain top-k would keep."""
    from fluxgraph_spark.functions.similarity import (
        cosine_topk_bruteforce,
        mmr_rerank,
    )

    vecs = {
        # query
        100: [1.0, 0.0, 0.0, 0.0],
        # candidates: 1 and 2 are EXACT clones (sim 1.0, so the
        # redundancy penalty maximally punishes the second); 3 is a
        # relevant alternative; 4 irrelevant
        1: [0.9, 0.1, 0.0, 0.0],
        2: [0.9, 0.1, 0.0, 0.0],
        3: [0.8, 0.0, 0.6, 0.0],
        4: [0.0, 0.0, 0.0, 1.0],
    }
    rows = [(i, v) for i, v in vecs.items()]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.where("vec_id < 100")
    queries = emb.where("vec_id = 100").selectExpr(
        "vec_id as query_id", "embedding"
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["mmr_score_scaled"])
        for r in mmr_rerank(
            corpus, queries, n_candidates=4, k=3, lam_num=1, lam_den=2
        ).collect()
    }
    # reference needs the engine-rounded rels, in vec_id order
    cand = {
        r["vec_id"]: r["cosine"]
        for r in cosine_topk_bruteforce(corpus, queries, k=4).collect()
    }
    ids = sorted(cand)
    ref = _mmr_ref(
        ids, [cand[i] for i in ids], [vecs[i] for i in ids],
        k=3, lam_num=1, lam_den=2,
    )
    for step, vid, score in ref:
        assert got[(100, step)] == (vid, score), (step, got, ref)
    # diversification: rank1 is a clone (1 or 2), rank2 must NOT be the
    # other clone
    first, second = got[(100, 1)][0], got[(100, 2)][0]
    assert first in (1, 2) and second == 3, (first, second)


def test_mmr_rerank_ties_break_on_vec_id(spark):
    """Exactly duplicated candidates: equal scores at every step, so
    picks follow vec_id ascending deterministically."""
    from fluxgraph_spark.functions.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [
            (100, [1.0, 0.0]),
            (7, [0.5, 0.5]),
            (3, [0.5, 0.5]),
            (5, [0.5, 0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.where("vec_id < 100")
    queries = emb.where("vec_id = 100").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = mmr_rerank(corpus, queries, n_candidates=3, k=3).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [3, 5, 7]


def test_mmr_rerank_k_capped_at_candidates(spark):
    from fluxgraph_spark.functions.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [(100, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.where("vec_id < 100")
    queries = emb.where("vec_id = 100").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = mmr_rerank(corpus, queries, n_candidates=5, k=8).collect()
    assert sorted(r["rank"] for r in out) == [1, 2]


# -------------------------------------------------------------- novelty

def test_ngram_novelty_exact_small_fixture(spark):
    """Known trigram sharing: doc 1 and 2 share one trigram, doc 3 is
    all-fresh, doc 4 is too short to produce any gram."""
    from fluxgraph_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: "a b c", "b c d"
            (2, "a b c x y"),      # grams: "a b c", "b c x", "c x y"
            (3, "p q r s"),        # grams: "p q r", "q r s"
            (4, "a b"),            # no trigram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["novel_ratio"])
        for r in ngram_novelty(docs, "doc_id", "text", n=3).collect()
    }
    assert got == {
        1: (2, 0.5),
        2: (3, round(2 / 3, 6)),
        3: (2, 1.0),
    }


def test_ngram_novelty_dedups_within_doc(spark):
    """A gram repeated inside ONE doc still counts as novel (distinct
    per doc before the corpus count)."""
    from fluxgraph_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c")],
        "doc_id long, text string",
    )
    got = ngram_novelty(docs, "doc_id", "text", n=3).collect()[0]
    # distinct grams of the cycle: a b c / b c a / c a b
    assert got["n_grams"] == 3 and got["novel_ratio"] == 1.0


LSH_FAMILIES = {
    # family: (public entry, the bound it takes, gram builder, signature hash)
    "md5": (
        dedup.minhash_lsh_dedup_reproducible, "max_candidates_per_doc",
        dedup.shingle_array_table, None,
    ),
    "xxhash64": (
        dedup.minhash_lsh_dedup, "max_bucket_size", dedup.shingle_arrays, dedup.fast_hash,
    ),
}


def _lsh(df, family, **bounds):
    """One family's MinHash-LSH pairs at the parity settings (2-grams, 8
    hashes, 8 bands, threshold 0).  A bound the family's public entry
    does not take runs through the shared body."""
    entry, bound, grams, hash_fn = LSH_FAMILIES[family]
    if set(bounds) <= {bound}:
        out = entry(df, "doc_id", "text", n=2, num_hashes=8, bands=8, threshold=0.0, **bounds)
    else:
        out = dedup._minhash_lsh(
            df, "doc_id", "text", 2, 8, 8, 0.0, grams, hash_fn, **bounds
        )
    return sorted(map(tuple, out.collect()))


def _lsh_exploded(df, family, **bounds):
    """The exploded composition of the public primitives: (id, gram)
    rows, so each id's signature and Jaccard use the UNION of its rows'
    grams."""
    if family == "md5":
        sh = dedup.shingle_table(df, "doc_id", "text", n=2)
    else:
        sh = dedup.shingle_arrays(df, "doc_id", "text", n=2).select(
            "id", F.explode("shingles").alias("shingle")
        )
    sig = dedup.minhash_signatures(sh, num_hashes=8, hash_fn=LSH_FAMILIES[family][3])
    cand = dedup.pairs_from_bands(dedup.band_table(sig, num_hashes=8, bands=8), **bounds)
    return sorted(map(tuple, dedup.jaccard_pairs(sh, block=cand, threshold=0.0).collect()))


def test_lsh_driver_tiers_match_distributed(tables, spark, monkeypatch):
    """The bounded driver tiers of the MinHash-LSH pipeline (numpy
    candidate selection + in-process Jaccard verify) are bit-identical
    to the distributed joins for both hash families, with and without
    a bound (the md5 per-doc budget, a binding hot-bucket cap), at every
    cap combination, and equal the exploded composition of the public
    primitives.  Duplicate ids verify the union of their grams.  NULL
    text has no grams: two NULL-text docs are never a pair."""
    docs = tables["documents"].select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    null_ids = [max_id + 1, max_id + 2]
    # four copies of one new text: a bucket of four in every band
    hot_ids = [max_id + 3 + i for i in range(4)]
    docs = docs.unionByName(spark.createDataFrame(
        [(i, None) for i in null_ids]
        + [(i, "one boilerplate footer repeated on every page") for i in hot_ids],
        docs.schema,
    ))

    def tiers(df, family, **bounds):
        """The pairs at each cap setting, asserted equal."""
        monkeypatch.setattr(dedup, "LSH_DRIVER_BAND_MAX", 1 << 21)
        monkeypatch.setattr(dedup, "_LSH_DRIVER_GRAMS_MAX", 1 << 24)
        all_driver = _lsh(df, family, **bounds)
        # distributed selection + distributed array verify
        monkeypatch.setattr(dedup, "LSH_DRIVER_BAND_MAX", 0)
        dist_sel = _lsh(df, family, **bounds)
        # driver selection + distributed array verify
        monkeypatch.setattr(dedup, "LSH_DRIVER_BAND_MAX", 1 << 21)
        monkeypatch.setattr(dedup, "_LSH_DRIVER_GRAMS_MAX", 0)
        dist_verify = _lsh(df, family, **bounds)
        assert all_driver == dist_sel == dist_verify, (family, bounds)
        return all_driver

    for family, bounds in (
        ("md5", {}), ("md5", {"max_candidates_per_doc": 3}), ("md5", {"max_bucket_size": 2}),
        ("xxhash64", {}), ("xxhash64", {"max_bucket_size": 2}),
    ):
        all_driver = tiers(docs, family, **bounds)
        assert all_driver == _lsh_exploded(docs, family, **bounds), (family, bounds)
        assert not any(a in null_ids or b in null_ids for a, b, _ in all_driver)
        hot_pairs = {(a, b) for a, b, _ in all_driver if a in hot_ids and b in hot_ids}
        if "max_bucket_size" in bounds:
            # the cap binds: the hot bucket pairs as a star on its min id
            assert hot_pairs == {(hot_ids[0], i) for i in hot_ids[1:]}, family
        else:
            assert len(hot_pairs) == 6, (family, bounds)
            assert tiers(docs.limit(0), family, **bounds) == [], (family, bounds)

    # duplicate ids: union-of-grams semantics; a NULL-text duplicate adds
    # no grams to its id
    head = docs.orderBy("doc_id").limit(20)
    dup = head.unionByName(
        head.limit(5).withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
    ).unionByName(
        head.limit(2).withColumn("text", F.lit(None).cast("string"))
    ).unionByName(docs.where(F.col("doc_id").isin(null_ids)))
    for family in LSH_FAMILIES:
        got = tiers(dup, family)
        want = _lsh_exploded(dup, family)
        assert got == want, family


def test_minhash_lsh_duplicate_ids_verify_union_of_grams(spark):
    """Both hash families return ONE row per pair for an id with two
    rows, scored on the union of that id's grams (the xxhash64 entry
    used to verify each row separately: two rows for one pair)."""
    t = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [(1, t), (2, t + " again"), (2, t + " also today")], "id long, text string"
    )
    for entry in (dedup.minhash_lsh_dedup, dedup.minhash_lsh_dedup_reproducible):
        got = [tuple(r) for r in entry(df, "id", "text", bands=8, threshold=0.1).collect()]
        # 12 shared grams of 15 in the union of id 2's rows
        assert got == [(1, 2, 0.8)], entry.__name__
