"""Persisted IVF ANN index (sources/ann_index.py): bit-equality with the
in-memory IVF path, partition-pruned probe reads, and append semantics."""

import pytest
from pyspark.sql import functions as F

from fluxgraph_spark.functions import similarity
from fluxgraph_spark.sources.ann_index import IvfIndex
from fluxgraph_spark.sources.tpch import read_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_tables(spark, SF_DIR)["embeddings"]


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    d = tmp_path_factory.mktemp("ivf")
    return IvfIndex.build(emb, str(d / "idx"), n_centroids=16)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_indexed_topk_equals_in_memory(emb, index):
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = _rows(
        similarity.cosine_topk_ivf(emb, queries, k=10, n_centroids=16, n_probe=4)
    )
    got = _rows(index.topk(queries, k=10, n_probe=4))
    assert got == want and len(got) == 50


def test_probe_reads_only_probed_partitions(emb, index):
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def files_read(df):
        return {r[0] for r in df.select(F.input_file_name()).distinct().collect()}

    all_files = files_read(index.lists())
    # 2 queries x 2 probes <= 4 of 16 lists
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qv = q.select(
        F.col("query_id").alias("query_id"),
        similarity._as_double_vec(F.col("embedding")).alias("qvec"),
    )
    probes = similarity.ivf_assign(
        qv, index.centroids(), 2, "query_id", "qvec"
    )
    ids = [r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()]
    pruned = files_read(index.lists(ids))
    assert len(ids) <= 4
    assert pruned < all_files
    assert len(pruned) <= len(ids)
    # every pruned file path carries one of the probed partition dirs
    assert all(any(f"centroid_id={i}/" in p for i in ids) for p in pruned)


def test_append_matches_rebuild(spark, emb, index, tmp_path):
    base = emb.where(F.col("vec_id") % 7 != 0)
    extra = emb.where(F.col("vec_id") % 7 == 0)
    # centroids must come from the SAME sample for both paths: freeze the
    # base index, append the rest
    grown = IvfIndex.build(base, str(tmp_path / "grown"), n_centroids=16)
    # frozen-centroid rebuild: same centroid set, full corpus assignment
    grown.append(extra)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _rows(grown.topk(queries, k=10, n_probe=4))
    # reference: full assignment against grown's centroid set
    full = IvfIndex(spark, str(tmp_path / "full"))
    grown.centroids().coalesce(1).write.parquet(full.centroids_dir)
    full._write_lists(emb, "vec_id", "embedding", mode="overwrite")
    want = _rows(full.topk(queries, k=10, n_probe=4))
    assert got == want


def test_ivfpq_topk_prunes_and_ranks(spark, emb, tmp_path):
    from fluxgraph_spark.sources.ann_index import IvfPqIndex

    idx = IvfPqIndex.build(
        emb, str(tmp_path / "ivfpq"), n_centroids=16, m=4, ksub=16
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.topk(queries, k=10, n_probe=4)
    rows = got.collect()
    assert len(rows) == 50
    assert got.columns == ["query_id", "vec_id", "adc_micro", "rank"]
    # queries come from the corpus: each probes its own list, and its own
    # PQ code is its LUT argmin — rank 1 must be the query itself
    rank1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert all(qid == vid for qid, vid in rank1.items())
    # ranks ascend with adc within each query
    for qid in rank1:
        per = sorted(
            (r["rank"], r["adc_micro"]) for r in rows if r["query_id"] == qid
        )
        assert [p[0] for p in per] == list(range(1, 11))
        assert all(per[i][1] <= per[i + 1][1] for i in range(9))

    # the codes scan reads only the probed partitions
    def files_read(df):
        return {r[0] for r in df.select(F.input_file_name()).distinct().collect()}

    qv = queries.select(
        "query_id", similarity._as_double_vec(F.col("embedding")).alias("qvec")
    )
    probes = similarity.ivf_assign(qv, idx.centroids(), 4, "query_id", "qvec")
    ids = [r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()]
    assert files_read(idx.codes(ids)) < files_read(idx.codes())


def test_ivf_kmeans_refinement_improves_objective(spark, emb):
    """Lloyd iterations must not worsen the clustering objective: mean
    cosine similarity of vectors to their assigned centroid rises (or
    holds) from the raw sample to the refined set, and the refined
    centroids are genuinely different values (means, not samples)."""
    from pyspark.sql import functions as F

    def objective(cents):
        v = emb.select(
            F.col("vec_id"),
            similarity._as_double_vec(F.col("embedding")).alias("vvec"),
        )
        assigned = similarity.ivf_assign(v, cents, 1, "vec_id", "vvec")
        joined = assigned.withColumnRenamed("id", "vec_id").join(v, "vec_id").join(
            cents, "centroid_id"
        )
        sim = similarity._dot(F.col("vvec"), F.col("cvec")) / (
            similarity._norm(F.col("vvec")) * similarity._norm(F.col("cvec"))
        )
        return joined.agg(F.avg(sim)).collect()[0][0]

    sample = similarity.ivf_centroids(emb, 16)
    refined = similarity.ivf_centroids_refined(emb, 16, iters=2)
    assert refined.count() == 16
    s_obj, r_obj = objective(sample), objective(refined)
    assert r_obj >= s_obj - 1e-9, (s_obj, r_obj)
    # the refined vectors are means, not corpus rows
    sample_vecs = {tuple(r["cvec"]) for r in sample.collect()}
    refined_vecs = {tuple(r["cvec"]) for r in refined.collect()}
    assert refined_vecs - sample_vecs


def test_auto_centroid_sizing(spark, emb, tmp_path):
    """n_centroids=None derives sqrt(n) inverted lists (VERDICT r4
    item 6): formula at the sizing-guide scales, and a real build picks
    it up (one list per centroid id in the written layout).  r11: the
    derivation IS dedup.derived_centroid_count (ceil rule) capped at
    65,536 — one rule across the dedup operator and the index
    builders, so one oracle CTE replays both."""
    from fluxgraph_spark.functions.dedup import derived_centroid_count
    from fluxgraph_spark.sources.ann_index import auto_n_centroids

    assert auto_n_centroids(10**6) == 1000
    assert auto_n_centroids(10**9) == 31623  # ceil, not floor (r11)
    assert auto_n_centroids(10**12) == 65_536
    assert auto_n_centroids(10) == 16  # floor
    for n in (0, 10, 500, 2000, 10**6, 10**9, 2**52 - 1):
        assert auto_n_centroids(n) == min(derived_centroid_count(n), 65_536)

    n = emb.count()
    idx = IvfIndex.build(emb, str(tmp_path / "auto_idx"))
    got = idx.centroids().count()
    assert got == auto_n_centroids(n)


def test_auto_pq_geometry_rule_and_oracle_parity():
    """The derived PQ geometry (r12, VERDICT item 3) IS the FAISS
    convention — ksub = least(256, n) one-byte codes, m = dim // dsub
    with dsub = 4 (floors 2, 1 so the rule is total) — and the SQL
    CASE the s_ivfpq_derived_topk oracle replays computes the
    identical integers for every dim/n shape."""
    import duckdb

    from fluxgraph_spark.functions.similarity import auto_pq_geometry

    assert auto_pq_geometry(64, 500) == (16, 256)   # the gate shape: BINDS
    assert auto_pq_geometry(64, 100) == (16, 100)   # corpus-shrunk ksub
    assert auto_pq_geometry(6, 1000) == (3, 256)    # even, not %4 -> dsub 2
    assert auto_pq_geometry(7, 10) == (7, 10)       # odd -> dsub 1
    assert auto_pq_geometry(768) == (192, 256)      # production embedding dim
    with pytest.raises(ValueError, match="positive"):
        auto_pq_geometry(0)
    for dim, n in [(64, 500), (6, 3), (7, 10), (128, 2000), (2, 1), (768, 10**9)]:
        m, ksub = auto_pq_geometry(dim, n)
        got = duckdb.sql(
            f"SELECT CAST({dim} // (CASE WHEN {dim} % 4 = 0 THEN 4 "
            f"WHEN {dim} % 2 = 0 THEN 2 ELSE 1 END) AS INT), "
            f"CAST(least(256, {n}) AS INT)"
        ).fetchone()
        assert (m, ksub) == tuple(got)


def test_auto_pq_geometry_total_by_property():
    """The derived rule is TOTAL and well-formed on every (dim, n): the
    subspaces tile the vector exactly (m * dsub == dim), every subspace
    is non-empty, and ksub is a valid one-byte codebook size bounded by
    the corpus — for all dims, not just the hand-picked cases above."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fluxgraph_spark.functions.similarity import auto_pq_geometry

    @given(dim=st.integers(1, 10_000), n=st.integers(1, 10**12) | st.none())
    @settings(max_examples=300, deadline=None)
    def check(dim, n):
        m, ksub = auto_pq_geometry(dim, n)
        dsub = dim // m
        assert m >= 1 and m * dsub == dim  # exact tiling, no remainder
        assert dsub in (1, 2, 4)           # the documented floors
        assert 1 <= ksub <= 256            # one-byte codes
        if n is not None:
            assert ksub <= max(1, n)       # corpus-shrunk
        # the rule prefers the finest documented subspace dim allows
        assert dsub == (4 if dim % 4 == 0 else 2 if dim % 2 == 0 else 1)

    check()


def test_pq_encode_arrow_path_equals_unrolled(spark, emb):
    """The geometry-scalable encode (_pq_encode_arrow) must be
    DECISION-IDENTICAL to the unrolled literal map — in-order IEEE
    fold + first-argmin tie break — pinned on the real gate
    embeddings at the pinned m=4/ksub=16 layout."""
    cbs = similarity.pq_codebooks(emb, m=4, ksub=16)
    unrolled = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in similarity.pq_encode(emb, cbs, max_unrolled_entries=10**9).collect()
    )
    arrow = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in similarity.pq_encode(emb, cbs, max_unrolled_entries=1).collect()
    )
    assert unrolled == arrow and len(arrow) == 500


def test_ivfpq_derived_geometry_build(spark, emb, tmp_path, monkeypatch):
    """IvfPqIndex.build with m=None/ksub=None derives the FAISS
    geometry from the corpus (m=16/ksub=256 on the gate embeddings —
    nothing like the pinned m=4/ksub=16, so the rule BINDS), rides the
    Arrow encode at that size, and on a mid-size geometry the derived
    build produces IDENTICAL codes and topk through both encode
    paths."""
    from fluxgraph_spark.sources.ann_index import IvfPqIndex

    idx = IvfPqIndex.build(emb, str(tmp_path / "dg"), n_centroids=16)
    books = idx.codebooks()
    assert len(books) == 16 and len(books[0]) == 256 and len(books[0][0]) == 4
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.topk(queries, k=10, n_probe=4)
    assert got.count() == 50

    # both encode paths through a DERIVED build, at a geometry where
    # the unrolled plan is still cheap: dim 8, 40 rows -> m=2, ksub=40
    small = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) + 1.0 for j in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    sq = small.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def build_rows(root, cap):
        monkeypatch.setattr(similarity, "PQ_ENCODE_UNROLL_MAX", cap)
        i = IvfPqIndex.build(small, str(tmp_path / root), n_centroids=4)
        codes = sorted(
            (r["vec_id"], tuple(r["codes"]))
            for r in i.codes().select("vec_id", "codes").collect()
        )
        top = sorted(map(tuple, i.topk(sq, k=5, n_probe=2).collect()))
        return len(i.codebooks()), len(i.codebooks()[0]), codes, top

    m_u, k_u, codes_u, top_u = build_rows("dg_unrolled", 10**9)
    m_a, k_a, codes_a, top_a = build_rows("dg_arrow", 1)
    assert (m_u, k_u) == (m_a, k_a) == (2, 40)
    assert codes_u == codes_a and top_u == top_a


def test_ivfpq_rerank_recall_beats_plain_adc(spark, emb, tmp_path):
    """Exact-rerank tier (VERDICT r4 item 7): per query, the reranked
    top-k must overlap the brute-force cosine top-k at least as well as
    ranking by compressed-domain ADC alone — aggregated over all
    queries — and the rerank output must carry exact cosines (matching
    the brute-force values for every overlapping row)."""
    from fluxgraph_spark.sources.ann_index import IvfPqIndex

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = IvfPqIndex.build(
        emb, str(tmp_path / "rr"), n_centroids=16, m=4, ksub=16
    )
    k = 10
    truth = similarity.cosine_topk_bruteforce(emb, queries, k=k)
    truth_set = {(r["query_id"], r["vec_id"]) for r in truth.collect()}

    adc = {(r["query_id"], r["vec_id"]) for r in idx.topk(queries, k=k, n_probe=4).collect()}
    rr_rows = idx.topk_rerank(queries, k=k, n_probe=4, rerank=3).collect()
    rr = {(r["query_id"], r["vec_id"]) for r in rr_rows}

    recall_adc = len(adc & truth_set)
    recall_rr = len(rr & truth_set)
    assert recall_rr >= recall_adc
    assert recall_rr > 0

    # overlapping rows carry the exact cosine, not an ADC surrogate
    truth_cos = {(r["query_id"], r["vec_id"]): r["cosine"] for r in truth.collect()}
    for r in rr_rows:
        key = (r["query_id"], r["vec_id"])
        if key in truth_cos:
            assert abs(r["cosine"] - truth_cos[key]) < 1e-9


def test_ivfpq_residual_encoding(spark, emb, tmp_path):
    """True-IVFADC residual construction: codes store (vec - assigned
    centroid); on the fixed test corpus residual ADC recalls at least
    as much of the brute-force cosine top-k as raw-vector ADC, the
    exact-rerank tier composes on top, and the persisted residual flag
    round-trips (a reopened index picks the residual ADC
    automatically)."""
    from fluxgraph_spark.sources.ann_index import IvfPqIndex

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 10
    raw = IvfPqIndex.build(
        emb, str(tmp_path / "raw"), n_centroids=16, m=4, ksub=16
    )
    res = IvfPqIndex.build(
        emb, str(tmp_path / "res"), n_centroids=16, m=4, ksub=16, residual=True
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=k).collect()
    }
    raw_set = {
        (r["query_id"], r["vec_id"])
        for r in raw.topk(queries, k=k, n_probe=4).collect()
    }
    res_set = {
        (r["query_id"], r["vec_id"])
        for r in res.topk(queries, k=k, n_probe=4).collect()
    }
    assert len(res_set & truth) >= len(raw_set & truth)
    # codes genuinely differ (residual vs raw encodings)
    assert res_set != raw_set or res.codes().collect() != raw.codes().collect()

    # reopened index resolves the persisted residual flag
    reopened = IvfPqIndex(spark, str(tmp_path / "res"))
    got = sorted(map(tuple, reopened.topk(queries, k=k, n_probe=4).collect()))
    want = sorted(map(tuple, res.topk(queries, k=k, n_probe=4).collect()))
    assert got == want

    # rerank composes on the residual shortlist
    rr = {
        (r["query_id"], r["vec_id"])
        for r in res.topk_rerank(queries, k=k, n_probe=4, rerank=3).collect()
    }
    assert len(rr & truth) >= len(res_set & truth)


def test_ivf_compact_merges_append_files(spark, emb, tmp_path):
    """After appends each touched list holds one file per batch;
    compact() rewrites to one file per partition with identical rows
    and identical query results."""
    base = emb.where(F.col("vec_id") % 3 != 0)
    idx = IvfIndex.build(base, str(tmp_path / "c"), n_centroids=8)
    for mod in (0,):
        idx.append(emb.where(F.col("vec_id") % 3 == mod))
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before_rows = idx.lists().count()
    before_files = len(idx.lists().inputFiles())
    before_topk = sorted(map(tuple, idx.topk(queries, k=5, n_probe=2).collect()))
    idx.compact()
    assert idx.lists().count() == before_rows
    assert len(idx.lists().inputFiles()) < before_files
    after_topk = sorted(map(tuple, idx.topk(queries, k=5, n_probe=2).collect()))
    assert after_topk == before_topk


def test_delta_ivf_streaming_ingest(spark, emb, tmp_path):
    """Streaming embedding ingest (streaming/ann_ingest.py +
    DeltaIvfIndex): two microbatches land in the replay-safe delta
    area; top-k over base+delta is bit-identical to one frozen-centroid
    index holding every vector, a replayed batch id changes nothing
    (overwrite-own-partition idempotence), and merge_delta folds the
    delta into the base partitions with identical results."""
    import glob
    import os
    import shutil
    import time

    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex
    from fluxgraph_spark.streaming.ann_ingest import ann_streaming_sink

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch_a = emb.where(F.col("vec_id") % 10 == 0)
    batch_b = emb.where(F.col("vec_id") % 10 == 5)

    idx = DeltaIvfIndex.build(seed, str(tmp_path / "didx"), n_centroids=16)

    # stage the stream: one file per batch, mtimes force A before B
    src = str(tmp_path / "vec_stream")
    os.makedirs(src)
    for name, b, age in (("a", batch_a, 200), ("b", batch_b, 0)):
        d = str(tmp_path / f"stage_{name}")
        b.coalesce(1).write.parquet(d)
        (part,) = glob.glob(d + "/part-*.parquet")
        dst = os.path.join(src, f"{name}.parquet")
        shutil.copy(part, dst)
        t = time.time() - age
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ann_streaming_sink(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination()

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _rows(idx.topk(queries, k=10, n_probe=4))

    # reference: one index with the same frozen centroids over ALL rows
    full = IvfIndex(spark, str(tmp_path / "full"))
    idx.centroids().coalesce(1).write.parquet(full.centroids_dir)
    full._write_lists(emb, "vec_id", "embedding", mode="overwrite")
    want = _rows(full.topk(queries, k=10, n_probe=4))
    assert got == want and len(got) == 50

    # BOTH union branches prune to the probed centroid dirs (the delta's
    # centroid_id is a second-level partition column — still prunes)
    probe_ids = [
        r["centroid_id"]
        for r in similarity.ivf_assign(
            queries.select(
                "query_id",
                similarity._as_double_vec(F.col("embedding")).alias("qvec"),
            ),
            idx.centroids(), 4, "query_id", "qvec",
        ).select("centroid_id").distinct().collect()
    ]
    pruned = {
        r[0]
        for r in idx.lists(probe_ids)
        .select(F.input_file_name()).distinct().collect()
    }
    assert pruned and all(
        any(f"centroid_id={i}/" in p for i in probe_ids) for p in pruned
    )
    assert any("delta_lists" in p for p in pruned)  # delta branch is read

    # replaying a batch id rewrites its partition — rows don't double
    n_rows = idx.lists().count()
    idx.append_batch(batch_b, 1)  # batch ids from the drained stream: 0, 1
    assert idx.lists().count() == n_rows
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want

    # offline fold into the base layout: same rows, same results, no delta
    idx.merge_delta()
    assert not os.path.isdir(idx.delta_dir)
    assert idx.lists().count() == n_rows
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want


def test_ann_ingest_rejects_reserved_columns(spark, emb, tmp_path):
    from fluxgraph_spark.streaming.ann_ingest import _reject_reserved_columns

    for col in ("batch_id", "centroid_id"):
        bad = emb.withColumn(col, F.lit(1))
        with pytest.raises(ValueError, match=col):
            _reject_reserved_columns(bad)


@pytest.mark.parametrize("residual", [False, True])
def test_delta_ivfpq_streaming_ingest(spark, emb, tmp_path, residual):
    """Streaming ingest into the compressed IVFPQ index: microbatches
    PQ-encode against the FROZEN seed codebooks (residual-aware) and
    land in delta_codes/delta_vectors subtrees; topk and the exact
    rerank tier over base+delta are bit-identical to one index built
    over all rows with the same frozen centroids+codebooks, and a
    replayed batch id changes nothing."""
    import os

    from fluxgraph_spark.sources.ann_index import DeltaIvfPqIndex, IvfPqIndex
    from fluxgraph_spark.streaming.ann_ingest import ann_streaming_sink

    seed = emb.where(F.col("vec_id") % 5 != 0)
    rest = emb.where(F.col("vec_id") % 5 == 0)
    d = str(tmp_path / f"dpq_{int(residual)}")
    idx = DeltaIvfPqIndex.build(
        seed, d, n_centroids=16, m=4, ksub=16, residual=residual
    )

    src = str(tmp_path / f"src_{int(residual)}")
    rest.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = ann_streaming_sink(
        stream, idx, str(tmp_path / f"ckpt_{int(residual)}")
    )
    q.awaitTermination()

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.topk(queries, k=10, n_probe=4)
    rows = got.collect()
    got = sorted(map(tuple, rows))
    got_rr = _rows(idx.topk_rerank(queries, k=10, n_probe=4, rerank=3))
    assert len(got) == 50
    # every query (vec_id 0 streamed in; 1-4 in the seed) finds ITSELF
    # at the MINIMAL ADC distance — streamed rows are probe-visible and
    # correctly encoded (a vector's own PQ code is its LUT argmin; other
    # rows may TIE by landing on identical codes, so assert on distance,
    # not on the id the tie-break surfaces)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in range(5):
        per = by_q[q]
        self_d = [r["adc_micro"] for r in per if r["vec_id"] == q]
        assert self_d, f"query {q} did not retrieve itself"
        assert self_d[0] == min(r["adc_micro"] for r in per)

    # reference: identical seed build (deterministic md5 sample -> same
    # frozen centroids+codebooks) + ONE direct append_batch call — pins
    # the streaming plumbing (checkpointed batch ids, schema flow)
    ref = DeltaIvfPqIndex.build(
        seed, str(tmp_path / f"refpq_{int(residual)}"),
        n_centroids=16, m=4, ksub=16, residual=residual,
    )
    ref.append_batch(rest, 0)
    want = _rows(ref.topk(queries, k=10, n_probe=4))
    want_rr = _rows(ref.topk_rerank(queries, k=10, n_probe=4, rerank=3))
    assert got == want
    assert got_rr == want_rr

    # replaying the single drained batch id rewrites, never doubles
    n_codes = idx.codes().count()
    idx.append_batch(rest, 0)
    assert idx.codes().count() == n_codes
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want

    # offline fold: same results, deltas gone
    idx.merge_delta()
    assert not os.path.isdir(idx.delta_codes_dir)
    assert not os.path.isdir(idx.delta_vectors_dir)
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want
    assert _rows(idx.topk_rerank(queries, k=10, n_probe=4, rerank=3)) == want_rr


def test_vectors_accessor_raises_without_sidecar(spark, emb, tmp_path):
    from fluxgraph_spark.sources.ann_index import IvfPqIndex

    idx = IvfPqIndex.build(
        emb, str(tmp_path / "novec"), n_centroids=8, store_vectors=False
    )
    with pytest.raises(ValueError, match="store_vectors"):
        idx.vectors()


def test_merge_delta_crash_atomicity(spark, emb, tmp_path, monkeypatch):
    """merge_delta is write-audit-publish (VERDICT r5 item 2): a crash
    BEFORE the manifest swap leaves readers on base+delta, a crash
    AFTER it leaves them on the folded base with delta subtrees
    excluded — exactly-once rows either way, and a retry converges."""
    import os

    from fluxgraph_spark.sources import ann_index as AI
    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex, IvfIndex

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    d = str(tmp_path / "didx")
    IvfIndex.build(seed, d, n_centroids=16)
    idx = DeltaIvfIndex(spark, d)
    idx.append_batch(batch, 0)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = _rows(idx.topk(queries, k=10, n_probe=4))
    n_total = idx.lists().count()

    # crash 1: after staging, BEFORE the manifest publish
    def boom(*a, **k):
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(AI, "_publish_index_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        idx.merge_delta()
    monkeypatch.undo()
    assert idx.lists().count() == n_total          # exactly-once
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want
    assert os.path.isdir(os.path.join(d, "delta_lists"))  # delta still live

    # crash 2: after the publish, BEFORE garbage collection
    monkeypatch.setattr(
        DeltaIvfIndex, "_gc_after_publish",
        lambda self, old, ids: (_ for _ in ()).throw(
            RuntimeError("injected crash after publish")
        ),
    )
    with pytest.raises(RuntimeError, match="injected"):
        idx.merge_delta()
    monkeypatch.undo()
    # old base + delta subtree still on disk, but the manifest excludes
    # both: readers see the folded base only — exactly-once
    assert os.path.isdir(os.path.join(d, "lists"))
    assert os.path.isdir(os.path.join(d, "delta_lists"))
    assert idx.lists().count() == n_total
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want

    # a replayed sink rewrite of the folded batch stays invisible
    idx.append_batch(batch, 0)
    assert idx.lists().count() == n_total
    # retry converges (nothing unfolded left; orphans get reclaimed on
    # the next successful maintenance pass)
    idx.merge_delta()
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want


def test_merge_delta_pq_atomic_and_consistent(spark, emb, tmp_path):
    """The PQ twin folds codes AND the raw-vector sidecar under ONE
    manifest swap; results (ADC and exact-rerank tiers) are unchanged
    by the fold."""
    from fluxgraph_spark.sources.ann_index import DeltaIvfPqIndex, IvfPqIndex

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    d = str(tmp_path / "dpq")
    IvfPqIndex.build(seed, d, n_centroids=16, store_vectors=True)
    idx = DeltaIvfPqIndex(spark, d)
    idx.append_batch(batch, 0)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want_adc = _rows(idx.topk(queries, k=10, n_probe=4))
    want_rr = _rows(idx.topk_rerank(queries, k=5, n_probe=4))
    n_codes = idx.codes().count()
    idx.merge_delta()
    assert idx.codes().count() == n_codes
    assert idx.vectors().count() == n_codes  # sidecar folded in step
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want_adc
    assert _rows(idx.topk_rerank(queries, k=5, n_probe=4)) == want_rr
    # idempotent: nothing left to fold
    idx.merge_delta()
    assert _rows(idx.topk(queries, k=10, n_probe=4)) == want_adc


def test_drift_stats_and_rebuild_recovers_recall(spark, tmp_path):
    """Centroid-drift monitor + offline rebuild (VERDICT r5 item 5):
    frozen centroids keep the streaming ingest replayable, but a
    DRIFTED stream lands far from every seed centroid — drift_stats
    shows the delta residuals blowing past the base residuals, and
    rebuild_centroids (atomic manifest swap, same machinery as
    merge_delta) restores probe recall over the drifted vectors."""
    import numpy as np

    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex, IvfIndex

    rng = np.random.RandomState(42)
    dim = 8
    # seed: 2 tight clusters on axes 0 and 1
    seed_rows = []
    for i in range(120):
        c = i % 2
        v = rng.normal(0, 0.05, dim)
        v[c] += 1.0
        seed_rows.append((i, [float(x) for x in v]))
    # drifted stream: a NEW tight cluster at the (e0+e1) diagonal —
    # equidistant from both seed centroids, so its members SPLIT across
    # the two frozen lists and an n_probe=1 query finds only its half
    drift_rows = []
    for i in range(120, 180):
        v = rng.normal(0, 0.05, dim)
        v[0] += 0.707
        v[1] += 0.707
        drift_rows.append((i, [float(x) for x in v]))
    schema = "vec_id long, embedding array<double>"
    seed = spark.createDataFrame(seed_rows, schema)
    drift = spark.createDataFrame(drift_rows, schema)

    d = str(tmp_path / "driftidx")
    IvfIndex.build(seed, d, n_centroids=2)
    idx = DeltaIvfIndex(spark, d)
    # put the seed centroids ON the seed cluster means (k-means refine)
    # so the monitor measures stream drift, not sample-centroid noise —
    # this also exercises rebuild_centroids on a quiescent index
    idx.rebuild_centroids(n_centroids=2, refine_iters=3)
    idx.append_batch(drift, 0)

    stats = {r["centroid_id"]: r for r in idx.drift_stats().collect()}
    assert sum(r["n_base"] for r in stats.values()) == 120
    assert sum(r["n_delta"] for r in stats.values()) == 60
    # the drifted members split across the frozen lists, far from both
    # seed centroids
    hot = [r for r in stats.values() if r["n_delta"] > 0]
    assert len(hot) == 2 and all(
        r["mean_res_delta"] > 2 * r["mean_res_base"] for r in hot
    )
    assert all(0.2 < r["delta_share"] < 0.5 for r in hot)

    # recall of drifted queries before vs after rebuild at n_probe=1
    queries = drift.where(F.col("vec_id") < 130).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = seed.unionByName(drift)
    want = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_bruteforce(corpus, queries, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & want) / len(want)

    before = recall(idx.topk(queries, k=5, n_probe=1))
    assert before < 0.9  # the split halves the neighbor lists
    idx.rebuild_centroids(n_centroids=3, refine_iters=4)
    after = recall(idx.topk(queries, k=5, n_probe=1))
    assert after > before, (before, after)
    assert after >= 0.9
    # the rebuild folded the delta and the index stays appendable
    assert idx.lists().count() == 180
    idx.append_batch(drift.limit(0), 1)  # empty batch against new centroids


def test_pq_drift_stats_matches_ivf_twin(spark, emb, tmp_path):
    """DeltaIvfPqIndex.drift_stats (over the raw-vector sidecar) is
    bit-identical to DeltaIvfIndex.drift_stats on the same seed+stream:
    same seed centroids, same argmax assignment, same integer-micro
    means — which is why the two monitors share one SQL oracle.
    Without the sidecar the PQ monitor raises like vectors()."""
    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex, DeltaIvfPqIndex

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)

    ivf = DeltaIvfIndex.build(seed, str(tmp_path / "ivf"), n_centroids=16)
    ivf.append_batch(batch, 0)
    pq = DeltaIvfPqIndex.build(
        seed, str(tmp_path / "pq"), n_centroids=16, m=4, ksub=16
    )
    pq.append_batch(batch, 0)
    assert _rows(ivf.drift_stats()) == _rows(pq.drift_stats())

    bare = DeltaIvfPqIndex.build(
        seed, str(tmp_path / "bare"), n_centroids=16, m=4, ksub=16,
        store_vectors=False,
    )
    with pytest.raises(ValueError, match="store_vectors"):
        bare.drift_stats()


def test_pq_rebuild_recovers_recall_and_is_atomic(
    spark, tmp_path, monkeypatch
):
    """DeltaIvfPqIndex.rebuild retrains centroids AND codebooks from the
    raw-vector sidecar and publishes the whole generation (centroids,
    codebooks, codes, vectors) through ONE manifest swap: recall of a
    drifted stream recovers, a crash before the publish leaves the old
    generation fully live (codes never read against foreign codebooks),
    the delta folds, and the index stays appendable."""
    import os

    import numpy as np

    from fluxgraph_spark.sources import ann_index as AI
    from fluxgraph_spark.sources.ann_index import DeltaIvfPqIndex, IvfPqIndex

    rng = np.random.RandomState(7)
    dim = 8
    seed_rows = []
    for i in range(120):
        c = i % 2
        v = rng.normal(0, 0.05, dim)
        v[c] += 1.0
        seed_rows.append((i, [float(x) for x in v]))
    drift_rows = []
    for i in range(120, 180):
        v = rng.normal(0, 0.05, dim)
        v[0] += 0.707
        v[1] += 0.707
        drift_rows.append((i, [float(x) for x in v]))
    schema = "vec_id long, embedding array<double>"
    seed = spark.createDataFrame(seed_rows, schema)
    drift = spark.createDataFrame(drift_rows, schema)

    d = str(tmp_path / "pqdrift")
    IvfPqIndex.build(seed, d, n_centroids=2, m=4, ksub=16, residual=True)
    idx = DeltaIvfPqIndex(spark, d)
    # put the seed centroids ON the cluster means (also exercises
    # rebuild on a quiescent, delta-free index)
    idx.rebuild(n_centroids=2, refine_iters=3)
    assert idx.codes().count() == 120
    idx.append_batch(drift, 0)

    queries = drift.where(F.col("vec_id") < 130).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = seed.unionByName(drift)
    want = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_bruteforce(corpus, queries, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & want) / len(want)

    before = recall(idx.topk_rerank(queries, k=5, n_probe=1))
    assert before < 0.9  # drifted members split across the frozen lists

    # crash BEFORE the publish: the old generation stays fully live
    pre_codes = _rows(idx.codes().select("vec_id"))
    monkeypatch.setattr(
        AI, "_publish_index_manifest",
        lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("injected crash before publish")
        ),
    )
    with pytest.raises(RuntimeError, match="injected"):
        idx.rebuild(n_centroids=3, refine_iters=4)
    monkeypatch.undo()
    assert _rows(idx.codes().select("vec_id")) == pre_codes
    assert recall(idx.topk_rerank(queries, k=5, n_probe=1)) == before
    assert os.path.isdir(os.path.join(d, "delta_codes"))  # delta still live

    idx.rebuild(n_centroids=3, refine_iters=4)
    after = recall(idx.topk_rerank(queries, k=5, n_probe=1))
    assert after > before, (before, after)
    assert after >= 0.9
    # the rebuild folded the delta, kept the residual flag, and a fresh
    # handle resolves the same generation through the manifest
    assert idx.codes().count() == 180
    assert idx.vectors().count() == 180
    assert idx._load_codebooks()[1] is True
    reopened = DeltaIvfPqIndex(spark, d)
    assert recall(reopened.topk_rerank(queries, k=5, n_probe=1)) == after
    # replayed sink rewrite of the folded batch stays invisible; a NEW
    # batch lands against the refreshed centroids+codebooks
    idx.append_batch(drift, 0)
    assert idx.codes().count() == 180
    idx.append_batch(drift.limit(0), 1)


def test_pq_rebuild_requires_vector_sidecar(spark, emb, tmp_path):
    from fluxgraph_spark.sources.ann_index import DeltaIvfPqIndex, IvfPqIndex

    IvfPqIndex.build(
        emb, str(tmp_path / "novec"), n_centroids=8, store_vectors=False
    )
    idx = DeltaIvfPqIndex(spark, str(tmp_path / "novec"))
    with pytest.raises(ValueError, match="store_vectors"):
        idx.rebuild()


def test_folded_leftovers_are_swept_and_invisible(spark, emb, tmp_path):
    """A folded batch subtree recreated AFTER the fold (an at-least-once
    sink replay, or a crash between publish and GC) stays invisible to
    readers and is RECLAIMED by the next maintenance pass — without the
    sweep, later merges only ever name unfolded batches and the orphan
    would accumulate forever."""
    import os

    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex, IvfIndex

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    d = str(tmp_path / "didx")
    IvfIndex.build(seed, d, n_centroids=16)
    idx = DeltaIvfIndex(spark, d)
    idx.append_batch(batch, 0)
    idx.merge_delta()
    n_total = idx.lists().count()
    assert not os.path.isdir(os.path.join(d, "delta_lists"))

    # replayed sink rewrites the already-folded batch
    idx.append_batch(batch, 0)
    assert os.path.isdir(os.path.join(d, "delta_lists", "batch_id=0"))
    assert idx.lists().count() == n_total  # invisible to readers
    # next maintenance pass has nothing to fold but reclaims the orphan
    idx.merge_delta()
    assert not os.path.isdir(os.path.join(d, "delta_lists"))
    assert idx.lists().count() == n_total


def test_manifest_cache_refresh_across_handles(spark, emb, tmp_path):
    """Handles cache the manifest (one read per handle, not per name
    resolution); after ANOTHER handle runs maintenance, refresh() picks
    up the new generation."""
    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex, IvfIndex

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    d = str(tmp_path / "didx")
    IvfIndex.build(seed, d, n_centroids=16)
    reader = DeltaIvfIndex(spark, d)
    assert reader.lists_dir.endswith("lists")  # primes the cache

    writer = DeltaIvfIndex(spark, d)
    writer.append_batch(batch, 0)
    writer.merge_delta()
    assert writer.lists_dir.endswith("lists__m1")  # own publish refreshed
    reader.refresh()
    assert reader.lists_dir.endswith("lists__m1")
    assert reader.lists().count() == emb.count()


def test_ann_auto_merge_ratio_self_folds(spark, emb, tmp_path):
    """VERDICT r6 item 9 (ANN side): streaming ingest with
    auto_merge_ratio folds the delta mid-stream once the unfolded rows
    cross ratio x base; probes stay bit-identical to a frozen-centroid
    index over every vector, and a never-binding ratio leaves the
    manifest unfolded."""
    import glob
    import os
    import shutil
    import time

    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex
    from fluxgraph_spark.streaming.ann_ingest import ann_streaming_sink

    seed = emb.where(F.col("vec_id") % 5 != 0)
    batch_a = emb.where(F.col("vec_id") % 10 == 0)
    batch_b = emb.where(F.col("vec_id") % 10 == 5)
    idx = DeltaIvfIndex.build(seed, str(tmp_path / "didx_auto"), n_centroids=16)

    src = str(tmp_path / "vec_stream_auto")
    os.makedirs(src)
    for name, b, age in (("a", batch_a, 200), ("b", batch_b, 0)):
        d = str(tmp_path / f"stage_auto_{name}")
        b.coalesce(1).write.parquet(d)
        (part,) = glob.glob(d + "/part-*.parquet")
        dst = os.path.join(src, f"{name}.parquet")
        shutil.copy(part, dst)
        t = time.time() - age
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ann_streaming_sink(
        stream, idx, str(tmp_path / "ckpt_auto"), auto_merge_ratio=0.001
    ).awaitTermination()
    m = idx._manifest()
    assert m is not None and m["version"] >= 1
    assert len(m["folded_batches"]) >= 1
    assert idx._delta_rows() == 0  # everything folded into the base

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _rows(idx.topk(queries, k=10, n_probe=4))
    full = IvfIndex(spark, str(tmp_path / "full_auto"))
    idx.centroids().coalesce(1).write.parquet(full.centroids_dir)
    full._write_lists(emb, "vec_id", "embedding", mode="overwrite")
    assert got == _rows(full.topk(queries, k=10, n_probe=4))

    # a ratio the delta never crosses: maybe_merge declines
    idx2 = DeltaIvfIndex.build(
        seed, str(tmp_path / "didx_noauto"), n_centroids=16
    )
    idx2.append_batch(batch_a, 0)
    assert idx2.maybe_merge(ratio=1000.0) is False
    assert idx2._manifest() is None or idx2._manifest()["version"] == 0
    assert idx2.maybe_merge(ratio=0.001) is True


def test_annpq_auto_merge_ratio_self_folds(spark, emb, tmp_path):
    """ADVICE r7 (high): DeltaIvfPqIndex inherited _delta_rows/_base_rows
    but NOT maybe_merge (it extends IvfPqIndex, not DeltaIvfIndex), so a
    PQ index streamed with auto_merge_ratio raised AttributeError inside
    foreachBatch on the first non-empty batch and killed the stream.
    Now both delta classes share the _AutoCompacting mixin: the PQ
    stream folds mid-run, probes stay bit-identical, and the sidecar
    folds under the same swap."""
    from fluxgraph_spark.sources.ann_index import DeltaIvfPqIndex
    from fluxgraph_spark.streaming.ann_ingest import ann_streaming_sink

    seed = emb.where(F.col("vec_id") % 5 != 0)
    rest = emb.where(F.col("vec_id") % 5 == 0)
    d = str(tmp_path / "dpq_auto")
    idx = DeltaIvfPqIndex.build(seed, d, n_centroids=16, m=4, ksub=16)

    src = str(tmp_path / "pq_stream_auto")
    rest.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    ann_streaming_sink(
        stream, idx, str(tmp_path / "ckpt_pq_auto"), auto_merge_ratio=0.001
    ).awaitTermination()
    m = idx._manifest()
    assert m is not None and m["version"] >= 1
    assert len(m["folded_batches"]) >= 1
    assert idx._delta_rows() == 0  # codes folded into the base

    # bit-identical to the same seed build + one direct append, unfolded
    ref = DeltaIvfPqIndex.build(
        seed, str(tmp_path / "refpq_auto"), n_centroids=16, m=4, ksub=16
    )
    ref.append_batch(rest, 0)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _rows(idx.topk(queries, k=10, n_probe=4))
    assert got == _rows(ref.topk(queries, k=10, n_probe=4))
    # the raw-vector sidecar folded under the same swap: exact rerank works
    got_rr = _rows(idx.topk_rerank(queries, k=10, n_probe=4, rerank=3))
    assert got_rr == _rows(ref.topk_rerank(queries, k=10, n_probe=4, rerank=3))

    # decline/bind parity with the IVF side
    idx3 = DeltaIvfPqIndex.build(
        seed, str(tmp_path / "dpq_noauto"), n_centroids=16, m=4, ksub=16
    )
    idx3.append_batch(rest, 0)
    assert idx3.maybe_merge(ratio=1000.0) is False
    assert idx3.maybe_merge(ratio=0.001) is True
    assert idx3._delta_rows() == 0


# ---------------------------------------------------------------------------
# k-scalable centroid assignment (r11): Arrow-batched pruned scan
# ---------------------------------------------------------------------------

def test_ivf_assign_arrow_path_equals_unrolled(spark, emb):
    """The k > IVF_ASSIGN_UNROLL_MAX strategy (_ivf_assign_arrow:
    broadcast centroid matrix + pruned mapInPandas scan) must be
    DECISION-IDENTICAL to the unrolled literal map — the in-order IEEE
    fold + Spark tie semantics argument, pinned on real vectors."""
    v = emb.select(
        F.col("vec_id").alias("id"),
        similarity._as_double_vec(F.col("embedding")).alias("vec"),
    )
    cents = similarity.ivf_centroids(emb, 30)
    for n_probe in (1, 2, 5):
        flat = _rows(
            similarity.ivf_assign(
                v, cents, n_probe, "id", "vec", max_unrolled_centroids=10**9
            )
        )
        arrow = _rows(
            similarity.ivf_assign(
                v, cents, n_probe, "id", "vec", max_unrolled_centroids=1
            )
        )
        assert flat == arrow and len(flat) == 500 * n_probe


def test_ivf_assign_arrow_ties_and_zero_centroid(spark):
    """Tie breaking (duplicate vectors AND duplicate centroids) and the
    zero-norm-CENTROID guard (`or 1.0` => sim exactly 0.0) replay
    identically through the arrow path; n_probe > k emits k picks."""
    df = spark.createDataFrame(
        [(2, [1.0, 0.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0, 0.0]),
         (4, [0.5, 0.5, 0.0, 0.0]), (5, [-1.0, 0.0, 0.0, 0.0])],
        "id long, vec array<double>",
    )
    cdf = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [1.0, 0.0, 0.0, 0.0]), (4, [0.0, 0.0, 0.0, 0.0])],
        "centroid_id int, cvec array<double>",
    )
    for n_probe in (1, 2, 3, 6):
        flat = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_unrolled_centroids=10**9))
        arrow = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_unrolled_centroids=1))
        assert flat == arrow
        assert len(arrow) == 4 * min(n_probe, 4)


def test_ivf_assign_arrow_zero_norm_vector_raises(spark):
    """Zero-norm VECTORS are out of contract in both paths (the
    unrolled map hits ANSI DIVIDE_BY_ZERO); the arrow path raises the
    actionable ValueError naming the upstream filter."""
    cdf = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "centroid_id int, cvec array<double>"
    )
    zdf = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "id long, vec array<double>"
    )
    with pytest.raises(Exception, match="zero-norm"):
        similarity.ivf_assign(
            zdf, cdf, 1, "id", "vec", max_unrolled_centroids=1
        ).collect()


def test_ivf_assign_arrow_nonfinite_vectors_equal_unrolled(spark):
    """A NaN/Inf COMPONENT is in contract in both paths (r12, ADVICE):
    the unrolled map assigns such vectors through Spark's NaN-largest
    ordering (no division by zero — the norm is NaN/Inf, not 0); the
    arrow path used to silently emit zero picks (NaN pruning bounds
    fail every >= test) or raise a MISLEADING zero-norm error.  Now
    non-finite bounds mark the row unprunable — every group scans
    exactly and the decisions match the unrolled map."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, [nan, 1.0, 0.0, 0.0]),      # NaN component -> NaN norm
         (2, [inf, 0.0, 0.0, 0.0]),      # Inf component -> Inf norm
         (3, [1.0, 0.0, 0.0, 0.0]),      # finite control
         (4, [0.0, nan, nan, 0.0])],
        "id long, vec array<double>",
    )
    cdf = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [0.5, 0.5, 0.0, 0.0]), (4, [0.0, 0.0, 1.0, 0.0]),
         (5, [0.0, 0.0, 0.0, 1.0])],
        "centroid_id int, cvec array<double>",
    )
    for n_probe in (1, 2, 5):
        flat = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_unrolled_centroids=10**9))
        arrow = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_unrolled_centroids=1))
        assert flat == arrow and len(arrow) == 4 * n_probe
        shard = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_broadcast_centroids=2))
        assert flat == shard


def test_semantic_ivf_dedupe_arrow_path_and_zero_singleton(spark, monkeypatch):
    """semantic_ivf_dedupe through the arrow assignment (threshold
    forced to 1 so the derived k takes the scan path) equals the
    unrolled run, and a zero-norm embedding comes back as its own
    singleton cluster instead of ANSI-crashing the assignment."""
    from fluxgraph_spark.functions import dedup as dedup_mod

    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), 1.0, 0.0, 0.0]) for i in range(1, 40)]
        + [(99, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    flat = _rows(dedup_mod.semantic_ivf_dedupe(emb, n_centroids=20, threshold=0.9))
    monkeypatch.setattr(similarity, "IVF_ASSIGN_UNROLL_MAX", 1)
    arrow = _rows(dedup_mod.semantic_ivf_dedupe(emb, n_centroids=20, threshold=0.9))
    assert flat == arrow and len(flat) == 40
    assert (99, 99, 1) in flat  # the zero vector is a kept singleton


def test_registry_semantic_ivf_dedupe_gate_data_through_arrow_path(
    spark, monkeypatch
):
    """The driver-gated query itself (q_d_semantic_ivf_dedupe) at the
    sf0.001 gate data, forced through the Arrow assignment path, equals
    the default unrolled run — so the oracle that hash-gates the
    unrolled path gates the scan path transitively.  No oracle run
    forces the scan path, so this pytest is what keeps the equality
    from regressing."""
    import __spark_entry__ as em

    flat = _rows(em.queries()["d_semantic_ivf_dedupe"](spark, SF_DIR))
    monkeypatch.setattr(similarity, "IVF_ASSIGN_UNROLL_MAX", 1)
    arrow = _rows(em.queries()["d_semantic_ivf_dedupe"](spark, SF_DIR))
    assert flat == arrow and len(flat) == 500


def test_ivf_assign_sharded_equals_unrolled(spark, emb):
    """Third assignment tier (r11): past the collect/broadcast ceiling
    the centroid set shards, each shard emits its top-n_probe WITH the
    exact sort key, and a per-id window merges — decision-identical to
    the single-map path, including ties split ACROSS shards."""
    v = emb.select(
        F.col("vec_id").alias("id"),
        similarity._as_double_vec(F.col("embedding")).alias("vec"),
    )
    cents = similarity.ivf_centroids(emb, 30)
    for n_probe in (1, 2, 5):
        flat = _rows(similarity.ivf_assign(
            v, cents, n_probe, "id", "vec", max_unrolled_centroids=10**9))
        shard = _rows(similarity.ivf_assign(
            v, cents, n_probe, "id", "vec", max_broadcast_centroids=7))
        assert flat == shard and len(shard) == 500 * n_probe
    # duplicate centroids split across shard boundaries (shard size 2)
    # tie only at the MERGE window — the cross-shard stress case
    df = spark.createDataFrame(
        [(2, [1.0, 0.0]), (3, [0.6, 0.4])], "id long, vec array<double>")
    cdf = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0]),
         (4, [0.0, 0.0]), (5, [0.9, 0.1])],
        "centroid_id int, cvec array<double>")
    for n_probe in (1, 3, 6):
        flat = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_unrolled_centroids=10**9))
        shard = _rows(similarity.ivf_assign(
            df, cdf, n_probe, "id", "vec", max_broadcast_centroids=2))
        assert flat == shard
