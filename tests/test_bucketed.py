"""Bucketed dedup-index tables (sources/bucketed.py): zero-Exchange
corpus joins from storage layout, decision-equivalence with the
self-contained incremental operator, and append-vs-rebuild identity."""

import pytest
from pyspark.sql import functions as F

from fluxgraph_spark.functions import dedup
from fluxgraph_spark.sources import bucketed
from fluxgraph_spark.sources.tpch import read_tables

SF_DIR = "/root/testdata/sf0.001"
DB = "flux_test_idx"


@pytest.fixture(scope="module")
def docs(spark):
    return read_tables(spark, SF_DIR)["documents"].select("doc_id", "text")


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("warehouse")
    bucketed.ensure_database(spark, DB, str(loc))
    yield DB
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


@pytest.fixture(scope="module")
def index(spark, docs, warehouse):
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    idx = bucketed.DedupIndex.build(
        corpus, "doc_id", "text", f"{warehouse}.corpus",
        n=3, num_hashes=8, bands=4, n_buckets=4,
    )
    return idx, corpus, batch


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_candidate_pairs_match_unbucketed(index):
    idx, corpus, _ = index
    sh = dedup.shingle_table(
        corpus.selectExpr("doc_id AS id", "text"), "id", "text", n=3
    )
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    want = _pairs_set(dedup.pairs_from_bands(dedup.band_table(sig, num_hashes=8, bands=4)))
    got = _pairs_set(idx.candidate_pairs())
    assert got == want and got


def test_band_self_join_is_shuffle_free(spark, index):
    idx, *_ = index
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            idx.candidate_pairs()
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the join itself must be fed by bucketed scans; the only allowed
        # Exchange is the one under dropDuplicates of the pair OUTPUT
        join_part = plan.split("SortMergeJoin")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, join_part
        # capped variant: the stats groupBy is also shuffle-free
        plan_capped = (
            idx.candidate_pairs(max_bucket_size=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        agg_part = plan_capped.split("SortMergeJoin")[-1]
        assert "Exchange" not in agg_part
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dedupe_batch_matches_incremental(index):
    idx, corpus, batch = index
    want = sorted(
        r["doc_id"]
        for r in dedup.dedupe_incremental(
            batch, corpus, "doc_id", "text",
            n=3, num_hashes=8, bands=4, threshold=0.5,
        ).collect()
    )
    got = sorted(
        r["doc_id"]
        for r in idx.dedupe_batch(batch, corpus, "doc_id", "text", threshold=0.5)
        .collect()
    )
    assert got == want
    # the batch had at least one duplicate to drop, else the test is vacuous
    assert len(got) < batch.count()


def test_dedupe_batch_frees_batch_checkpoints(spark, index):
    """Per-batch fingerprint checkpoints must be freed when the batch
    result materializes (ADVICE r12: a long-lived streaming session
    calling dedupe_batch per microbatch otherwise accumulates
    block-manager storage until the ContextCleaner runs).  Only the
    escaping drops checkpoint may survive a call."""
    import time

    idx, corpus, batch = index
    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    out = idx.dedupe_batch(batch, corpus, "doc_id", "text", threshold=0.5)
    out.count()
    # unpersist/free are non-blocking: poll briefly
    deadline = time.time() + 15
    while n_cached() - before > 1 and time.time() < deadline:
        time.sleep(0.2)
    assert n_cached() - before <= 1


def test_dedupe_batch_releases_resources_on_failure(spark, index, monkeypatch):
    """A failure in the near tier, while the exact tier's checkpoint job
    runs on its pool thread, must leave no pool thread alive and no
    cached or checkpointed block of the batch behind."""
    import threading
    import time

    idx, corpus, batch = index
    sc = spark.sparkContext

    def cached_ids():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    def pool_threads():
        return {
            t for t in threading.enumerate()
            if t.name.startswith("ThreadPoolExecutor")
        }

    def fail(*_args, **_kwargs):
        raise RuntimeError("injected verify failure")

    monkeypatch.setattr(bucketed, "_jaccard_pairs", fail)
    threads_before = pool_threads()
    before = cached_ids()
    with pytest.raises(RuntimeError, match="injected verify failure"):
        idx.dedupe_batch(batch, corpus, "doc_id", "text", threshold=0.5)
    assert pool_threads() <= threads_before
    # unpersist/free are non-blocking: poll briefly.  Compare ids, not
    # counts: earlier tests' blocks may be cleaned up meanwhile
    deadline = time.time() + 15
    while cached_ids() - before and time.time() < deadline:
        time.sleep(0.2)
    assert not cached_ids() - before


def test_free_local_checkpoint_releases_blocks(spark):
    import time

    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    ck = spark.range(1000).selectExpr("id", "id * 2 AS v").localCheckpoint(eager=True)
    assert len(sc._jsc.sc().getRDDStorageInfo()) == before + 1
    dedup.free_local_checkpoint(ck)
    deadline = time.time() + 15
    while len(sc._jsc.sc().getRDDStorageInfo()) > before and time.time() < deadline:
        time.sleep(0.2)
    assert len(sc._jsc.sc().getRDDStorageInfo()) == before
    # a non-checkpoint frame is a safe no-op
    dedup.free_local_checkpoint(spark.range(10))


def test_append_equals_rebuild(spark, docs, warehouse, index):
    idx, corpus, batch = index
    survivors = idx.dedupe_batch(batch, corpus, "doc_id", "text", threshold=0.5)

    grown = bucketed.DedupIndex.build(
        corpus, "doc_id", "text", f"{warehouse}.grown",
        n=3, num_hashes=8, bands=4, n_buckets=4,
    )
    grown.append(survivors, "doc_id", "text")

    rebuilt = bucketed.DedupIndex.build(
        corpus.unionByName(survivors.select("doc_id", "text")),
        "doc_id", "text", f"{warehouse}.rebuilt",
        n=3, num_hashes=8, bands=4, n_buckets=4,
    )
    for a, b in (
        (grown.bands_df(), rebuilt.bands_df()),
        (grown.hashes(), rebuilt.hashes()),
    ):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # an appended index keeps answering shuffle-free
    assert _pairs_set(grown.candidate_pairs()) == _pairs_set(rebuilt.candidate_pairs())


def test_dedupe_batch_replay_is_idempotent(spark, docs, warehouse):
    """Crashed-and-replayed microbatch: the batch's fingerprints are
    already in the index (the crashed attempt appended them).  The
    replay must reach the SAME decisions — same-id index rows are
    excluded from the exact and band probes — not drop everything as
    self-matches."""
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    idx = bucketed.DedupIndex.build(
        corpus, "doc_id", "text", f"{warehouse}.replay",
        n=3, num_hashes=8, bands=4, n_buckets=4,
    )
    first = idx.dedupe_batch(batch, corpus, "doc_id", "text", threshold=0.5)
    first_ids = sorted(r["doc_id"] for r in first.collect())
    idx.append(first, "doc_id", "text")  # what the crashed attempt did
    replay = idx.dedupe_batch(batch, corpus, "doc_id", "text", threshold=0.5)
    replay_ids = sorted(r["doc_id"] for r in replay.collect())
    assert replay_ids == first_ids
    assert replay_ids  # and not the empty set a self-match would produce


def test_compact_merges_append_files(spark, docs, warehouse):
    """After several appends the band table holds one file set per
    batch; compact() rewrites once with the same bucket spec — fewer
    files, identical rows, and candidate generation stays shuffle-free."""
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    idx = bucketed.DedupIndex.build(
        corpus, "doc_id", "text", f"{warehouse}.compact",
        n=3, num_hashes=8, bands=4, n_buckets=4,
    )
    for mod in (0, 5):
        idx.append(docs.where(F.col("doc_id") % 10 == mod), "doc_id", "text")
    before_rows = sorted(map(tuple, idx.bands_df().collect()))
    before_files = len(idx.bands_df().inputFiles())
    idx.compact()
    after_rows = sorted(map(tuple, idx.bands_df().collect()))
    after_files = len(idx.bands_df().inputFiles())
    assert after_rows == before_rows
    assert after_files < before_files
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = idx.candidate_pairs()._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.split("SortMergeJoin")[-1]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ensure_database_validates_inputs(spark):
    """database/location interpolate into SQL text — hostile values must
    be rejected, not executed (ADVICE r4)."""
    with pytest.raises(ValueError, match="invalid database identifier"):
        bucketed.ensure_database(spark, "x; DROP DATABASE y")
    with pytest.raises(ValueError, match="invalid database identifier"):
        bucketed.ensure_database(spark, "bad-name")
    with pytest.raises(ValueError, match="quote"):
        bucketed.ensure_database(spark, "ok_db", "/tmp/it's-a-path")


def test_auto_bucket_sizing(spark, docs, warehouse):
    """n_buckets=None derives the layout from the corpus (VERDICT r4
    item 6): shuffle-partition floor at toy scale, data-driven growth,
    hard cap; and a reopened index reads its bucket count back from the
    catalog instead of trusting a caller default."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # formula across the sizing-guide scales
    assert bucketed.auto_n_buckets(spark, 10**6) == max(shuffle, 1)
    assert bucketed.auto_n_buckets(spark, 10**9) == max(shuffle, 1000)
    assert bucketed.auto_n_buckets(spark, 10**12) == 65_536
    # build-time: a toy corpus lands on the parallelism floor
    idx = bucketed.DedupIndex.build(docs, "doc_id", "text", f"{warehouse}.auto")
    assert idx.n_buckets == max(shuffle, 1)
    # reopening with no explicit n_buckets resolves from the catalog
    reopened = bucketed.DedupIndex(spark, f"{warehouse}.auto")
    assert reopened.n_buckets == idx.n_buckets


def test_open_missing_index_without_buckets_raises(spark):
    """Opening a DedupIndex at a prefix whose tables don't exist and
    without n_buckets fails AT CONSTRUCTION with a pointer to build(),
    not later inside bucketBy(None, ...) (ADVICE r5)."""
    from fluxgraph_spark.sources.bucketed import DedupIndex

    with pytest.raises(ValueError, match="DedupIndex.build"):
        DedupIndex(spark, "no_such_prefix_xyz")
