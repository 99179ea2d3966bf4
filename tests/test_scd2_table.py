"""Durable incremental SCD2 parquet table (write-audit-publish sink)."""

import datetime
import os

import pytest

from fluxgraph_spark.sources.scd2_table import Scd2ParquetTable

T0 = datetime.datetime(2024, 1, 1)


def t(n):
    return T0 + datetime.timedelta(hours=n)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, valid_from timestamp_ntz, state string"
    )


BATCH1 = [(1, None, "a"), (2, None, "x")]
BATCH2 = [(1, None, "b"), (3, None, "m")]
BATCH3 = [(2, None, "y"), (1, None, "c")]


def _ts_rows(batch, hours):
    return [(k, t(h), v) for (k, _, v), h in zip(batch, hours)]


def test_two_ingests_match_full_rebuild(spark, tmp_path):
    """VERDICT r2 item 3 'Done': ingest two change batches via the sink,
    reload, and match the full-rebuild SCD2 table; no driver collect in
    the data path."""
    from fluxgraph_spark.operators.temporal import scd2_from_change_events

    b1 = _batch(spark, _ts_rows(BATCH1, [0, 1]))
    b2 = _batch(spark, _ts_rows(BATCH2, [5, 6]))

    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    a1 = tbl.ingest(b1)
    a2 = tbl.ingest(b2)
    assert (a1["version"], a2["version"]) == (1, 2)

    # reload through a fresh handle (manifest-driven read)
    tbl2 = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["ignored"])
    assert tbl2.key_cols == ["user_id"]  # parameters come from the manifest
    got = tbl2.read()

    want = scd2_from_change_events(b1.unionByName(b2), ["user_id"], "valid_from")
    cols = ["user_id", "valid_from", "valid_to", "version_idx", "is_current", "state"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )

    # commit log: one append per publish
    hist = tbl2.history().orderBy("v").collect()
    assert [r["v"] for r in hist] == [1, 2]
    assert [r["n_changes"] for r in hist] == [2, 2]


def test_only_affected_buckets_rewrite(spark, tmp_path):
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"], n_buckets=8)
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))
    m1 = tbl._read_manifest()

    # second batch touches user 1 and new user 3 — buckets of users
    # untouched by it must keep their version-1 directories
    a2 = tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])))
    m2 = tbl._read_manifest()
    assert a2["n_buckets_rewritten"] < tbl.n_buckets
    untouched = [b for b in m1["buckets"] if m2["buckets"][b] == m1["buckets"][b]]
    rewritten = [b for b in m2["buckets"] if m2["buckets"][b] == 2]
    assert rewritten  # something moved to v2
    # user 2's bucket stayed at v1 unless it collides with 1 or 3
    b_of = lambda uid: next(
        r[0]
        for r in spark.sql(f"SELECT pmod(hash({uid}L), 8)").collect()
    )
    if b_of(2) not in {b_of(1), b_of(3)}:
        assert str(b_of(2)) in untouched

    # third batch: full state equals three-batch rebuild
    from fluxgraph_spark.operators.temporal import scd2_from_change_events

    b3 = _batch(spark, _ts_rows(BATCH3, [9, 10]))
    tbl.ingest(b3)
    all_changes = _batch(
        spark, _ts_rows(BATCH1, [0, 1]) + _ts_rows(BATCH2, [5, 6]) + _ts_rows(BATCH3, [9, 10])
    )
    want = scd2_from_change_events(all_changes, ["user_id"], "valid_from")
    cols = ["user_id", "valid_from", "valid_to", "version_idx", "is_current", "state"]
    assert sorted(map(tuple, tbl.read().select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_vacuum_drops_unreferenced_versions(spark, tmp_path):
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"], n_buckets=4)
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))
    tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])))
    before = tbl.read().count()
    removed = tbl.vacuum()
    assert removed >= 1  # user 1's bucket has a dead v1
    assert tbl.read().count() == before  # committed state untouched


def test_staging_cleaned_and_state_intact_on_bad_batch(spark, tmp_path):
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))
    snapshot = sorted(map(tuple, tbl.read().collect()))
    # a batch missing the value column fails inside the merge/write;
    # committed state and manifest must be untouched, staging removed
    bad = spark.createDataFrame(
        [(1, t(3))], "user_id long, valid_from timestamp_ntz"
    )
    with pytest.raises(Exception):
        tbl.ingest(bad)
    assert not os.path.exists(str(tmp_path / "tbl" / "_staging"))
    assert tbl._read_manifest()["version"] == 1
    assert sorted(map(tuple, tbl.read().collect())) == snapshot


def test_load_graph_parquet_guard(spark, tmp_path):
    from fluxgraph_spark import TemporalGraph
    from fluxgraph_spark.sources.parquet_io import (
        load_graph_parquet,
        save_graph_parquet,
    )

    g = TemporalGraph.create(spark)
    v1, v2 = g.add_vertex(), g.add_vertex()
    g.add_edge(None, v1, v2, "knows")
    save_graph_parquet(g, str(tmp_path / "g"))
    with pytest.raises(ValueError, match="DataFrameGraph"):
        load_graph_parquet(spark, str(tmp_path / "g"), max_rows=2)
    g2 = load_graph_parquet(spark, str(tmp_path / "g"))
    assert g2.vertices_df().count() == 2


def test_ingest_batch_id_replay_is_idempotent(spark, tmp_path):
    """A replayed microbatch (same batch_id) must be SKIPPED, not merged
    twice — the foreachBatch crash-replay scenario."""
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    a1 = tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])), batch_id=0)
    assert not a1.get("skipped")
    snapshot = sorted(map(tuple, tbl.read().collect()))
    # replay of batch 0: skipped, state unchanged
    a_replay = tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])), batch_id=0)
    assert a_replay["skipped"]
    assert sorted(map(tuple, tbl.read().collect())) == snapshot
    assert tbl._read_manifest()["version"] == 1
    # the next epoch proceeds normally
    a2 = tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])), batch_id=1)
    assert not a2.get("skipped") and a2["version"] == 2


def test_new_writer_epoch_reset_not_swallowed(spark, tmp_path):
    """A NEW writer (fresh streaming checkpoint, epoch ids restart at 0)
    must NOT be skipped by another writer's high-water mark — the silent
    data-loss mode of a global batch_id counter."""
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    a1 = tbl.ingest(
        _batch(spark, _ts_rows(BATCH1, [0, 1])), batch_id=5, writer_id="/ckpt/q1"
    )
    assert not a1.get("skipped")
    # different writer, batch_id 0 <= 5: must COMMIT, not skip
    a2 = tbl.ingest(
        _batch(spark, _ts_rows(BATCH2, [5, 6])), batch_id=0, writer_id="/ckpt/q2"
    )
    assert not a2.get("skipped") and a2["version"] == 2
    # same writer replaying its own epoch: skipped
    a3 = tbl.ingest(
        _batch(spark, _ts_rows(BATCH2, [5, 6])), batch_id=0, writer_id="/ckpt/q2"
    )
    assert a3["skipped"]
    m = tbl._read_manifest()
    assert m["writers"] == {"/ckpt/q1": 5, "/ckpt/q2": 0}


def test_old_manifest_batch_id_migrates_to_default_writer(spark, tmp_path):
    """Pre-writer-map manifests carried a bare last_batch_id; it must
    keep protecting the default writer after the upgrade."""
    import json

    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])), batch_id=3)
    # rewrite the manifest in the OLD format (bare last_batch_id)
    mp = tbl._manifest_path()
    m = json.load(open(mp))
    m["last_batch_id"] = m["writers"]["default"]
    del m["writers"]
    json.dump(m, open(mp, "w"))
    a = tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])), batch_id=3)
    assert a["skipped"]  # default writer's mark survived the migration
    a2 = tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])), batch_id=4)
    assert not a2.get("skipped")


def test_concurrent_commit_aborts_not_clobbers(spark, tmp_path):
    """If another writer publishes between an ingest's manifest read and
    its publish, the slower commit must ABORT (committed state intact),
    never last-write-wins the manifest."""
    path = str(tmp_path / "tbl")
    tbl = Scd2ParquetTable(spark, path, ["user_id"])
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))

    slow = Scd2ParquetTable(spark, path, ["user_id"])
    # simulate the interleave: slow reads the manifest (version 1) now...
    orig_read = slow._read_manifest
    fast_done = {"done": False}

    def racing_read():
        m = orig_read()
        # after slow's FIRST manifest read, a fast writer commits v2
        if not fast_done["done"]:
            fast_done["done"] = True
            Scd2ParquetTable(spark, path, ["user_id"]).ingest(
                _batch(spark, _ts_rows(BATCH2, [5, 6]))
            )
        return m

    slow._read_manifest = racing_read
    with pytest.raises(RuntimeError, match="concurrent commit"):
        slow.ingest(_batch(spark, _ts_rows(BATCH3, [9, 10])))
    # the fast writer's commit is intact and readable
    m = tbl._read_manifest()
    assert m["version"] == 2
    assert tbl.read().count() == 4  # batch1 + batch2 histories


def test_history_never_reports_unpublished_version(spark, tmp_path):
    """txlog rows land after the manifest swap: history() version count
    can never exceed the committed manifest version."""
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))
    tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])))
    hist_versions = sorted(r["v"] for r in tbl.history().collect())
    assert hist_versions == [1, 2]
    assert max(hist_versions) <= tbl._read_manifest()["version"]


def test_publish_retry_after_partial_rename(spark, tmp_path):
    """Orphan b=X/v=vid dirs from a crash between renames and the
    manifest swap must not wedge the retried ingest."""
    import os

    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"], n_buckets=4)
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))
    # fabricate a crashed attempt at the NEXT version: orphan dirs exist
    # for every bucket the next batch will touch, manifest unmoved
    b2 = _batch(spark, _ts_rows(BATCH2, [5, 6]))
    from pyspark.sql import functions as F

    buckets = [
        r[0]
        for r in b2.select(
            F.pmod(F.hash("user_id"), F.lit(4)).alias("b")
        ).distinct().collect()
    ]
    for b in buckets:
        orphan = os.path.join(str(tmp_path / "tbl"), f"b={b}", "v=2")
        os.makedirs(orphan)
        open(os.path.join(orphan, "garbage.parquet"), "w").write("torn")
    audit = tbl.ingest(b2)  # retry must replace the orphans and publish
    assert audit["version"] == 2
    from fluxgraph_spark.operators.temporal import scd2_from_change_events

    want = scd2_from_change_events(
        _batch(spark, _ts_rows(BATCH1, [0, 1])).unionByName(b2),
        ["user_id"], "valid_from",
    )
    cols = ["user_id", "valid_from", "valid_to", "version_idx", "is_current", "state"]
    assert sorted(map(tuple, tbl.read().select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_key_lookup_prunes_buckets(spark, tmp_path):
    """VERDICT r3 item 7: a single-key read/as_of opens only the files
    of the bucket the key hashes into — the manifest prunes the listing
    before any scan, and results match the full-scan filter."""
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"], n_buckets=8)
    rows = [(uid, t(uid), f"s{uid}") for uid in range(1, 17)]
    tbl.ingest(_batch(spark, rows))

    full = tbl.read()
    pruned = tbl.read(keys=[3])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = sorted(map(tuple, full.where("user_id = 3").collect()))
    assert sorted(map(tuple, pruned.collect())) == want

    # as_of point lookup: same pruning, correct snapshot row
    snap = tbl.as_of(t(20), keys=[3])
    assert len(snap.inputFiles()) < len(full.inputFiles())
    assert [r["user_id"] for r in snap.collect()] == [3]

    # composite miss: a key in a committed bucket that holds other keys
    assert tbl.read(keys=[999]).count() == 0


def test_as_of_snapshot_reads(spark, tmp_path):
    """as_of returns exactly the versions live at the asked business
    time, across two ingests."""
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))   # u1=a@t0, u2=x@t1
    tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])))   # u1=b@t5, u3=m@t6
    snap = {
        r["user_id"]: r["state"] for r in tbl.as_of(t(2)).collect()
    }
    assert snap == {1: "a", 2: "x"}          # before u1's update, u3 absent
    snap2 = {
        r["user_id"]: r["state"] for r in tbl.as_of(t(7)).collect()
    }
    assert snap2 == {1: "b", 2: "x", 3: "m"}  # current picture
    assert tbl.as_of(T0 - datetime.timedelta(hours=1)).count() == 0


def test_keyed_read_on_empty_table_raises_value_error(spark, tmp_path):
    from fluxgraph_spark.sources.scd2_table import Scd2ParquetTable

    tbl = Scd2ParquetTable(spark, str(tmp_path / "empty"), ["user_id"], n_buckets=4)
    with pytest.raises(ValueError, match="no committed data"):
        tbl.read(keys=[3])


@pytest.mark.parametrize("winner", ["a", "b"])
def test_two_thread_race_exactly_one_publishes(spark, tmp_path, winner):
    """Two REAL threads racing ingest against one table (VERDICT r4
    item 5): both hold the same manifest view (barrier on the first
    manifest read), the designated loser is held at its next manifest
    read until the winner fully commits — exactly one publishes, the
    other aborts cleanly on the pre-publish version check, the staging
    root is empty afterward (per-attempt uuid dirs never cross-clobber),
    and the loser's retry lands the same final state as a sequential
    rebuild.  Parametrized so each writer wins once (both orderings)."""
    import threading

    path = str(tmp_path / "tbl")
    Scd2ParquetTable(spark, path, ["user_id"]).ingest(
        _batch(spark, _ts_rows(BATCH1, [0, 1]))
    )

    start = threading.Barrier(2, timeout=120)
    winner_done = threading.Event()
    results = {}
    batches = {
        "a": _ts_rows(BATCH2, [5, 6]),
        "b": _ts_rows(BATCH3, [9, 10]),
    }

    def make_writer(name):
        tbl = Scd2ParquetTable(spark, path, ["user_id"])
        orig = tbl._read_manifest
        calls = {"n": 0}

        def hooked():
            calls["n"] += 1
            if calls["n"] == 1:
                m = orig()
                start.wait()  # both writers now hold the same version
                return m
            if name != winner:
                winner_done.wait(timeout=120)  # lose deterministically
            return orig()

        tbl._read_manifest = hooked

        def run():
            try:
                results[name] = ("ok", tbl.ingest(_batch(spark, batches[name])))
            except RuntimeError as ex:
                results[name] = ("abort", str(ex))
            finally:
                if name == winner:
                    winner_done.set()

        return threading.Thread(target=run)

    threads = [make_writer("a"), make_writer("b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)

    assert sorted(k for k, _ in results.values()) == ["abort", "ok"]
    assert results[winner][0] == "ok"
    loser = "b" if winner == "a" else "a"
    assert "concurrent commit" in results[loser][1]
    # per-attempt staging dirs cleaned by both sides, root removed
    assert not os.path.exists(os.path.join(path, "_staging"))

    # loser retries against the new committed state and succeeds
    fresh = Scd2ParquetTable(spark, path, ["user_id"])
    assert fresh.ingest(_batch(spark, batches[loser]))["version"] == 3

    from fluxgraph_spark.operators.temporal import scd2_from_change_events

    all_changes = (
        _batch(spark, _ts_rows(BATCH1, [0, 1]))
        .unionByName(_batch(spark, batches["a"]))
        .unionByName(_batch(spark, batches["b"]))
    )
    want = scd2_from_change_events(all_changes, ["user_id"], "valid_from")
    cols = ["user_id", "valid_from", "valid_to", "version_idx", "is_current", "state"]
    assert sorted(map(tuple, fresh.read().select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_read_version_time_travel(spark, tmp_path):
    """Transaction-time travel via retained per-version manifests: each
    committed version reads back exactly as it was published; unknown
    versions raise, and vacuum invalidates superseded versions with a
    clear error."""
    tbl = Scd2ParquetTable(spark, str(tmp_path / "tbl"), ["user_id"])
    tbl.ingest(_batch(spark, _ts_rows(BATCH1, [0, 1])))
    v1_rows = sorted(map(tuple, tbl.read().collect()))
    tbl.ingest(_batch(spark, _ts_rows(BATCH2, [5, 6])))

    got_v1 = sorted(map(tuple, tbl.read_version(1).collect()))
    assert got_v1 == v1_rows
    got_v2 = sorted(map(tuple, tbl.read_version(2).collect()))
    assert got_v2 == sorted(map(tuple, tbl.read().collect()))
    assert len(got_v2) > len(got_v1)

    with pytest.raises(ValueError, match="no committed version 9"):
        tbl.read_version(9)

    tbl.vacuum()
    # the current version survives vacuum; superseded ones raise clearly
    assert sorted(map(tuple, tbl.read_version(2).collect())) == got_v2
    with pytest.raises(ValueError, match="vacuum"):
        tbl.read_version(1).collect()


def test_multi_batch_ingest_with_nondefault_ts_col(spark, tmp_path):
    """Regression: scd2_from_change_events always emits a derived
    valid_from column, so a table keyed on ts_col='ts' carries both —
    the upsert must not demand the derived copy from the next change
    batch (it previously did, breaking every second ingest on
    non-default-ts tables)."""
    def b(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp_ntz, state string"
        )

    tbl = Scd2ParquetTable(
        spark, str(tmp_path / "tbl"), ["user_id"], ts_col="ts"
    )
    tbl.ingest(b([(1, t(0), "a"), (2, t(1), "x")]))
    tbl.ingest(b([(1, t(5), "b")]))  # previously raised AnalysisException
    got = tbl.read()
    assert "valid_from" in got.columns and "ts" in got.columns
    rows = sorted(
        map(tuple, got.select("user_id", "ts", "state", "is_current").collect())
    )
    assert rows == [
        (1, t(0), "a", False),
        (1, t(5), "b", True),
        (2, t(1), "x", True),
    ]


def test_schema_evolution_additive(spark, tmp_path):
    """r7: a change batch carrying a NEW value column must not silently
    drop it (scd2_upsert infers value columns from the committed side).
    Default refuses naming the column; evolve_schema=True widens history
    with typed NULLs; earlier buckets read back unified; type conflicts
    always refuse; later batches must keep carrying the column."""
    from fluxgraph_spark.sources.scd2_table import Scd2ParquetTable

    t = Scd2ParquetTable(
        spark, str(tmp_path / "tbl"), key_cols=["k"], n_buckets=4
    )
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "k long, valid_from long, val string",
    )
    t.ingest(base)

    widened = spark.createDataFrame(
        [(1, 11, "a2", 99), (4, 40, "d", 44)],
        "k long, valid_from long, val string, score long",
    )
    with pytest.raises(ValueError, match="score"):
        t.ingest(widened)
    # nothing committed by the refusal
    assert "score" not in t.read().columns

    t.ingest(widened, evolve_schema=True)
    got = t.read()
    assert "score" in got.columns
    rows = {(r["k"], r["valid_from"]): r for r in got.collect()}
    assert rows[(1, 11)]["score"] == 99 and rows[(4, 40)]["score"] == 44
    # pre-evolution history (incl. untouched buckets) reads NULL
    assert rows[(1, 10)]["score"] is None
    assert rows[(2, 20)]["score"] is None and rows[(3, 30)]["score"] is None
    # SCD2 semantics survived: key 1's old version closed at the change
    assert rows[(1, 10)]["valid_to"] == 11 and rows[(1, 11)]["valid_to"] is None

    # type conflict on an existing column always refuses
    bad = spark.createDataFrame(
        [(2, 21, "x", 1.5)], "k long, valid_from long, val string, score double"
    )
    with pytest.raises(ValueError, match="schema conflict"):
        t.ingest(bad, evolve_schema=True)

    # the evolved column is now part of the contract for touched buckets
    next_ok = spark.createDataFrame(
        [(2, 22, "b2", 7)], "k long, valid_from long, val string, score long"
    )
    t.ingest(next_ok)
    rows2 = {(r["k"], r["valid_from"]): r for r in t.read().collect()}
    assert rows2[(2, 22)]["score"] == 7
    assert rows2[(2, 20)]["score"] is None


def test_empty_keyed_read_carries_evolved_schema(spark, tmp_path):
    """An empty keyed read on an evolved table must still present the
    FULL (evolved) schema — the single-bucket shortcut would miss
    columns added after that bucket was last written."""
    from fluxgraph_spark.sources.scd2_table import Scd2ParquetTable

    t = Scd2ParquetTable(spark, str(tmp_path / "t2"), key_cols=["k"], n_buckets=4)
    t.ingest(spark.createDataFrame([(1, 10, "a")], "k long, valid_from long, val string"))
    t.ingest(
        spark.createDataFrame(
            [(1, 11, "a2", 5)], "k long, valid_from long, val string, score long"
        ),
        evolve_schema=True,
    )
    empty = t.read(keys=[999_999])
    assert empty.count() == 0
    assert "score" in empty.columns
    assert set(empty.columns) == set(t.read().columns)


def test_keyed_read_on_stale_bucket_presents_evolved_schema(spark, tmp_path):
    """ADVICE r7 (medium): after evolve_schema=True, a NON-empty keyed
    read whose pruned buckets were last written BEFORE the evolution
    must present the evolved schema (typed NULLs for the new columns),
    not the stale footers' — read(keys=[k]).schema must not depend on
    which bucket k hashes into, and must match read()'s."""
    from pyspark.sql import functions as F

    tbl = Scd2ParquetTable(
        spark, str(tmp_path / "t3"), key_cols=["k"], n_buckets=4
    )
    keys = list(range(1, 12))
    tbl.ingest(
        spark.createDataFrame(
            [(k, 10, "a") for k in keys], "k long, valid_from long, val string"
        )
    )
    b_of = {k: next(iter(tbl._buckets_for_keys([k]))) for k in keys}
    k_evolve = keys[0]
    k_stale = next(k for k in keys if b_of[k] != b_of[k_evolve])
    tbl.ingest(
        spark.createDataFrame(
            [(k_evolve, 11, "a2", 5)],
            "k long, valid_from long, val string, score long",
        ),
        evolve_schema=True,
    )
    got = tbl.read(keys=[k_stale])
    assert got.count() == 1
    assert "score" in got.columns
    assert [f.name for f in got.schema.fields] == [
        f.name for f in tbl.read().schema.fields
    ]
    assert got.schema == tbl.read().schema
    assert got.collect()[0]["score"] is None
    # selects/unions of the evolved column work across bucket generations
    both = tbl.read(keys=[k_stale]).unionByName(tbl.read(keys=[k_evolve]))
    assert both.where(F.col("score").isNotNull()).count() == 1
    # re-carrying the already-evolved column into a stale bucket is not
    # "new" — no evolve_schema flag needed (the recorded schema is the
    # authority, not the stale bucket's footers)
    tbl.ingest(
        spark.createDataFrame(
            [(k_stale, 12, "z", 9)],
            "k long, valid_from long, val string, score long",
        )
    )
    assert tbl.read(keys=[k_stale]).where(F.col("score") == 9).count() == 1
