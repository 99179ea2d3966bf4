"""Persisted IVF ANN index: partition-pruned probe reads.

The in-memory IVF path (functions/similarity.cosine_topk_ivf) re-assigns
the whole corpus to centroids on every call.  At 100 TB the corpus
assignment is the expensive half, and it only changes when vectors do —
so persist it: corpus vectors land in parquet PARTITIONED BY their
nearest centroid id (one directory per inverted list), the centroid
table (tiny, ~sqrt(corpus) rows) lands beside it.  A query batch then

* assigns ITS OWN vectors to ``n_probe`` centroids (a narrow map over
  the tiny query frame — similarity.ivf_assign),
* prunes the corpus scan to exactly the probed partitions (the probe
  list is queries x n_probe distinct ids, collected like the SCD2
  table's bucket list — a bounded driver probe on an interactive path),
* scores only the surviving lists and ranks top-k.

So query cost is proportional to the probed lists, not the corpus, and
the scan prune shows up in the plan as a PartitionFilters entry (test-
asserted via inputFiles).  ``append`` assigns new vectors to the FROZEN
centroid set and appends into their partitions — lists drift only as
much as the data does, and a rebuild is one ``build`` call.

Same md5-deterministic centroid sample as the in-memory path, so index
results are bit-identical to cosine_topk_ivf and replay in the same SQL
oracle.

PATH CONTRACT: the parquet reads/writes go through Spark and the index
MAINTENANCE paths (compact's sibling swap, the delta-area discovery,
the merge/rebuild manifest publish and post-publish GC) go through
:mod:`.fsutil`, which dispatches on the path's scheme — POSIX
primitives for plain local paths (``os.replace`` atomicity), the
Hadoop FileSystem API for scheme-qualified paths (``hdfs://…``,
``file://…``, ``s3a://…``).  So ``index_dir`` may live on any
Hadoop-compatible filesystem; the manifest publish is atomic wherever
the store's rename is (HDFS yes, object stores with the usual
manifest-swap caveat — see fsutil.replace_file).  The manifest-publish
pattern itself is the Iceberg/Delta commit shape.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsutil
from ..functions.similarity import (
    _as_double_vec,
    _dot,
    _norm,
    _topk_per_query,
    ivf_assign,
    ivf_centroids,
    ivf_centroids_refined,
    pq_adc_column,
    pq_codebooks,
    pq_encode,
    pq_query_lut,
    topk_asc,
)


def auto_n_centroids(n_rows: int) -> int:
    """Default inverted-list count when the caller doesn't size it:
    ``sqrt(n_rows)`` — the standard IVF heuristic (FAISS guidelines;
    Jégou et al. TPAMI'11) balancing list length (``n/sqrt(n)`` rows
    scanned per probed list) against centroid-assignment cost
    (``sqrt(n)`` comparisons per vector).

    ONE derivation across the repo (r11): this is exactly
    ``dedup.derived_centroid_count`` — ``max(16, ceil(sqrt(n)))``,
    cross-engine replayable via the correctly-rounded-IEEE-sqrt
    agreement contract documented there, so a SQL oracle recomputes an
    index's derived layout from its own ``count(*)`` (the
    s_ivf_derived_topk gate does) — capped at 65,536 lists.

    Sizing guide: 10^6 rows → 1,000 lists (~1k vectors each),
    10^9 → 31,623 (~31k each), 10^12 → 65,536 (cap; ~15M per list —
    at that scale raise the cap and shard the centroid table, or add a
    coarse second level).  Floor 16 keeps toy corpora from degenerating
    to a handful of lists.  Past IVF_ASSIGN_UNROLL_MAX (8) lists,
    ``ivf_assign`` automatically switches to its Arrow-batched pruned
    scan, so the derived count never feeds an unrolled-literal plan
    that grows with the data.  Pass ``n_centroids`` explicitly to pin
    a layout (most oracle-gated queries do)."""
    from ..functions.dedup import derived_centroid_count

    return min(derived_centroid_count(int(n_rows)), 65_536)


def _compact_partitioned(spark: SparkSession, path: str) -> None:
    """Rewrite a centroid_id-partitioned parquet dir with ONE file per
    partition (appends accumulate a file per batch per touched list).
    Crash-safe sibling rewrite: the copy lands in ``__compact`` first
    (row count audited), then swaps in via two renames — a failure
    mid-write leaves the live dir untouched, and a failure between the
    renames leaves the complete copy recoverable under a sibling name."""
    df = spark.read.parquet(path)
    n_before = df.count()
    tmp = path + "__compact"
    fsutil.delete(spark, tmp)
    (
        df.repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(tmp)
    )
    if spark.read.parquet(tmp).count() != n_before:
        fsutil.delete(spark, tmp)
        raise RuntimeError(f"compact audit failed for {path}: row count changed")
    old = path + "__old"
    fsutil.delete(spark, old)
    try:
        fsutil.rename(spark, path, old)
        fsutil.rename(spark, tmp, path)
    except OSError as ex:
        raise RuntimeError(
            f"compact swap interrupted for {path}; recover by renaming "
            f"{tmp} (complete copy) or {old} (original) back into place"
        ) from ex
    fsutil.delete(spark, old)


def _read_delta(
    spark: SparkSession, delta_dir: str, folded: Optional[list] = None
) -> Optional[DataFrame]:
    """Partition-discover a ``delta_dir/batch_id=N/centroid_id=C/``
    streaming-append area; None when empty/absent.  ``centroid_id`` is a
    second-level partition column, so probe filters still prune to the
    probed directories.  ``folded`` batch ids are EXCLUDED (a
    batch_id partition filter — pruned, not scanned): those subtrees'
    rows already live in the manifest-current base, and a replayed sink
    recreating a folded subtree must stay invisible to readers."""
    if not fsutil.has_subdirs(spark, delta_dir):
        return None
    df = spark.read.option("basePath", delta_dir).parquet(delta_dir)
    if folded:
        df = df.where(~F.col("batch_id").isin([int(b) for b in folded]))
    return df


def _sweep_folded_subtrees(
    spark: SparkSession, delta_dir: str, folded
) -> None:
    """Reclaim on-disk ``batch_id=N`` subtrees whose ids are already in
    the manifest's folded set — leftovers of a crash between publish
    and GC, or of an at-least-once sink replaying (rewriting) a folded
    batch after the fold.  Readers never see these rows (folded ids are
    partition-filtered out of every delta read), so removal is safe
    whenever maintenance runs; without the sweep they would accumulate
    forever, since later merges see only UNFOLDED batches and their GC
    would never name them."""
    folded = {int(b) for b in (folded or [])}
    if not folded:
        return
    for name in fsutil.list_names(spark, delta_dir):
        if not name.startswith("batch_id="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b in folded:
            fsutil.delete(spark, os.path.join(delta_dir, name))
    fsutil.rmdir_if_empty(spark, delta_dir)


_DELTA_MANIFEST = "_delta_manifest.json"


def _read_index_manifest(spark: SparkSession, index_dir: str) -> Optional[dict]:
    try:
        import json

        return json.loads(
            fsutil.read_text(spark, os.path.join(index_dir, _DELTA_MANIFEST))
        )
    except FileNotFoundError:
        return None


def _publish_index_manifest(
    spark: SparkSession, index_dir: str, manifest: dict
) -> None:
    """Atomic manifest swap — the Scd2ParquetTable publish pattern
    (scd2_table.py `_publish_manifest`): stage to a sibling tmp file,
    atomically replace into place (``os.replace`` locally,
    FileContext rename-OVERWRITE on Hadoop paths — fsutil.replace_file).
    Readers resolve base-directory names and folded batch ids through
    the manifest, so a merge becomes visible EXACTLY at this rename —
    never a torn half-state."""
    import json

    path = os.path.join(index_dir, _DELTA_MANIFEST)
    tmp = path + ".tmp"
    fsutil.write_text(spark, tmp, json.dumps(manifest))
    fsutil.replace_file(spark, tmp, path)


def _reset_index_manifest(spark: SparkSession, index_dir: str) -> None:
    """A fresh ``build`` owns the layout: drop any manifest left by a
    previous generation so the default directory names apply again."""
    fsutil.remove_file(spark, os.path.join(index_dir, _DELTA_MANIFEST))


def _drift_stats(centroids: DataFrame, rows: DataFrame) -> DataFrame:
    """Per-centroid drift aggregation shared by the two delta indexes:
    ``rows`` = (centroid_id, cvec, is_delta) over base ∪ delta.  One
    broadcast join + one aggregation; residuals quantize to integer
    micro units before the mean (an exact integer sum + one IEEE
    division), so the monitor replays bit-identically in SQL."""
    cents = centroids.select("centroid_id", F.col("cvec").alias("__centvec"))
    res = rows.join(F.broadcast(cents), "centroid_id").select(
        "centroid_id",
        "is_delta",
        F.floor(
            _norm(
                F.zip_with(F.col("cvec"), F.col("__centvec"), lambda a, b: a - b)
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long").alias("res_micro"),
    )
    d0 = F.col("is_delta") == 0

    def _mean(cond):
        return (
            F.sum(F.when(cond, F.col("res_micro"))).cast("double")
            / F.count(F.when(cond, 1))
            / F.lit(1_000_000.0)
        )

    return (
        res.groupBy("centroid_id")
        .agg(
            F.count(F.when(d0, 1)).alias("n_base"),
            F.count(F.when(~d0, 1)).alias("n_delta"),
            _mean(d0).alias("mean_res_base"),
            _mean(~d0).alias("mean_res_delta"),
        )
        .withColumn(
            "delta_share",
            F.col("n_delta").cast("double")
            / (F.col("n_base") + F.col("n_delta")),
        )
    )


_MANIFEST_UNREAD = object()  # "not read yet" sentinel (None = no manifest)


class _ManifestedIndex:
    """Shared manifest plumbing for the persisted index layouts:
    directory/file names resolve through ``_delta_manifest.json`` when
    one exists (written by the delta subclasses' atomic maintenance
    operations — stage a NEW versioned directory, audit, publish the
    manifest in one rename, so readers never see a half-merged layout).

    The parsed manifest is CACHED per handle: one query resolves
    several names, and on an object store every uncached resolve would
    be its own GET.  A handle invalidates after its OWN publishes;
    maintenance is single-writer by contract, so after ANOTHER handle
    (or process) runs maintenance on the same directory, open a fresh
    handle or call :meth:`refresh`."""

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self._man_cache = _MANIFEST_UNREAD

    def _manifest(self) -> Optional[dict]:
        if self._man_cache is _MANIFEST_UNREAD:
            self._man_cache = _read_index_manifest(self.spark, self.index_dir)
        return self._man_cache

    def refresh(self) -> None:
        """Drop the cached manifest — call after another handle (or
        process) ran maintenance on the same index directory."""
        self._man_cache = _MANIFEST_UNREAD

    def _publish(self, manifest: dict) -> None:
        """Publish + drop this handle's cached manifest in one step —
        every post-publish read must resolve the NEW generation."""
        _publish_index_manifest(self.spark, self.index_dir, manifest)
        self.refresh()

    def _base_dir(self, key: str, default: str) -> str:
        name = ((self._manifest() or {}).get("base") or {}).get(key, default)
        return os.path.join(self.index_dir, name)

    def _folded(self) -> list:
        return list((self._manifest() or {}).get("folded_batches") or [])


class IvfIndex(_ManifestedIndex):
    """A directory holding ``centroids/`` (centroid_id, cvec) and
    ``lists/`` (vec_id, cvec, partitioned by centroid_id).

    Directory names resolve through the index's ``_delta_manifest.json``
    when one exists — see :class:`_ManifestedIndex` for the resolution
    and handle-caching contract."""

    @property
    def centroids_dir(self) -> str:
        return self._base_dir("centroids", "centroids")

    @property
    def lists_dir(self) -> str:
        return self._base_dir("lists", "lists")

    # -- construction ---------------------------------------------------

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        index_dir: str,
        n_centroids: Optional[int] = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        """``n_centroids=None`` (default) sizes the list count from the
        corpus via :func:`auto_n_centroids` (one count at build time)."""
        idx = cls(corpus.sparkSession, index_dir)
        _reset_index_manifest(idx.spark, index_dir)  # a rebuild owns the layout
        if n_centroids is None:
            n_centroids = auto_n_centroids(corpus.count())
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        cents.coalesce(1).write.mode("overwrite").parquet(idx.centroids_dir)
        idx._write_lists(corpus, id_col, vec_col, mode="overwrite")
        return idx

    def _write_lists(
        self, vectors: DataFrame, id_col: str, vec_col: str, mode: str
    ) -> None:
        v = vectors.select(
            F.col(id_col).alias("vec_id"),
            _as_double_vec(F.col(vec_col)).alias("cvec"),
        )
        assigned = (
            ivf_assign(v, self.centroids(), 1, "vec_id", "cvec")
            .withColumnRenamed("id", "vec_id")
            .join(v, "vec_id")
        )
        (
            # cluster each inverted list into ONE task before the
            # partitioned write: without this every upstream task that
            # holds rows of a centroid emits its own file into that
            # list's partition dir (the Arrow assign tier + spread run
            # the scan 32-way), so a probe reading n_probe lists pays
            # n_probe x task-count file opens instead of n_probe.  The
            # lists are ~sqrt(corpus) rows by the derived-k contract,
            # so one task per list is bounded at every scale (guide:
            # aim for one right-sized file per partition on write).
            assigned.select("centroid_id", "vec_id", "cvec")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode(mode)
            .parquet(self.lists_dir)
        )

    def append(
        self, batch: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> None:
        """Assign new vectors against the frozen centroid set and append
        into their list partitions."""
        self._write_lists(batch, id_col, vec_col, mode="append")

    def compact(self) -> None:
        """Merge the small files per-batch appends accumulate — one file
        per inverted-list partition afterward; probe pruning and results
        are unchanged (same layout, fewer files)."""
        _compact_partitioned(self.spark, self.lists_dir)

    # -- readers --------------------------------------------------------

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self.centroids_dir)

    def lists(self, centroid_ids: Optional[list] = None) -> DataFrame:
        df = self.spark.read.parquet(self.lists_dir)
        if centroid_ids is not None:
            df = df.where(F.col("centroid_id").isin(centroid_ids))
        return df

    # -- query ----------------------------------------------------------

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        query_id_col: str = "query_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Ranked approximate top-k, scanning only the probed lists."""
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            _as_double_vec(F.col(vec_col)).alias("qvec"),
        )
        q_buckets = ivf_assign(
            q, self.centroids(), n_probe, "query_id", "qvec"
        ).withColumnRenamed("id", "query_id")
        # bounded driver probe (queries x n_probe ids) -> static partition
        # prune on the lists scan; mirrors Scd2ParquetTable's bucket list
        probe_ids = [
            r["centroid_id"]
            for r in q_buckets.select("centroid_id").distinct().collect()
        ]
        lists = self.lists(probe_ids)
        cand = (
            q_buckets.join(lists, "centroid_id")
            .select("query_id", "vec_id", "cvec")
            .dropDuplicates(["query_id", "vec_id"])
        )
        qv = q.withColumn("qn", _norm(F.col("qvec")))
        scored = cand.join(F.broadcast(qv), "query_id").select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("cvec"), F.col("qvec"))
                / (_norm(F.col("cvec")) * F.col("qn")),
                6,
            ).alias("cosine"),
        )
        return _topk_per_query(scored, k)


class _AutoCompacting:
    """Shared auto-compaction policy for the delta index classes.
    Subclasses provide ``_delta_rows`` / ``_base_rows`` / ``merge_delta``;
    this mixin supplies the ratio trigger so both :class:`DeltaIvfIndex`
    and :class:`DeltaIvfPqIndex` expose the SAME ``maybe_merge`` surface
    the streaming sink (streaming/ann_ingest.py) is typed against —
    previously only DeltaIvfIndex defined it, so a PQ index with
    ``auto_merge_ratio`` set raised AttributeError inside foreachBatch
    on the first non-empty microbatch."""

    def maybe_merge(self, ratio: float = 0.25) -> bool:
        """Fold the delta IFF unfolded delta rows exceed ``ratio`` ×
        base rows; returns whether a fold ran.  The size-ratio policy a
        long-running ingest needs: an unbounded delta degrades probes
        (every query unions base + N batch subtrees and re-lists the
        delta area), while folding every batch rewrites the base
        constantly — the ratio amortizes rewrite cost logarithmically,
        the same trigger LSM stores and lakehouse OPTIMIZE schedulers
        use.  Safe inside a foreachBatch sink: microbatches are
        processed serially, so no batch can land mid-fold (the offline
        caveat on ``merge_delta`` targets CONCURRENT writers); a
        replayed already-folded batch recreates an orphan subtree that
        the next fold's GC sweep reclaims (folded ids never re-enter
        reads).  Probes are bit-identical before/after (pytest-pinned).
        """
        if ratio <= 0:
            raise ValueError(f"ratio must be > 0, got {ratio}")
        n_delta = self._delta_rows()
        if n_delta == 0 or n_delta <= ratio * self._base_rows():
            return False
        self.merge_delta()
        return True


class DeltaIvfIndex(_AutoCompacting, IvfIndex):
    """:class:`IvfIndex` plus a REPLAY-SAFE delta area for streaming
    appends — the base+delta layout every production vector store
    converges on (and the ANN twin of the dedup tier's streaming
    ingest, streaming/dedup_ingest.py):

    * ``lists/`` — the seed build, partitioned by ``centroid_id``
      (unchanged; every existing probe/compact path still applies).
    * ``delta_lists/batch_id=N/centroid_id=C/`` — one subtree per
      streamed microbatch, written with OVERWRITE of the batch's own
      subtree, so an at-least-once foreachBatch replay rewrites its
      partition instead of double-appending (``IvfIndex.append`` is
      append-mode and NOT replay-idempotent — duplicate rows there
      would surface as duplicate candidates in top-k).

    Probes union both scans; each prunes to the probed ``centroid_id``
    values (directory-level for the base, second-level partition prune
    for the delta), so query cost stays proportional to the probed
    lists.  Centroids stay FROZEN at their seed-build values — both
    sides assign against the same table, results are bit-identical to
    one :class:`IvfIndex` holding seed+delta rows, and the same SQL
    oracle replays them.  ``merge_delta`` folds the delta into the base
    partitions offline (stop the stream first)."""

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        super().__init__(spark, index_dir)
        self.delta_dir = os.path.join(index_dir, "delta_lists")

    def _delta_frames(self) -> Optional[DataFrame]:
        return _read_delta(self.spark, self.delta_dir, self._folded())

    def lists(self, centroid_ids: Optional[list] = None) -> DataFrame:
        base = super().lists(centroid_ids)
        delta = self._delta_frames()
        if delta is None:
            return base
        if centroid_ids is not None:
            delta = delta.where(F.col("centroid_id").isin(centroid_ids))
        return base.unionByName(
            delta.select("vec_id", "cvec", "centroid_id"),
            allowMissingColumns=False,
        )

    def append_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Assign ``batch`` against the frozen centroids and land it
        under ``delta_lists/batch_id=<batch_id>`` — overwriting that
        subtree, so replaying the same batch id is idempotent."""
        v = batch.select(
            F.col(id_col).alias("vec_id"),
            _as_double_vec(F.col(vec_col)).alias("cvec"),
        )
        assigned = (
            ivf_assign(v, self.centroids(), 1, "vec_id", "cvec")
            .withColumnRenamed("id", "vec_id")
            .join(v, "vec_id")
        )
        (
            assigned.select("centroid_id", "vec_id", "cvec")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(os.path.join(self.delta_dir, f"batch_id={int(batch_id)}"))
        )

    def _gc_after_publish(self, old_dirs: list, batch_ids: list) -> None:
        """Post-publish garbage collection.  Everything removed here is
        already unreferenced by the freshly published manifest, so a
        crash at any point leaves only orphan directories (reclaimed by
        the next merge/rebuild), never duplicate or missing rows.
        Sweeps EVERY folded batch subtree on disk (manifest set ∪ this
        fold), not just this fold's — a crashed earlier GC or a sink
        replay of an already-folded batch leaves subtrees no later
        fold's own batch list would name."""
        for d in old_dirs:
            fsutil.delete(self.spark, d)
        m = self._manifest() or {}
        _sweep_folded_subtrees(
            self.spark,
            self.delta_dir,
            set(m.get("folded_batches") or []) | {int(b) for b in batch_ids},
        )

    def merge_delta(self) -> None:
        """Fold the delta subtrees into a NEW versioned base directory
        and publish ATOMICALLY — the Scd2ParquetTable write-audit-publish
        commit pattern (scd2_table.py) instead of the append-then-rmtree
        it replaced (whose crash window left base AND delta visible =
        duplicate top-k candidates):

        1. WRITE: stage base ∪ delta under ``lists__m<v>``.
        2. AUDIT: staged row count must equal base + delta exactly.
        3. PUBLISH: one ``os.replace`` of ``_delta_manifest.json``
           repoints readers at the new base and marks the folded batch
           ids excluded from delta reads.
        4. GC: drop the old base dir and folded subtrees (see
           :meth:`_gc_after_publish` — crash-safe by construction).

        A crash before step 3 leaves the manifest (and every reader) on
        base+delta; a crash after it leaves the new base live with the
        folded subtrees invisible — EXACTLY-ONCE rows either way
        (crash-injection pinned in tests/test_ann_index.py).  OFFLINE
        maintenance: run with the stream stopped (a batch landing
        between the distinct-batch probe and the publish would be
        marked folded without its rows)."""
        delta = self._delta_frames()
        if delta is None:
            # nothing unfolded — still reclaim folded leftovers (a
            # crashed earlier GC, or a replayed rewrite of a folded
            # batch) that no later fold would otherwise ever name
            _sweep_folded_subtrees(self.spark, self.delta_dir, self._folded())
            return
        batch_ids = sorted(
            int(r["batch_id"])
            for r in delta.select("batch_id").distinct().collect()
        )
        if not batch_ids:
            # only folded leftovers on disk (the read filtered them all
            # out) — reclaim them and stop
            _sweep_folded_subtrees(self.spark, self.delta_dir, self._folded())
            return
        m = self._manifest() or {
            "version": 0, "base": {}, "folded_batches": [],
        }
        v = int(m["version"]) + 1
        old_lists = self.lists_dir
        base = self.spark.read.parquet(old_lists)
        n_base, n_delta = base.count(), delta.count()
        new_name = f"lists__m{v}"
        staged = os.path.join(self.index_dir, new_name)
        fsutil.delete(self.spark, staged)  # crashed-attempt orphan
        (
            base.select("centroid_id", "vec_id", "cvec")
            .unionByName(delta.select("centroid_id", "vec_id", "cvec"))
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(staged)
        )
        n_staged = self.spark.read.parquet(staged).count()
        if n_staged != n_base + n_delta:
            fsutil.delete(self.spark, staged)
            raise RuntimeError(
                f"merge audit failed for {self.index_dir}: staged "
                f"{n_staged} rows, expected {n_base} + {n_delta}"
            )
        self._publish(
            {
                "version": v,
                "base": {**(m.get("base") or {}), "lists": new_name},
                "folded_batches": sorted(
                    set(m.get("folded_batches") or []) | set(batch_ids)
                ),
            },
        )
        self._gc_after_publish([old_lists], batch_ids)

    # -- auto-compaction (VERDICT r6 item 9) ------------------------------

    def _delta_rows(self) -> int:
        d = self._delta_frames()
        return 0 if d is None else d.count()

    def _base_rows(self) -> int:
        return self.spark.read.parquet(self.lists_dir).count()

    def drift_stats(self) -> DataFrame:
        """Per-centroid stream-drift monitor.  Frozen centroids are what
        keep the streaming ingest bit-replayable (class docstring), but
        a real stream drifts and recall decays SILENTLY — new vectors
        pile into lists whose centroid no longer represents them, so
        probes read the wrong lists.  One row per centroid:

        * ``n_base`` / ``n_delta`` — list occupancy per side (a hot
          delta share means the stream no longer looks like the seed),
        * ``delta_share`` = n_delta / (n_base + n_delta),
        * ``mean_res_base`` / ``mean_res_delta`` — mean L2 distance to
          the SEED centroid per side: the delta mean pulling away from
          the base mean is the drift signal itself.  Residuals quantize
          to integer micro units before the mean (the label_centroids
          determinism trick), so the aggregation is an exact integer
          sum + one IEEE division — bit-identical in any engine, which
          is what lets the st_ann_drift oracle replay it in SQL.

        One broadcast join + one aggregation over base ∪ delta; no
        collect.  When the signal fires, :meth:`rebuild_centroids` is
        the recovery path."""
        base = IvfIndex.lists(self).select("centroid_id", "cvec").withColumn(
            "is_delta", F.lit(0)
        )
        delta = self._delta_frames()
        rows = base if delta is None else base.unionByName(
            delta.select("centroid_id", "cvec").withColumn("is_delta", F.lit(1))
        )
        return _drift_stats(self.centroids(), rows)

    def rebuild_centroids(
        self, n_centroids: Optional[int] = None, refine_iters: int = 2
    ) -> None:
        """OFFLINE recovery for a drifted stream: re-derive the centroid
        set from base + delta (the same md5-deterministic sample as
        ``build``), re-assign EVERY vector, and publish the new
        (centroids, lists) generation atomically through the manifest —
        the same write-audit-publish swap as :meth:`merge_delta`, so
        readers flip generations in one rename and a crash at any point
        leaves the previous generation fully live.  Folds the delta as
        a side effect (the new lists hold every vector; all current
        batch ids are marked folded).  ``refine_iters`` Lloyd/k-means
        iterations (similarity.ivf_centroids_refined — the integer-micro
        deterministic step) move the refreshed centroids onto the
        DRIFTED distribution's actual cluster means; 0 falls back to
        the plain md5 sample.  NOTE: the new centroids are a
        DIFFERENT frozen set — probe results change (that is the point:
        recall recovers), and the stream's sink keeps working because
        ``append_batch`` assigns against :meth:`centroids`, which
        resolves through the manifest."""
        delta = self._delta_frames()
        batch_ids = [] if delta is None else sorted(
            int(r["batch_id"])
            for r in delta.select("batch_id").distinct().collect()
        )
        rows = self.lists()  # base + unfolded delta
        n = rows.count()
        if n_centroids is None:
            n_centroids = auto_n_centroids(n)
        m = self._manifest() or {
            "version": 0, "base": {}, "folded_batches": [],
        }
        v = int(m["version"]) + 1
        old_cents, old_lists = self.centroids_dir, self.lists_dir
        if refine_iters > 0:
            cents = ivf_centroids_refined(
                rows, n_centroids, iters=refine_iters,
                id_col="vec_id", vec_col="cvec",
            )
        else:
            cents = ivf_centroids(rows, n_centroids, "vec_id", "cvec")
        cents_name, lists_name = f"centroids__m{v}", f"lists__m{v}"
        staged_c = os.path.join(self.index_dir, cents_name)
        staged_l = os.path.join(self.index_dir, lists_name)
        fsutil.delete(self.spark, staged_c)
        fsutil.delete(self.spark, staged_l)
        cents.coalesce(1).write.mode("overwrite").parquet(staged_c)
        v_rows = rows.select("vec_id", "cvec")
        assigned = (
            ivf_assign(
                v_rows, self.spark.read.parquet(staged_c), 1, "vec_id", "cvec"
            )
            .withColumnRenamed("id", "vec_id")
            .join(v_rows, "vec_id")
        )
        (
            assigned.select("centroid_id", "vec_id", "cvec")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(staged_l)
        )
        n_staged = self.spark.read.parquet(staged_l).count()
        if n_staged != n:
            fsutil.delete(self.spark, staged_c)
            fsutil.delete(self.spark, staged_l)
            raise RuntimeError(
                f"rebuild audit failed for {self.index_dir}: staged "
                f"{n_staged} rows, expected {n}"
            )
        self._publish(
            {
                "version": v,
                "base": {
                    **(m.get("base") or {}),
                    "centroids": cents_name,
                    "lists": lists_name,
                },
                "folded_batches": sorted(
                    set(m.get("folded_batches") or []) | set(batch_ids)
                ),
            },
        )
        self._gc_after_publish([old_cents, old_lists], batch_ids)


class IvfPqIndex(_ManifestedIndex):
    """IVF + PQ combined index — the classic production ANN layout
    (FAISS's IVFADC, Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): corpus vectors are assigned to
    inverted lists (IVF) AND stored only as m one-byte PQ codes, so a
    query batch

    * prunes the scan to its ``n_probe`` partitions (directory-level,
      as :class:`IvfIndex`), and
    * scans only compressed codes inside them — asymmetric-distance
      lookups against a broadcast integer LUT, never the raw vectors.

    At 100 TB that compounds: probing 4 of 1024 lists reads ~0.4% of
    the rows, and each row is ~64x smaller than the raw vector.  Both
    stages reuse the deterministic md5-sample construction of the
    in-memory paths (similarity.ivf_centroids / pq_codebooks), so the
    whole two-stage decision replays exactly in the SQL oracle.

    Layout: ``centroids/`` parquet, ``codebooks.json`` (m x ksub x dsub
    floats — driver-sized by construction), ``codes/`` parquet
    partitioned by ``centroid_id`` holding (vec_id, codes).
    """

    @property
    def codebooks_path(self) -> str:
        """Manifest-resolved like the data directories, so a rebuild can
        swap the codebooks in the SAME atomic publish as the codes they
        encode (pre-manifest indexes keep the fixed file name)."""
        return self._base_dir("codebooks", "codebooks.json")

    @property
    def centroids_dir(self) -> str:
        return self._base_dir("centroids", "centroids")

    @property
    def codes_dir(self) -> str:
        return self._base_dir("codes", "codes")

    @property
    def vectors_dir(self) -> str:
        return self._base_dir("vectors", "vectors")

    @staticmethod
    def _residuals(v: DataFrame, assigned: DataFrame, centroids: DataFrame) -> DataFrame:
        """(vec_id, centroid_id, rvec = vec - assigned centroid).

        The centroid table joins BROADCAST (~sqrt(corpus) rows by
        construction), keeping the subtraction map-side with no shuffle
        of the vector frame.  A literal centroid->vector map expression
        would do the same arithmetic but puts n_centroids x dim literal
        nodes into the Catalyst plan — at auto-sized scale (31k lists x
        wide vectors) that alone overwhelms the driver, so: join, don't
        inline."""
        cvecs = centroids.select("centroid_id", F.col("cvec").alias("__centvec"))
        return (
            v.join(assigned, "vec_id")
            .join(F.broadcast(cvecs), "centroid_id")
            .select(
                "vec_id",
                "centroid_id",
                F.zip_with(
                    F.col("cvec"), F.col("__centvec"), lambda a, b: a - b
                ).alias("rvec"),
            )
        )

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        index_dir: str,
        n_centroids: Optional[int] = None,
        m: Optional[int] = None,
        ksub: Optional[int] = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        store_vectors: bool = True,
        residual: bool = False,
    ) -> "IvfPqIndex":
        """``n_centroids=None`` (default) sizes the list count from the
        corpus via :func:`auto_n_centroids` (one count at build time).
        ``m=None`` / ``ksub=None`` (default) derive the PQ geometry
        from the corpus via ``similarity.auto_pq_geometry`` — the FAISS
        convention (one-byte codes: ksub = least(256, n); dim/4
        subquantizers, floored so the rule is total on any dim); past
        ``similarity.PQ_ENCODE_UNROLL_MAX`` total entries the encode
        automatically rides the Arrow scan instead of an unrolled
        literal plan that would grow with the geometry.  Pass both
        explicitly to pin a layout (the m=4/ksub=16 gate queries do).

        ``store_vectors`` additionally writes the RAW vectors under
        ``vectors/`` with the same centroid partitioning — the exact-
        rerank tier (:meth:`topk_rerank`) re-reads shortlisted rows from
        there with the same directory prune as the code scan.  Set False
        for a pure-ADC index at full 64x compression (rerank then
        unavailable).

        ``residual=True`` PQ-encodes the RESIDUAL (vector minus its
        assigned centroid) instead of the raw vector — the true FAISS
        IVFADC construction (Jégou et al. TPAMI'11 §IV): residuals
        cluster much tighter than raw vectors, so the same code budget
        resolves finer distances.  Queries then build one LUT per
        (query, probed centroid) on the query's own residual.  The flag
        is persisted beside the codebooks, so readers pick the matching
        ADC automatically."""
        import json

        idx = cls(corpus.sparkSession, index_dir)
        _reset_index_manifest(idx.spark, index_dir)  # a rebuild owns the layout
        if n_centroids is None:
            n_centroids = auto_n_centroids(corpus.count())
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        cents.coalesce(1).write.mode("overwrite").parquet(idx.centroids_dir)
        v = corpus.select(
            F.col(id_col).alias("vec_id"),
            _as_double_vec(F.col(vec_col)).alias("cvec"),
        )
        assigned = ivf_assign(v, cents, 1, "vec_id", "cvec").withColumnRenamed(
            "id", "vec_id"
        ).persist()  # feeds the code write and (optionally) the vector write
        if residual:
            res = cls._residuals(v, assigned, cents)
            codebooks = pq_codebooks(res, m=m, ksub=ksub, id_col="vec_id", vec_col="rvec")
            codes = pq_encode(res, codebooks, id_col="vec_id", vec_col="rvec")
        else:
            codebooks = pq_codebooks(corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
            codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
        fsutil.makedirs(idx.spark, index_dir)
        fsutil.write_text(
            idx.spark,
            idx.codebooks_path,
            json.dumps({"residual": residual, "codebooks": codebooks}),
        )
        (
            assigned.join(codes, "vec_id")
            .select("centroid_id", "vec_id", "codes")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(idx.codes_dir)
        )
        if store_vectors:
            (
                assigned.join(v, "vec_id")
                .select("centroid_id", "vec_id", "cvec")
                .repartition("centroid_id")
                .write.partitionBy("centroid_id")
                .mode("overwrite")
                .parquet(idx.vectors_dir)
            )
        assigned.unpersist()
        return idx

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self.centroids_dir)

    def compact(self) -> None:
        """Merge per-batch small files in the codes (and, if stored,
        raw-vector) partitions — layout and results unchanged."""
        _compact_partitioned(self.spark, self.codes_dir)
        if fsutil.is_dir(self.spark, self.vectors_dir):
            _compact_partitioned(self.spark, self.vectors_dir)

    def _load_codebooks(self):
        """(codebooks, residual) — reads both the current dict layout
        and the round-4 bare-list layout (implicitly non-residual)."""
        import json

        data = json.loads(fsutil.read_text(self.spark, self.codebooks_path))
        if isinstance(data, dict):
            return data["codebooks"], bool(data.get("residual"))
        return data, False

    def codebooks(self) -> list:
        return self._load_codebooks()[0]

    def codes(self, centroid_ids: Optional[list] = None) -> DataFrame:
        df = self.spark.read.parquet(self.codes_dir)
        if centroid_ids is not None:
            df = df.where(F.col("centroid_id").isin(centroid_ids))
        return df

    def vectors(self, centroid_ids: Optional[list] = None) -> DataFrame:
        """The raw-vector sidecar (rerank tier); raises clearly when the
        index was built with ``store_vectors=False``."""
        if not fsutil.is_dir(self.spark, self.vectors_dir):
            raise ValueError(
                f"{self.index_dir} stores no raw vectors "
                "(built with store_vectors=False) — rerank is unavailable; "
                "rebuild with store_vectors=True"
            )
        df = self.spark.read.parquet(self.vectors_dir)
        if centroid_ids is not None:
            df = df.where(F.col("centroid_id").isin(centroid_ids))
        return df

    def _adc_scored(
        self,
        queries: DataFrame,
        n_probe: int,
        query_id_col: str,
        vec_col: str,
    ):
        """(scored, probe_ids): per-(query, candidate) integer ADC over
        the probed partitions' compressed codes — the shared first tier
        of :meth:`topk` and :meth:`topk_rerank`.

        Residual indexes score against one LUT per (query, probed
        centroid) — the query's residual vs that centroid — joined on
        the composite key, still a broadcast of queries x n_probe
        LUT rows."""
        codebooks, residual = self._load_codebooks()
        m = len(codebooks)
        ksub = len(codebooks[0])
        cents = self.centroids()
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            _as_double_vec(F.col(vec_col)).alias("qvec"),
        )
        q_buckets = ivf_assign(
            q, cents, n_probe, "query_id", "qvec"
        ).withColumnRenamed("id", "query_id")
        probe_ids = [
            r["centroid_id"]
            for r in q_buckets.select("centroid_id").distinct().collect()
        ]
        codes = self.codes(probe_ids)
        # each vector lives in exactly one list (n_probe=1 assignment at
        # build), so the probe join yields unique (query_id, vec_id)
        if not residual:
            lut_df = pq_query_lut(queries, codebooks, query_id_col, vec_col)
            scored = (
                q_buckets.join(codes, "centroid_id")
                .join(F.broadcast(lut_df), "query_id")
                .select(
                    "query_id", "vec_id", pq_adc_column(m, ksub).alias("adc_micro")
                )
            )
            return scored, probe_ids
        qc = F.concat_ws("#", F.col("query_id").cast("string"),
                         F.col("centroid_id").cast("string"))
        cvecs = cents.select("centroid_id", F.col("cvec").alias("__centvec"))
        qres = (
            q_buckets.join(q, "query_id")
            .join(F.broadcast(cvecs), "centroid_id")
            .select(
                qc.alias("qc"),
                F.zip_with(
                    F.col("qvec"), F.col("__centvec"), lambda a, b: a - b
                ).alias("rvec"),
            )
        )
        lut_df = pq_query_lut(qres, codebooks, "qc", "rvec").withColumnRenamed(
            "query_id", "qc"
        )
        scored = (
            q_buckets.join(codes, "centroid_id")
            .withColumn("qc", qc)
            .join(F.broadcast(lut_df), "qc")
            .select("query_id", "vec_id", pq_adc_column(m, ksub).alias("adc_micro"))
        )
        return scored, probe_ids

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        query_id_col: str = "query_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """(query_id, vec_id, adc_micro, rank) ascending by asymmetric
        distance, scanning only the probed lists' compressed codes.
        LUT construction, the ADC fold, and the ascending two-stage
        top-k are the SAME code the full-scan path uses
        (similarity.pq_query_lut / pq_adc_column / topk_asc) — only the
        candidate set differs (probed partitions instead of the whole
        corpus)."""
        scored, _ = self._adc_scored(queries, n_probe, query_id_col, vec_col)
        return topk_asc(scored, k).select(
            "query_id", "vec_id", "adc_micro", "rank"
        )

    def topk_rerank(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        rerank: int = 3,
        query_id_col: str = "query_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Exact-rerank tier — the standard IVFADC production trick
        (FAISS's IndexRefine): take the ADC top-``k*rerank`` shortlist,
        re-read the RAW vectors of just those rows from the index's
        ``vectors/`` partitions (same directory prune as the code scan),
        and re-rank by exact cosine.  Closes the compressed-domain
        ranking's recall gap at ~zero extra scan cost: the exact tier
        touches ``queries x k x rerank`` rows, never a list, never the
        corpus.  Returns (query_id, vec_id, cosine, rank) — the same
        shape as the brute-force baseline."""
        scored, probe_ids = self._adc_scored(queries, n_probe, query_id_col, vec_col)
        shortlist = topk_asc(scored, k * rerank).select("query_id", "vec_id")
        vecs = self.vectors(probe_ids)
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            _as_double_vec(F.col(vec_col)).alias("qvec"),
        ).withColumn("qn", _norm(F.col("qvec")))
        exact = (
            shortlist.join(vecs.select("vec_id", "cvec"), "vec_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "vec_id",
                F.round(
                    _dot(F.col("cvec"), F.col("qvec"))
                    / (_norm(F.col("cvec")) * F.col("qn")),
                    6,
                ).alias("cosine"),
            )
        )
        return _topk_per_query(exact, k)


class DeltaIvfPqIndex(_AutoCompacting, IvfPqIndex):
    """:class:`IvfPqIndex` with the same replay-safe streaming delta
    layout as :class:`DeltaIvfIndex` — base ``codes/`` (and, if stored,
    ``vectors/``) from the seed build, plus
    ``delta_codes/batch_id=N/centroid_id=C/`` (and ``delta_vectors/...``)
    subtrees per streamed microbatch, each written with OVERWRITE of its
    own batch subtree so an at-least-once foreachBatch replay is
    idempotent.  Centroids AND PQ codebooks stay frozen at their
    seed-build values (appending vectors never retrains either — the
    standard production contract; retrain = one ``build``), so probes
    are bit-identical to one index holding every row, and the residual
    flag applies to appended batches exactly as to the seed.  Readers
    union base + delta with the same probed-centroid prune on both
    branches."""

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        super().__init__(spark, index_dir)
        self.delta_codes_dir = os.path.join(index_dir, "delta_codes")
        self.delta_vectors_dir = os.path.join(index_dir, "delta_vectors")

    @staticmethod
    def _union_delta(
        base: DataFrame,
        delta: Optional[DataFrame],
        cols: list,
        centroid_ids: Optional[list],
    ) -> DataFrame:
        if delta is None:
            return base
        if centroid_ids is not None:
            delta = delta.where(F.col("centroid_id").isin(centroid_ids))
        return base.unionByName(delta.select(*cols))

    def codes(self, centroid_ids: Optional[list] = None) -> DataFrame:
        return self._union_delta(
            super().codes(centroid_ids),
            _read_delta(self.spark, self.delta_codes_dir, self._folded()),
            ["vec_id", "codes", "centroid_id"],
            centroid_ids,
        )

    def vectors(self, centroid_ids: Optional[list] = None) -> DataFrame:
        return self._union_delta(
            super().vectors(centroid_ids),
            _read_delta(self.spark, self.delta_vectors_dir, self._folded()),
            ["vec_id", "cvec", "centroid_id"],
            centroid_ids,
        )

    def append_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Assign ``batch`` to the frozen centroids, PQ-encode with the
        frozen codebooks (residual-aware), and land codes (and raw
        vectors, if the seed build stored them) under the batch's own
        delta subtrees — overwriting them, so replays are idempotent."""
        codebooks, residual = self._load_codebooks()
        cents = self.centroids()
        v = batch.select(
            F.col(id_col).alias("vec_id"),
            _as_double_vec(F.col(vec_col)).alias("cvec"),
        )
        assigned = (
            ivf_assign(v, cents, 1, "vec_id", "cvec")
            .withColumnRenamed("id", "vec_id")
            .persist()
        )
        if residual:
            res = self._residuals(v, assigned, cents)
            codes = pq_encode(res, codebooks, id_col="vec_id", vec_col="rvec")
        else:
            codes = pq_encode(batch, codebooks, id_col=id_col, vec_col=vec_col)
        (
            assigned.join(codes, "vec_id")
            .select("centroid_id", "vec_id", "codes")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(os.path.join(self.delta_codes_dir, f"batch_id={int(batch_id)}"))
        )
        if fsutil.is_dir(self.spark, self.vectors_dir):
            (
                assigned.join(v, "vec_id")
                .select("centroid_id", "vec_id", "cvec")
                .repartition("centroid_id")
                .write.partitionBy("centroid_id")
                .mode("overwrite")
                .parquet(
                    os.path.join(
                        self.delta_vectors_dir, f"batch_id={int(batch_id)}"
                    )
                )
            )
        assigned.unpersist()

    def drift_stats(self) -> DataFrame:
        """The PQ twin of :meth:`DeltaIvfIndex.drift_stats`, computed
        over the raw-vector sidecar (codes alone can't measure residual
        distance): per-centroid base/delta occupancy, integer-micro mean
        residual distance to the seed centroid per side, delta share.
        Output is bit-identical to a :class:`DeltaIvfIndex` over the
        same rows (same seed centroids, same argmax assignment), so the
        two monitors share one SQL oracle.  Requires
        ``store_vectors=True`` (raises like :meth:`vectors` otherwise).
        Recovery for a fired signal is :meth:`rebuild` — unlike the
        plain delta index there is no centroids-only tier, because
        refreshed centroids invalidate the PQ codebooks too (residual
        codebooks are trained against the assigned centroid)."""
        base = IvfPqIndex.vectors(self).select("centroid_id", "cvec").withColumn(
            "is_delta", F.lit(0)
        )
        delta = _read_delta(self.spark, self.delta_vectors_dir, self._folded())
        rows = base if delta is None else base.unionByName(
            delta.select("centroid_id", "cvec").withColumn("is_delta", F.lit(1))
        )
        return _drift_stats(self.centroids(), rows)

    def rebuild(
        self,
        n_centroids: Optional[int] = None,
        m: Optional[int] = None,
        ksub: Optional[int] = None,
        refine_iters: int = 2,
    ) -> None:
        """OFFLINE recovery for a drifted stream — the PQ analog of
        :meth:`DeltaIvfIndex.rebuild_centroids`.  Refreshed centroids
        invalidate the PQ codebooks too (residual codebooks are trained
        against the assigned centroid, and even raw-vector codebooks
        model the old distribution), so the recovery retrains BOTH
        tiers from the raw-vector sidecar over base + unfolded delta
        and publishes the whole new generation — centroids, codebooks,
        codes, vectors — through ONE atomic manifest swap: a crash at
        any point leaves the previous generation fully live, and the
        codes can never be read against codebooks from a different
        generation.  Requires ``store_vectors=True`` (raises like
        :meth:`vectors` otherwise — a pure-ADC index has nothing to
        retrain from).  ``m``/``ksub`` default to the current
        codebooks' shape; the residual flag is preserved.  Folds all
        current delta batches as a side effect; the stream's sink keeps
        working because ``append_batch`` re-reads centroids and
        codebooks through the manifest."""
        import json

        folded = self._folded()
        delta_codes = _read_delta(self.spark, self.delta_codes_dir, folded)
        batch_ids = [] if delta_codes is None else sorted(
            int(r["batch_id"])
            for r in delta_codes.select("batch_id").distinct().collect()
        )
        rows = self.vectors().select("vec_id", "cvec").persist()
        n = rows.count()
        if n_centroids is None:
            n_centroids = auto_n_centroids(n)
        old_books, residual = self._load_codebooks()
        if m is None:
            m = len(old_books)
        if ksub is None:
            ksub = len(old_books[0])
        man = self._manifest() or {
            "version": 0, "base": {}, "folded_batches": [],
        }
        v = int(man["version"]) + 1
        old_dirs = [self.centroids_dir, self.codes_dir, self.vectors_dir]
        old_books_path = self.codebooks_path
        if refine_iters > 0:
            cents = ivf_centroids_refined(
                rows, n_centroids, iters=refine_iters,
                id_col="vec_id", vec_col="cvec",
            )
        else:
            cents = ivf_centroids(rows, n_centroids, "vec_id", "cvec")
        names = {
            "centroids": f"centroids__m{v}",
            "codes": f"codes__m{v}",
            "vectors": f"vectors__m{v}",
            "codebooks": f"codebooks__m{v}.json",
        }
        staged = {k: os.path.join(self.index_dir, nm) for k, nm in names.items()}
        for p in staged.values():
            fsutil.delete(self.spark, p)
        cents.coalesce(1).write.mode("overwrite").parquet(staged["centroids"])
        cents = self.spark.read.parquet(staged["centroids"])
        assigned = (
            ivf_assign(rows, cents, 1, "vec_id", "cvec")
            .withColumnRenamed("id", "vec_id")
            .persist()
        )
        if residual:
            res = self._residuals(rows, assigned, cents)
            codebooks = pq_codebooks(
                res, m=m, ksub=ksub, id_col="vec_id", vec_col="rvec"
            )
            codes = pq_encode(res, codebooks, id_col="vec_id", vec_col="rvec")
        else:
            codebooks = pq_codebooks(
                rows, m=m, ksub=ksub, id_col="vec_id", vec_col="cvec"
            )
            codes = pq_encode(rows, codebooks, id_col="vec_id", vec_col="cvec")
        fsutil.write_text(
            self.spark,
            staged["codebooks"],
            json.dumps({"residual": residual, "codebooks": codebooks}),
        )
        (
            assigned.join(codes, "vec_id")
            .select("centroid_id", "vec_id", "codes")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(staged["codes"])
        )
        (
            assigned.join(rows, "vec_id")
            .select("centroid_id", "vec_id", "cvec")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .mode("overwrite")
            .parquet(staged["vectors"])
        )
        n_codes = self.spark.read.parquet(staged["codes"]).count()
        n_vecs = self.spark.read.parquet(staged["vectors"]).count()
        assigned.unpersist()
        rows.unpersist()
        if n_codes != n or n_vecs != n:
            for p in staged.values():
                fsutil.delete(self.spark, p)
            raise RuntimeError(
                f"rebuild audit failed for {self.index_dir}: staged "
                f"{n_codes} codes / {n_vecs} vectors, expected {n} of each"
            )
        self._publish(
            {
                "version": v,
                "base": {**(man.get("base") or {}), **names},
                "folded_batches": sorted(
                    set(man.get("folded_batches") or []) | set(batch_ids)
                ),
            },
        )
        # post-publish GC: everything here is unreferenced by the new
        # manifest — a crash leaves orphans, never duplicates.  Sweep
        # by the manifest's FULL folded set so leftovers of earlier
        # crashed GCs / replayed folded batches are reclaimed too.
        for d in old_dirs:
            fsutil.delete(self.spark, d)
        fsutil.remove_file(self.spark, old_books_path)
        all_folded = set(self._folded()) | set(batch_ids)
        for delta_dir in (self.delta_codes_dir, self.delta_vectors_dir):
            _sweep_folded_subtrees(self.spark, delta_dir, all_folded)

    def merge_delta(self) -> None:
        """Fold the delta subtrees into NEW versioned base directories
        and publish ATOMICALLY — same write-audit-publish contract as
        :meth:`DeltaIvfIndex.merge_delta`, with ONE manifest swap
        covering BOTH the codes and (when stored) the raw-vector
        sidecar, so the two layouts can never disagree about which
        batches are folded.  OFFLINE maintenance: stream stopped."""
        folded = self._folded()
        delta_codes = _read_delta(self.spark, self.delta_codes_dir, folded)
        if delta_codes is None or not (
            batch_ids := sorted(
                int(r["batch_id"])
                for r in delta_codes.select("batch_id").distinct().collect()
            )
        ):
            # nothing unfolded — still reclaim folded leftovers (crashed
            # earlier GC / replayed rewrite of a folded batch)
            for delta_dir in (self.delta_codes_dir, self.delta_vectors_dir):
                _sweep_folded_subtrees(self.spark, delta_dir, folded)
            return
        m = self._manifest() or {
            "version": 0, "base": {}, "folded_batches": [],
        }
        v = int(m["version"]) + 1
        new_base = dict(m.get("base") or {})
        staged_dirs, old_dirs = [], []

        def _stage(delta_df, old_dir, key, cols):
            base = self.spark.read.parquet(old_dir)
            n_base, n_delta = base.count(), delta_df.count()
            name = f"{key}__m{v}"
            staged = os.path.join(self.index_dir, name)
            fsutil.delete(self.spark, staged)
            (
                base.select(*cols)
                .unionByName(delta_df.select(*cols))
                .repartition("centroid_id")
                .write.partitionBy("centroid_id")
                .mode("overwrite")
                .parquet(staged)
            )
            n_staged = self.spark.read.parquet(staged).count()
            if n_staged != n_base + n_delta:
                for d in staged_dirs + [staged]:
                    fsutil.delete(self.spark, d)
                raise RuntimeError(
                    f"merge audit failed for {old_dir}: staged {n_staged} "
                    f"rows, expected {n_base} + {n_delta}"
                )
            staged_dirs.append(staged)
            old_dirs.append(old_dir)
            new_base[key] = name

        _stage(
            delta_codes, self.codes_dir, "codes",
            ["centroid_id", "vec_id", "codes"],
        )
        delta_vecs = _read_delta(self.spark, self.delta_vectors_dir, folded)
        if delta_vecs is not None and fsutil.is_dir(self.spark, self.vectors_dir):
            _stage(
                delta_vecs, self.vectors_dir, "vectors",
                ["centroid_id", "vec_id", "cvec"],
            )
        self._publish(
            {
                "version": v,
                "base": new_base,
                "folded_batches": sorted(
                    set(m.get("folded_batches") or []) | set(batch_ids)
                ),
            },
        )
        # post-publish GC: everything here is unreferenced by the new
        # manifest — a crash leaves orphans, never duplicates.  Sweep
        # by the manifest's FULL folded set so leftovers of earlier
        # crashed GCs / replayed folded batches are reclaimed too.
        for d in old_dirs:
            fsutil.delete(self.spark, d)
        all_folded = set(self._folded()) | set(batch_ids)
        for delta_dir in (self.delta_codes_dir, self.delta_vectors_dir):
            _sweep_folded_subtrees(self.spark, delta_dir, all_folded)

    # auto-compaction: maybe_merge comes from _AutoCompacting; these
    # count the CODES side (the sidecar folds under the same swap)
    def _delta_rows(self) -> int:
        d = _read_delta(self.spark, self.delta_codes_dir, self._folded())
        return 0 if d is None else d.count()

    def _base_rows(self) -> int:
        return self.spark.read.parquet(self.codes_dir).count()
