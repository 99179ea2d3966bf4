"""Persistent BUCKETED dedup-index tables — shuffle-free corpus joins.

At 100 TB the MinHash-LSH band join is the dominant shuffle: every
dedup run re-shingles, re-hashes, and re-shuffles the whole corpus to
co-locate equal (band, bucket) fingerprints.  Spark's bucketed tables
remove that cost structurally: write the fingerprints ONCE clustered on
the join key (``df.write.bucketBy(n, "band", "bucket").sortBy(...)``)
and every later consumer gets co-location from the STORAGE layout —

* full-corpus candidate generation (the band self-join) plans with zero
  Exchange: the bucketed scan feeds the join directly, so a re-run
  against a 100 TB corpus shuffles nothing (tests assert the plan);
* the hot-bucket stats pass (groupBy band, bucket) aggregates within
  buckets, also shuffle-free;
* an incremental crawl batch joins ITS OWN fingerprints (tiny) against
  the index — the corpus side never moves, per-batch cost stays
  O(new x collisions) regardless of corpus size.

``DedupIndex`` packages the two index tables the steady-state pipeline
persists between crawls:

    {prefix}_hashes  (id, h)             bucketed by h
    {prefix}_bands   (id, band, bucket)  bucketed by (band, bucket)

built with the md5-derived hash family (functions/text.stable_hash64)
so every decision replays exactly in the SQL oracles.  The reference
has no bulk path at all (element-at-a-time Datomic writes,
FluxGraph.java:325-340); this is part of the training-data-pipeline
extension surface.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import (
    _jaccard_pairs,
    band_table,
    free_local_checkpoint,
    minhash_signatures,
    pairs_from_bands,
    shingle_table,
)
from ..functions.text import stable_hash64


def auto_n_buckets(spark: SparkSession, n_rows: int) -> int:
    """Default bucket count for a corpus of ``n_rows`` documents when the
    caller doesn't size it explicitly.

    Two pressures: (a) never fewer buckets than the session's shuffle
    parallelism — a bucketed join can't use more tasks than buckets, so
    undersized buckets idle the cluster; (b) keep per-bucket fingerprint
    volume bounded (~1M docs/bucket: at ~8 band rows + 1 hash row per
    doc that is file sizes a task handles comfortably), so buckets grow
    with the corpus.  Capped at 65,536 — beyond that, per-bucket volume
    grows again (≈15M docs/bucket at 10^12 rows), which stays fine
    because bucketed scans split large files by row group.

    Sizing guide (32-partition session): 10^6 rows → 32 buckets,
    10^9 → 1,000, 10^12 → 65,536 (cap).  Pass ``n_buckets`` explicitly
    to pin a layout (e.g. to match an existing co-bucketed table)."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    need = -(-int(n_rows) // 1_000_000)  # ceil div
    return int(min(max(shuffle, need), 65_536))


def ensure_database(spark: SparkSession, database: str, location: Optional[str] = None) -> None:
    """Create the index database if absent.  Pass ``location`` to keep
    warehouse files out of the default ``spark-warehouse`` directory
    (tests point this at a tmp dir; production at a real warehouse
    path).

    Both values interpolate into SQL text, so they are validated: the
    database must be a plain identifier and the location must not embed
    a quote (paths with quotes break the statement or inject into it)."""
    if not re.fullmatch(r"[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)*", database):
        raise ValueError(f"invalid database identifier: {database!r}")
    if location is not None and "'" in location:
        raise ValueError(f"location must not contain a quote: {location!r}")
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a parquet table bucketed (and sorted) by
    ``bucket_cols``.  ``n_buckets`` sizes the parallelism of every
    future shuffle-free join against the table — pick it like you pick
    shuffle partitions for the corpus (files scale with buckets x
    writing tasks)."""
    (
        df.write.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .mode(mode)
        .saveAsTable(table)
    )


class DedupIndex:
    """The persisted corpus dedup index (see module docstring).

    ``build`` writes it from a corpus snapshot; ``append`` grows it with
    a new batch (same bucket spec, so co-location survives); between
    them ``candidate_pairs`` / ``dedupe_batch`` consume it without ever
    shuffling the corpus side.
    """

    def __init__(
        self,
        spark: SparkSession,
        prefix: str,
        n: int = 3,
        num_hashes: int = 8,
        bands: int = 4,
        n_buckets: Optional[int] = None,
    ) -> None:
        self.spark = spark
        self.prefix = prefix
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.hashes_table = f"{prefix}_hashes"
        self.bands_table = f"{prefix}_bands"
        if n_buckets is None:
            if spark.catalog.tableExists(self.hashes_table):
                # opening an existing index: the layout owns the bucket
                # count — read it back from the catalog rather than
                # trusting a caller default that may not match the files
                n_buckets = self._catalog_n_buckets()
            else:
                # fail at the misuse site, not in a later bucketBy(None)
                raise ValueError(
                    f"no DedupIndex tables exist at prefix {prefix!r} and "
                    "no n_buckets was given — create one with "
                    "DedupIndex.build(...), or pass n_buckets explicitly "
                    "to lay out a new index"
                )
        self.n_buckets = n_buckets

    def _catalog_n_buckets(self) -> int:
        rows = self.spark.sql(
            f"DESCRIBE FORMATTED {self.hashes_table}"
        ).collect()
        for r in rows:
            if r["col_name"].strip() == "Num Buckets":
                return int(r["data_type"])
        raise ValueError(
            f"{self.hashes_table} exists but is not bucketed — not a "
            "DedupIndex table"
        )

    # -- construction ---------------------------------------------------

    def _index_frames(self, docs: DataFrame, id_col: str, text_col: str):
        base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        hashes = base.select("id", stable_hash64(F.col("text")).alias("h"))
        sh = shingle_table(base, "id", "text", n=self.n)
        sig = minhash_signatures(sh, num_hashes=self.num_hashes)
        banded = band_table(sig, num_hashes=self.num_hashes, bands=self.bands)
        return hashes, banded

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        prefix: str,
        n: int = 3,
        num_hashes: int = 8,
        bands: int = 4,
        n_buckets: Optional[int] = None,
    ) -> "DedupIndex":
        """Write the index from a corpus snapshot.  ``n_buckets=None``
        (default) sizes the layout from the corpus via
        :func:`auto_n_buckets` (one count at build time); pass it
        explicitly to pin a layout."""
        spark = docs.sparkSession
        if n_buckets is None:
            n_buckets = auto_n_buckets(spark, docs.count())
        idx = cls(
            spark, prefix,
            n=n, num_hashes=num_hashes, bands=bands, n_buckets=n_buckets,
        )
        hashes, banded = idx._index_frames(docs, id_col, text_col)
        write_bucketed(hashes, idx.hashes_table, ["h"], n_buckets)
        write_bucketed(banded, idx.bands_table, ["band", "bucket"], n_buckets)
        return idx

    def append(self, batch: DataFrame, id_col: str, text_col: str) -> None:
        """Grow the index with a new batch (post-dedup survivors).  The
        append reuses the tables' bucket spec, so files stay clustered
        on the join keys."""
        hashes, banded = self._index_frames(batch, id_col, text_col)
        write_bucketed(hashes, self.hashes_table, ["h"], self.n_buckets, mode="append")
        write_bucketed(
            banded, self.bands_table, ["band", "bucket"], self.n_buckets, mode="append"
        )

    def compact(self) -> None:
        """Rewrite both index tables once with the same bucket spec,
        merging the small files per-batch appends accumulate (each
        append adds writing-tasks x buckets files; steady-state crawl
        ingest grows the file count linearly).

        Crash-safe: the rewrite lands in a ``__compact`` sibling table
        FIRST (full copy, row count audited), and only then replaces the
        original — a failure mid-write leaves the live table untouched,
        and a failure between drop and rename leaves the complete copy
        recoverable under the sibling name.  Never overwrite-in-place
        from pinned rows: the pin is executor storage, not durable."""
        for table, cols in (
            (self.hashes_table, ["h"]),
            (self.bands_table, ["band", "bucket"]),
        ):
            self.spark.catalog.refreshTable(table)
            src = self.spark.table(table)
            n_before = src.count()
            tmp = f"{table}__compact"
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            # repartition on the bucket columns with n_buckets tasks:
            # Spark's repartition hash == its bucketBy hash, so each task
            # holds exactly one bucket and writes exactly one file.  The
            # bucketed-scan optimization must be OFF for this read — the
            # scan otherwise already "satisfies" the partitioning, the
            # exchange is elided, and every small input file writes its
            # own output again (no compaction happens at all).
            prev = self.spark.conf.get("spark.sql.sources.bucketing.enabled")
            self.spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
            try:
                write_bucketed(
                    src.repartition(self.n_buckets, *[F.col(c) for c in cols]),
                    tmp, cols, self.n_buckets, mode="overwrite",
                )
            finally:
                self.spark.conf.set("spark.sql.sources.bucketing.enabled", prev)
            if self.spark.table(tmp).count() != n_before:
                self.spark.sql(f"DROP TABLE {tmp}")
                raise RuntimeError(
                    f"compact audit failed for {table}: row count changed"
                )
            # The DROP -> RENAME swap is the one non-atomic window: a
            # crash between them leaves the live name unbound while the
            # COMPLETE copy survives under the sibling name.  Surface
            # the exact recovery statement instead of a bare failure.
            try:
                self.spark.sql(f"DROP TABLE {table}")
                self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            except Exception as ex:
                raise RuntimeError(
                    f"compact swap interrupted for {table}; the full copy "
                    f"is intact under {tmp} — recover with: "
                    f"ALTER TABLE {tmp} RENAME TO {table}"
                ) from ex

    # -- readers --------------------------------------------------------

    def hashes(self) -> DataFrame:
        # refresh first: appends may come through another session over
        # the same catalog (e.g. foreachBatch's batch-scoped clone), and
        # this session's cached relation would otherwise keep the stale
        # file list.  Costs a metadata lookup, saves a wrong join.
        self.spark.catalog.refreshTable(self.hashes_table)
        return self.spark.table(self.hashes_table)

    def bands_df(self) -> DataFrame:
        self.spark.catalog.refreshTable(self.bands_table)
        return self.spark.table(self.bands_table)

    # -- consumers ------------------------------------------------------

    def candidate_pairs(self, max_bucket_size: Optional[int] = None) -> DataFrame:
        """Corpus-wide LSH candidate pairs from the persisted index —
        the band self-join and (with a cap) the hot-bucket stats pass
        both run on bucketed scans: zero Exchange in the plan."""
        return pairs_from_bands(self.bands_df(), max_bucket_size=max_bucket_size)

    def dedupe_batch(
        self,
        new_batch: DataFrame,
        corpus_docs: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.5,
    ) -> DataFrame:
        """Survivors of ``new_batch`` against the PERSISTED index —
        decision-identical to functions/dedup.dedupe_incremental (same
        hash family, banding, and verify tier), but the corpus side
        comes from the index tables: the exact tier probes the hash
        table, the near tier joins batch fingerprints against the band
        table, and only the colliding corpus documents are re-read (a
        semi-join on ``corpus_docs``) for the n-gram Jaccard verify.
        Cost per batch: O(new x collisions); the corpus is never
        re-shingled, re-hashed, or self-joined.
        """
        from concurrent.futures import ThreadPoolExecutor

        base = new_batch.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        # r12: one gram pass over the batch, materialized fingerprints.
        # The batch shingle table feeds BOTH the minhash signatures and
        # the verify tier (previously the verify re-ran the whole gram
        # pipeline over the batch a second time), and the small
        # fingerprint tables are checkpointed eagerly — their self-joins
        # (hn×hb, bn×bb) otherwise race a cold cache under AQE and
        # recompute the md5 lineage once per join child.
        # r13: the exact-hash and banding fingerprints are independent
        # scans of the same small batch — materialize them as
        # CONCURRENT jobs (guide §2.6: actions are sequential only
        # because driver code calls them sequentially).
        # Every cache and checkpoint of the batch is released when the
        # call ends, on failure too, and only after both pools have
        # joined (ADVICE r12: a long-lived streaming session calls
        # dedupe_batch per microbatch and would otherwise accumulate the
        # blocks).  On success that is after ``drops`` materializes: an
        # evicted cand cache would recompute through them.
        cached: list[DataFrame] = []
        futures = []
        verify_ck = None
        try:
            sh_batch = shingle_table(base, "id", "text", n=self.n).persist()
            cached.append(sh_batch)
            sig = minhash_signatures(sh_batch, num_hashes=self.num_hashes)
            with ThreadPoolExecutor(max_workers=2) as pool:
                futures.append(pool.submit(
                    lambda: base.select(
                        "id", stable_hash64(F.col("text")).alias("h")
                    ).localCheckpoint(eager=True)
                ))
                futures.append(pool.submit(
                    lambda: band_table(
                        sig, num_hashes=self.num_hashes, bands=self.bands
                    ).localCheckpoint(eager=True)
                ))
                b_hashes, b_bands = (f.result() for f in futures)

            # exact tier: corpus hash hit, or smaller-id twin within batch.
            # The id inequality makes the probe replay-safe: a crashed-and-
            # replayed microbatch finds its own previous fingerprints in the
            # index (same ids), and without it every replayed doc would
            # self-match and drop.  Real corpus twins always carry other ids.
            hn = b_hashes.alias("hn")
            exact_corpus = hn.join(
                self.hashes().alias("ho"),
                (F.col("hn.h") == F.col("ho.h")) & (F.col("hn.id") != F.col("ho.id")),
                "left_semi",
            ).select(F.col("hn.id").alias("id"))
            hb = b_hashes.alias("hb")
            exact_batch = (
                hn.join(
                    hb,
                    (F.col("hn.h") == F.col("hb.h")) & (F.col("hb.id") < F.col("hn.id")),
                    "left_semi",
                )
            ).select(F.col("hn.id").alias("id"))
            exact_drop = exact_corpus.unionByName(exact_batch).distinct()
            # the exact tier probes only the hash index — independent of
            # the banding joins below: materialize it concurrently with the
            # candidate count so its probe hides under the bigger job
            with ThreadPoolExecutor(max_workers=1) as exact_pool:
                futures.append(exact_pool.submit(
                    lambda: exact_drop.localCheckpoint(eager=True)
                ))

                # near tier: batch bands vs index bands + smaller-id batch bands
                bn = b_bands.alias("bn")
                cand_corpus = (
                    bn.join(
                        self.bands_df().alias("bo"),
                        (F.col("bn.band") == F.col("bo.band"))
                        & (F.col("bn.bucket") == F.col("bo.bucket"))
                        # replay-safe: see the exact tier above
                        & (F.col("bn.id") != F.col("bo.id")),
                    )
                    .select(F.col("bn.id").alias("id_a"), F.col("bo.id").alias("id_b"))
                )
                bb = b_bands.alias("bb")
                cand_batch = (
                    bn.join(
                        bb,
                        (F.col("bn.band") == F.col("bb.band"))
                        & (F.col("bn.bucket") == F.col("bb.bucket"))
                        & (F.col("bb.id") < F.col("bn.id")),
                    )
                    .select(F.col("bn.id").alias("id_a"), F.col("bb.id").alias("id_b"))
                )
                # eager count: materializes the banding joins ONCE here
                # (instead of lazily inside jaccard_pairs' broadcast probe —
                # one less AQE replan surface; the MinHash-LSH pipeline
                # counts its candidates the same way) and sizes the
                # explicit broadcast decision below.
                cand = cand_corpus.unionByName(cand_batch).dropDuplicates().persist()
                cached.append(cand)
                n_cand = cand.count()

                # verify tier: shingle ONLY the batch + the colliding corpus docs
                hit_ids = (
                    cand.select(F.col("id_b").alias("id"))
                    .distinct()
                    .join(base.select("id"), "id", "left_anti")
                )
                corpus_hits = corpus_docs.select(
                    F.col(id_col).alias("id"), F.col(text_col).alias("text")
                ).join(hit_ids, "id", "left_semi")
                # jaccard_pairs consumes the shingles three times (sizes agg
                # + both join sides); the batch half comes from the CACHED
                # batch shingle table (jaccard_pairs' candidate-id semi-join
                # drops the non-candidate batch rows exactly as the old
                # shingle_table(batch ∪ hits) form did)
                sh = sh_batch.unionByName(
                    shingle_table(corpus_hits, "id", "text", n=self.n)
                ).persist()
                cached.append(sh)
                verified, verify_ck = _jaccard_pairs(
                    sh, cand, threshold, n_cand <= 1_000_000
                )
                near_drop = verified.select(F.col("id_a").alias("id")).distinct()
                exact_ck = futures[-1].result()

            drops = (
                exact_ck.unionByName(near_drop)
                .distinct()
                .withColumnRenamed("id", id_col)
            )
            drops = drops.localCheckpoint(eager=True)
        finally:
            for f in futures:
                if f.done() and f.exception() is None:
                    free_local_checkpoint(f.result())
            if verify_ck is not None:
                free_local_checkpoint(verify_ck)
            for df in cached:
                df.unpersist()
        return new_batch.join(drops, id_col, "left_anti")
