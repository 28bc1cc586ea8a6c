"""Parquet-backed managed table store with atomic overwrite.

The reference's tables live in PostgreSQL with per-statement transactions
(PostgrePersistenceService.java:230-252). Without Delta/Iceberg jars in this
environment, atomicity is provided by write-new-version + repoint: each
overwrite writes a fresh versioned directory and flips a `_CURRENT` pointer
file, so readers never observe a half-written table and a crashed writer
leaves the previous version intact. Merge operators stay idempotent (same
input → same table state), mirroring the reference's idempotent-reprocessing
stance (MetsProcessor.java:148-157), so re-runs after any failure are safe.

At cluster scale this class is swapped for Delta/Iceberg MERGE — the
operator code in operators/maintenance.py is format-agnostic (pure
DataFrame in, DataFrame out); only persist() changes.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CURRENT = "_CURRENT"


def local_frame(spark: SparkSession, schema: T.StructType,
                rows: Iterable[Sequence] = ()) -> DataFrame:
    """Driver-side rows (checkpoint row, page body, empty table) as a
    single-partition JVM frame whose schema equals ``schema``.

    The rows become one typed literal ``array<struct>``, cast to the
    declared row type and exploded with ``inline`` over a one-row
    ``spark.range``. No Python worker runs, unlike a frame built from a
    Python list (whose reserialize pass starts one), and a write makes one
    parquet file. The cast carries the declared nullability: a None in a
    non-nullable field fails analysis instead of being written."""
    structs = [F.struct(*[F.lit(v).alias(f.name)
                          for v, f in zip(r, schema.fields)]) for r in rows]
    packed = F.array(*structs).cast(T.ArrayType(schema, containsNull=False))
    return spark.range(0, 1, 1, numPartitions=1).select(F.inline(packed))


class ConcurrentWriteError(RuntimeError):
    """compact() detected a concurrent append/overwrite and refused to
    repoint. A dedicated type so advisory callers (maybe_compact) can
    swallow EXACTLY this refusal and let every other failure surface."""


class ImmutablePayloadError(ValueError):
    """A merge_keyed(immutable_payload=True) re-delivered an existing
    key with a CHANGED payload. Raised by the suite-state merges that
    back the decontamination streams' suite_epoch convention: the
    row-count epoch is a valid version counter only while suite state
    is insert-only up to idempotent re-delivery (the HARD CONTRACT in
    streaming/jobs._with_suite_epoch) — an overwriting feed changes
    verdict-relevant state without changing the count, so the merge
    refuses instead of silently invalidating every epoch comparison.
    The fix is on the feed side: key corrected rows by (id, revision)
    so the correction becomes an insert the epoch counts."""


class TableStore:
    """Versioned parquet tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str,
                 auto_compact_files: int | None = 64):
        """`auto_compact_files`: when an append leaves a table with more
        than this many parquet files, the store compacts it in place
        (see maybe_compact) — ON by default because the failure mode it
        prevents is silent (every append-heavy path accumulates one file
        set per batch until scans degrade). None disables it for callers
        that schedule compaction themselves."""
        self.spark = spark
        self.root = root
        self.auto_compact_files = auto_compact_files
        self._versions: dict[str, list[str]] = {}
        os.makedirs(root, exist_ok=True)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _current_version(self, name: str) -> str | None:
        pointer = os.path.join(self._table_dir(name), _CURRENT)
        if not os.path.exists(pointer):
            return None
        with open(pointer) as fh:
            return fh.read().strip() or None

    def exists(self, name: str) -> bool:
        return self._current_version(name) is not None

    def read(self, name: str, schema: T.StructType | None = None) -> DataFrame:
        version = self._current_version(name)
        if version is None:
            if schema is None:
                raise FileNotFoundError(f"table {name!r} does not exist")
            return local_frame(self.spark, schema)
        reader = self.spark.read
        if schema is not None:
            # declared schema wins over the stored footer: columns the
            # files predate read as NULL (parquet missing-column
            # semantics) — the tolerant-reader seam that lets merge_keyed
            # evolve a table's schema instead of silently dropping new
            # columns against an old snapshot
            reader = reader.schema(schema)
        return reader.parquet(os.path.join(self._table_dir(name), version))

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Write a new version, then atomically repoint _CURRENT."""
        table_dir = self._table_dir(name)
        os.makedirs(table_dir, exist_ok=True)
        version = f"v-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(table_dir, version))
        self._repoint(name, version)

    def _repoint(self, name: str, version: str) -> None:
        """Atomically flip _CURRENT to an already-written version dir and
        GC old versions (keeping the immediately-previous one:
        lazily-evaluated DataFrames in this session may still hold scan
        references to it — same reason Delta retains tombstoned files
        until VACUUM)."""
        table_dir = self._table_dir(name)
        if name not in self._versions:
            # Seed history from disk so versions written by a previous
            # process (crashed/restarted pipeline) are GC'd too instead of
            # leaking forever; in-memory history alone only covers this
            # instance's writes.
            on_disk = sorted(e for e in os.listdir(table_dir)
                             if e.startswith("v-") and e != version)
            current = self._current_version(name)
            if current in on_disk:  # keep the live version last
                on_disk.remove(current)
                on_disk.append(current)
            self._versions[name] = on_disk
        tmp_pointer = os.path.join(table_dir, f".{_CURRENT}.{uuid.uuid4().hex[:6]}")
        with open(tmp_pointer, "w") as fh:
            fh.write(version)
            # durability, not just process-crash atomicity: without the
            # fsync a power loss after os.replace can surface _CURRENT
            # as ZERO-LENGTH (rename metadata journaled, data pages not),
            # which reads as "table does not exist" — and the next merge
            # would commit a table containing only its own batch
            fh.flush()
            os.fsync(fh.fileno())
        old = self._current_version(name)
        os.replace(tmp_pointer, os.path.join(table_dir, _CURRENT))
        dir_fd = os.open(table_dir, os.O_RDONLY)
        try:
            os.fsync(dir_fd)          # persist the rename itself
        finally:
            os.close(dir_fd)
        self._versions.setdefault(name, []).append(version)
        history = self._versions[name]
        for stale in history[:-2]:
            shutil.rmtree(os.path.join(table_dir, stale), ignore_errors=True)
        del history[:-2]
        if old and old not in history and old != version:
            history.insert(0, old)

    def append(self, name: str, df: DataFrame, schema: T.StructType | None = None) -> None:
        """O(batch) append: add parquet files to the current version
        directory instead of rewriting the table. The parquet committer
        stages files under _temporary and moves them in on commit, so
        readers never see partial data; a crashed append leaves no visible
        rows. Used for the append-only logs (S7 checkpoints, staging)."""
        if not self.exists(name):
            if schema is None:
                schema = df.schema
            self.overwrite(name, local_frame(self.spark, schema))
        version = self._current_version(name)
        df.write.mode("append").parquet(
            os.path.join(self._table_dir(name), version))
        if self.auto_compact_files is not None:
            self.maybe_compact(name, self.auto_compact_files)

    def file_count(self, name: str) -> int:
        """Parquet files in the current version — the small-files health
        metric maybe_compact thresholds on."""
        version = self._current_version(name)
        if version is None:
            return 0
        vdir = os.path.join(self._table_dir(name), version)
        return sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))

    def maybe_compact(self, name: str, max_files: int,
                      target_files: int | None = None) -> bool:
        """Compact `name` iff its current version holds more than
        `max_files` parquet files; amortized O(1) per append with a fixed
        threshold (each compaction pays one table rewrite per max_files
        appends). A concurrent-writer refusal from compact() is swallowed:
        compaction is advisory maintenance — the data is already durable,
        and the next append over the threshold retries. ONLY that refusal
        is swallowed (ConcurrentWriteError); any other compaction failure
        propagates — silently retrying a genuinely broken compaction
        would pay a full O(table) rewrite attempt on every subsequent
        append while hiding the fault. Returns whether a compaction
        ran."""
        if self.file_count(name) <= max_files:
            return False
        # default target stays a fixed fraction BELOW the threshold so
        # the next appends don't immediately re-trip it (a target above
        # max_files would compact on every append, O(table) each time)
        try:
            self.compact(name, target_files or max(1, max_files // 4))
            return True
        except ConcurrentWriteError:
            return False

    # -- keyed mutations -----------------------------------------------------
    # The pipeline mutates keyed tables only through these two methods.
    # Each rewrites the whole table per batch (fine at the reference's
    # scale); at cluster scale they are the two calls a Delta/Iceberg
    # MERGE replaces (module docstring).

    def merge_keyed(self, name: str, changes: DataFrame,
                    keys: Sequence[str],
                    order_by: Sequence[str] | None = None,
                    schema: T.StructType | None = None,
                    immutable_payload: bool = False) -> None:
        """S5/S6 keyed upsert into `name` (see operators/maintenance.py).

        ``immutable_payload=True`` additionally asserts that every
        re-delivered key carries a byte-identical payload (raising
        ImmutablePayloadError otherwise) — see
        _assert_immutable_redelivery."""
        from qucosa_fcrepo_reportingdb_spark.operators.maintenance import (
            merge_upsert,
        )
        if immutable_payload:
            self._assert_immutable_redelivery(name, changes, keys, schema)
        current = self.read(name, schema)
        self.overwrite(name, merge_upsert(current, changes,
                                          keys=keys, order_by=order_by))

    def _assert_immutable_redelivery(self, name: str, changes: DataFrame,
                                     keys: Sequence[str],
                                     schema: T.StructType | None) -> None:
        """Enforce the suite-epoch HARD CONTRACT at the merge boundary
        (VERDICT r14 item 3): matched keys must carry byte-identical
        non-key payloads. One broadcast-sized inner join on the keys
        comparing an xxhash64 of the non-key columns on each side —
        a changed payload raises with example keys; identical
        re-delivery (the idempotent case every restart/reprocess test
        exercises) passes untouched. Tables whose payload IS the key
        (e.g. the shingle suite sets) have nothing to compare and
        return immediately. Best-effort by design: an xxhash64
        collision between two different payloads would miss — the
        guard is a tripwire for a systematically overwriting feed, not
        a cryptographic audit."""
        if not self.exists(name):
            return
        current = self.read(name, schema)
        non_key = [c for c in current.columns if c not in keys]
        if not non_key:
            return
        cur = current.select(*keys, F.xxhash64(*non_key).alias("_cur_sig"))
        chg = changes.select(*keys, F.xxhash64(*non_key).alias("_chg_sig"))
        bad = (cur.join(chg, on=list(keys))
               .filter(F.col("_cur_sig") != F.col("_chg_sig"))
               .select(*keys).limit(3).collect())
        if bad:
            raise ImmutablePayloadError(
                f"merge into {name!r} re-delivers existing key(s) "
                f"{[tuple(r) for r in bad]} with a CHANGED payload; "
                "this table's row count backs a suite_epoch version "
                "counter, which an overwrite silently invalidates — "
                "key corrected rows by (id, revision) instead")

    def delete_keyed(self, name: str, processed: DataFrame,
                     compare_cols: Sequence[str],
                     schema: T.StructType | None = None) -> None:
        """S8 optimistic-concurrency delete from `name`: a row is removed
        only when its FULL compared tuple still matches `processed`."""
        from qucosa_fcrepo_reportingdb_spark.operators.maintenance import (
            conditional_delete,
        )
        current = self.read(name, schema)
        self.overwrite(name, conditional_delete(current, processed,
                                                compare_cols))

    def compact(self, name: str, target_files: int = 1) -> "tuple[int, int]":
        """Rewrite the current version into ``target_files`` parquet files
        and atomically repoint — the small-file compaction every
        append-heavy table needs (each ``append`` adds files; thousands of
        tiny files turn a 100 TB scan into a metadata stampede and defeat
        row-group statistics). Content is preserved exactly; returns
        (files_before, files_after). Readers holding the previous version
        keep working — same retention rule as ``overwrite``.

        Like every mutation on this store, compact assumes a single
        writer; unlike the others it re-checks the source version's file
        listing after the rewrite and REFUSES to repoint if a concurrent
        append/overwrite landed meanwhile — the overlap would otherwise
        silently discard those rows when the pointer flips. The caller
        retries after quiescing writers."""
        if not self.exists(name):
            raise FileNotFoundError(f"no such table: {name}")
        version = self._current_version(name)
        vdir = os.path.join(self._table_dir(name), version)

        def _listing() -> list[str]:
            return sorted(f for f in os.listdir(vdir)
                          if f.endswith(".parquet"))

        snapshot = _listing()
        table_dir = self._table_dir(name)
        new_version = f"v-{uuid.uuid4().hex[:12]}"
        new_dir = os.path.join(table_dir, new_version)
        self.read(name).coalesce(target_files) \
            .write.mode("overwrite").parquet(new_dir)
        if self._current_version(name) != version or _listing() != snapshot:
            shutil.rmtree(new_dir, ignore_errors=True)
            raise ConcurrentWriteError(
                f"table {name!r} changed during compact "
                "(concurrent append/overwrite); quiesce writers and retry")
        self._repoint(name, new_version)
        after = len([f for f in os.listdir(new_dir)
                     if f.endswith(".parquet")])
        return len(snapshot), after

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)
