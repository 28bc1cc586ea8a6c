"""Hash-bucketed keyed tables: the 100 TB merge path.

The plain merge (operators/maintenance.merge_upsert + TableStore.overwrite)
rewrites the whole table per batch — fine for the reference's workload
shape, unacceptable at 100 TB. This module stores a keyed table
hash-partitioned into N buckets (directory partition `bucket=K` with
K = pmod(hash(key), N)) so that a merge:

1. computes the affected buckets from the change set (distinct bucket ids,
   at most N integers — the only driver-side collect),
2. reads ONLY those buckets (partition pruning: the scan's PartitionFilters
   carry `bucket IN (...)`),
3. rewrites ONLY those buckets (dynamic partition overwrite).

Write amplification per batch drops from O(table) to
O(table * touched_buckets / N); with change keys clustered (the usual CDC
shape) that is a small constant. The same bucket column co-locates
repeated merges: every merge shuffles changes by the same function, so
bucket files stay key-disjoint and a bucket join needs no repartition.

Atomicity: dynamic partition overwrite commits per partition via the
parquet committer — a crashed merge leaves some buckets old and some new,
but the merge is idempotent (same input -> same result), so re-running the
batch converges; this is exactly the reference's recovery stance
(MetsProcessor.java:148-157).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qucosa_fcrepo_reportingdb_spark.operators.maintenance import (
    conditional_delete,
    last_wins_dedupe,
)
from qucosa_fcrepo_reportingdb_spark.tables import TableStore, local_frame

BUCKET_COL = "bucket"


class BucketedKeyTable:
    """A keyed table persisted as bucket-partitioned parquet."""

    def __init__(self, spark: SparkSession, path: str, key: str,
                 n_buckets: int = 64):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL, F.pmod(F.hash(F.col(self.key)), F.lit(self.n_buckets))
        )

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or any(
            e.startswith(f"{BUCKET_COL}=") for e in (
                os.listdir(self.path) if os.path.isdir(self.path) else [])
        )

    def init(self, df: DataFrame) -> None:
        """Create the table from an initial snapshot. The logical schema is
        persisted alongside so an empty table (every row consumed) stays
        readable — parquet alone cannot infer a schema from zero files."""
        (self._with_bucket(df)
         .repartition(self.n_buckets, BUCKET_COL)
         .write.mode("overwrite").partitionBy(BUCKET_COL)
         .parquet(self.path))
        with open(os.path.join(self.path, "_schema.json"), "w") as fh:
            fh.write(df.schema.json())

    def _has_data(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith(f"{BUCKET_COL}=") for e in os.listdir(self.path))

    def read(self) -> DataFrame:
        if not self._has_data():
            return local_frame(self.spark, self._stored_schema())
        return self.spark.read.parquet(self.path).drop(BUCKET_COL)

    def _stored_schema(self) -> T.StructType:
        with open(os.path.join(self.path, "_schema.json")) as fh:
            return T.StructType.fromJson(json.load(fh))

    def read_buckets(self, buckets: Sequence[int]) -> DataFrame:
        """Partition-pruned scan: only the named buckets are read."""
        if not self._has_data():
            return self._with_bucket(
                local_frame(self.spark, self._stored_schema()))
        df = self.spark.read.parquet(self.path)
        return df.filter(F.col(BUCKET_COL).isin(list(buckets)))

    def merge(self, changes: DataFrame,
              order_by: Sequence[str] | None = None) -> list[int]:
        """Keyed upsert touching only the buckets present in `changes`.
        Returns the list of rewritten bucket ids."""
        changes = self._with_bucket(changes)
        if order_by:
            changes = last_wins_dedupe(changes, [self.key], order_by)
        affected = [r[0] for r in
                    changes.select(BUCKET_COL).distinct().collect()]
        if not affected:
            return []

        current = self.read_buckets(affected)
        survivors = current.join(
            changes.select(self.key), on=self.key, how="left_anti")
        # by-name union with missing-column fill: a batch carrying a NEW
        # column evolves the bucket schema (survivors read NULL for it)
        # instead of silently dropping it — the same tolerant-reader
        # contract as TableStore.read(schema); parquet writes by name,
        # so the mixed column order is immaterial
        merged = survivors.unionByName(changes, allowMissingColumns=True)

        # dynamic overwrite: only partitions present in `merged` (== the
        # affected buckets) are replaced
        with _partition_overwrite_dynamic(self.spark):
            (merged.repartition(len(affected), BUCKET_COL)
             .write.mode("overwrite").partitionBy(BUCKET_COL)
             .parquet(self.path))
        # keep the persisted logical schema in step with the evolution:
        # _schema.json is the zero-file fallback (read/read_buckets with
        # no data), so leaving it at the init-time shape would silently
        # drop the evolved column from an emptied table
        stored = set(self._stored_schema().fieldNames())
        evolved = [f for f in merged.schema.fields
                   if f.name != BUCKET_COL]
        if {f.name for f in evolved} - stored:
            with open(os.path.join(self.path, "_schema.json"), "w") as fh:
                fh.write(T.StructType(evolved).json())
        return sorted(affected)

    def delete_matching(self, processed: DataFrame,
                        compare_cols: Sequence[str]) -> list[int]:
        """S8 optimistic-concurrency delete, bucket-pruned: only buckets
        containing a processed key are read and rewritten. Matching rows
        necessarily live in their key's bucket, so unread buckets cannot
        contain deletions.

        Dynamic partition overwrite only replaces partitions PRESENT in the
        written output, so a bucket whose rows were all deleted would keep
        its stale files — those buckets are dropped explicitly afterwards.
        A crash between write and drop leaves the delete incomplete but
        idempotent: re-running with the same `processed` set converges
        (same recovery stance as merge)."""
        keyed = self._with_bucket(processed)
        affected = [r[0] for r in
                    keyed.select(BUCKET_COL).distinct().collect()]
        if not affected or not self.exists():
            return []
        current = self.read_buckets(affected)
        remaining = conditional_delete(
            current.drop(BUCKET_COL), processed, compare_cols)
        remaining = self._with_bucket(remaining).persist()
        try:
            kept_buckets = {r[0] for r in
                            remaining.select(BUCKET_COL).distinct().collect()}
            if kept_buckets:
                with _partition_overwrite_dynamic(self.spark):
                    (remaining.repartition(max(len(kept_buckets), 1),
                                           BUCKET_COL)
                     .write.mode("overwrite").partitionBy(BUCKET_COL)
                     .parquet(self.path))
            for b in set(affected) - kept_buckets:
                shutil.rmtree(os.path.join(self.path, f"{BUCKET_COL}={b}"),
                              ignore_errors=True)
        finally:
            remaining.unpersist()
        return sorted(affected)


# The pipeline's keyed tables (string literals to avoid importing the
# sources package from an operator module): CDC queue, reporting target,
# quarantine — all keyed by record_identifier (sources/oai.py, sources/mets.py)
PIPELINE_BUCKETED_TABLES = {
    "oai_header": "record_identifier",
    "reporting_documents": "record_identifier",
    "reporting_documents_quarantine": "record_identifier",
}


def pipeline_store(spark: SparkSession, root: str,
                   n_buckets: int = 64) -> "BucketedTableStore":
    """The production store: pipeline keyed tables bucket-partitioned,
    everything else (staging log, run checkpoints) versioned parquet."""
    return BucketedTableStore(spark, root,
                              bucketed=PIPELINE_BUCKETED_TABLES,
                              n_buckets=n_buckets)


class BucketedTableStore(TableStore):
    """TableStore whose designated keyed tables live as bucket-partitioned
    parquet (BucketedKeyTable) instead of versioned whole-table snapshots.

    `bucketed` maps table name -> bucket key column. Keyed mutations
    (merge_keyed / delete_keyed) on those tables rewrite only the touched
    buckets — per-batch write cost O(table * touched_buckets / n_buckets)
    instead of O(table), which is the difference between a CDC merge that
    works at 100 TB and one that rewrites 100 TB per microbatch. All other
    tables (append-only logs, staging, checkpoints) keep the versioned
    path from TableStore."""

    def __init__(self, spark: SparkSession, root: str,
                 bucketed: dict[str, str] | None = None,
                 n_buckets: int = 64,
                 auto_compact_files: int | None = 64):
        super().__init__(spark, root, auto_compact_files=auto_compact_files)
        self._bucketed = dict(bucketed or {})
        self._n_buckets = n_buckets

    def _bucket_table(self, name: str) -> BucketedKeyTable:
        return BucketedKeyTable(self.spark, self._table_dir(name),
                                key=self._bucketed[name],
                                n_buckets=self._n_buckets)

    def exists(self, name: str) -> bool:
        if name in self._bucketed:
            return self._bucket_table(name).exists()
        return super().exists(name)

    def read(self, name: str, schema: T.StructType | None = None) -> DataFrame:
        if name in self._bucketed:
            tab = self._bucket_table(name)
            if not tab.exists():
                if schema is None:
                    raise FileNotFoundError(f"table {name!r} does not exist")
                return local_frame(self.spark, schema)
            df = tab.read()
            if schema is None:
                return df
            # declared schema wins (same contract as TableStore.read):
            # restore declared column order, and read columns the stored
            # buckets predate as typed NULLs instead of failing
            cols = [F.col(f.name) if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields]
            return df.select(*cols)
        return super().read(name, schema)

    def overwrite(self, name: str, df: DataFrame) -> None:
        if name in self._bucketed:
            self._bucket_table(name).init(df)
            return
        super().overwrite(name, df)

    def merge_keyed(self, name: str, changes: DataFrame,
                    keys: Sequence[str],
                    order_by: Sequence[str] | None = None,
                    schema: T.StructType | None = None,
                    immutable_payload: bool = False) -> None:
        if immutable_payload:
            # same contract as the base store (the guard reads through
            # this class's read(), so bucketed tables are covered)
            self._assert_immutable_redelivery(name, changes, keys, schema)
        if name in self._bucketed:
            if list(keys) != [self._bucketed[name]]:
                raise ValueError(
                    f"bucketed table {name!r} merges on "
                    f"{[self._bucketed[name]]}, got {list(keys)}")
            tab = self._bucket_table(name)
            if not tab.exists():
                if order_by:
                    changes = last_wins_dedupe(changes, keys, order_by)
                tab.init(changes)
                return
            tab.merge(changes, order_by=order_by)
            return
        super().merge_keyed(name, changes, keys, order_by, schema)

    def delete_keyed(self, name: str, processed: DataFrame,
                     compare_cols: Sequence[str],
                     schema: T.StructType | None = None) -> None:
        if name in self._bucketed:
            self._bucket_table(name).delete_matching(processed, compare_cols)
            return
        super().delete_keyed(name, processed, compare_cols, schema)


class _partition_overwrite_dynamic:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.prev = None

    def __enter__(self):
        self.prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", self.prev)
