"""TableStore: atomic versioned overwrite, O(batch) append, version
retention for in-flight readers."""

import os

from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.tables import TableStore


def df(spark, n, offset=0):
    return spark.range(offset, offset + n).select(F.col("id"))


def test_overwrite_and_read_roundtrip(spark, store):
    store.overwrite("t", df(spark, 5))
    assert store.read("t").count() == 5
    store.overwrite("t", df(spark, 3))
    assert store.read("t").count() == 3


def test_append_is_additive_without_rewrite(spark, store):
    store.overwrite("t", df(spark, 5))
    version_dir = os.path.join(store.root, "t",
                               store._current_version("t"))
    files_before = set(os.listdir(version_dir))
    store.append("t", df(spark, 4, offset=100))
    files_after = set(os.listdir(version_dir))
    # new part files were ADDED; none of the original files were touched
    assert files_before - files_after == set()
    assert len(files_after) > len(files_before)
    assert store.read("t").count() == 9


def test_append_creates_table_with_schema(spark, store):
    store.append("fresh", df(spark, 2))
    assert store.read("fresh").count() == 2


def test_inflight_reader_survives_one_overwrite(spark, store):
    store.overwrite("t", df(spark, 10))
    lazy = store.read("t")          # holds scan refs to version 1
    store.overwrite("t", df(spark, 20))
    # previous version is retained for exactly this reader
    assert lazy.count() == 10
    assert store.read("t").count() == 20


def test_old_versions_are_garbage_collected(spark, store):
    for i in range(4):
        store.overwrite("t", df(spark, i + 1))
    table_dir = os.path.join(store.root, "t")
    versions = [e for e in os.listdir(table_dir) if e.startswith("v-")]
    assert len(versions) <= 2  # current + one retained


def test_missing_table_with_schema_returns_empty(spark, store):
    from qucosa_fcrepo_reportingdb_spark import schemas
    empty = store.read("nope", schemas.OAI_HEADER_SCHEMA)
    assert empty.count() == 0
    assert empty.schema == schemas.OAI_HEADER_SCHEMA


def test_compact_preserves_content_and_merges_files(spark, tmp_path):
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                 "id long, v string")
    store.overwrite("tbl", base.repartition(4))
    for j in range(3):                      # appends accumulate small files
        store.append("tbl", spark.createDataFrame(
            [(100 + 10 * j + k, "a") for k in range(3)], "id long, v string"))
    expected = sorted((r.id, r.v) for r in store.read("tbl").collect())
    before, after = store.compact("tbl")
    assert before > 1 and after == 1
    assert sorted((r.id, r.v) for r in store.read("tbl").collect()) == expected


def test_compact_detects_concurrent_append(spark, tmp_path, monkeypatch):
    """An append landing between compact's snapshot and its repoint must
    fail the compact LOUDLY (the rewritten version doesn't contain those
    rows), leaving the table — including the racing append — intact."""
    import pytest as _pytest
    from qucosa_fcrepo_reportingdb_spark import tables as tbl
    store = tbl.TableStore(spark, str(tmp_path))
    store.overwrite("tbl", spark.createDataFrame(
        [(1, "a")], "id long, v string").repartition(2))

    real_read = store.read

    def racing_read(name, schema=None):
        # simulate a concurrent writer appending AFTER compact snapshotted
        # the file listing but BEFORE it would flip the pointer
        df = real_read(name, schema)
        monkeypatch.setattr(store, "read", real_read)  # race once
        store.append("tbl", spark.createDataFrame(
            [(99, "late")], "id long, v string"))
        return df

    monkeypatch.setattr(store, "read", racing_read)
    with _pytest.raises(RuntimeError, match="changed during compact"):
        store.compact("tbl")
    rows = sorted((r.id, r.v) for r in store.read("tbl").collect())
    assert rows == [(1, "a"), (99, "late")]  # nothing lost
    before, after = store.compact("tbl")     # clean retry succeeds
    assert after == 1
    assert sorted((r.id, r.v) for r in store.read("tbl").collect()) == rows


def test_compact_missing_table_raises_file_not_found(spark, tmp_path):
    import pytest as _pytest
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore
    store = TableStore(spark, str(tmp_path))
    with _pytest.raises(FileNotFoundError):
        store.compact("nope")


def test_crash_before_repoint_orphan_is_gc_by_fresh_store(spark, store):
    """A crashed overwrite leaves a written v-* directory whose name never
    reached _CURRENT. Readers keep seeing the last commit, and a store
    opened later (the restarted process) seeds its GC history from disk,
    so the orphan is deleted within two overwrites while the previous
    committed version is still retained for in-flight readers."""
    schema = "k long, v string"
    store.overwrite("tto", spark.createDataFrame([(1, "a")], schema))
    store.overwrite("tto", spark.createDataFrame([(1, "b")], schema))
    table_dir = os.path.join(store.root, "tto")
    orphan = os.path.join(table_dir, "v-deadbeefcafe")
    spark.createDataFrame([(9, "ORPHAN")], schema).write.parquet(orphan)
    assert [tuple(r) for r in store.read("tto").collect()] == [(1, "b")]

    fresh = TableStore(spark, store.root)
    for v in ("c", "d"):
        committed = fresh._current_version("tto")
        fresh.overwrite("tto", spark.createDataFrame([(1, v)], schema))
    assert not os.path.exists(orphan)
    assert [tuple(r) for r in fresh.read("tto").collect()] == [(1, "d")]
    kept = os.path.join(table_dir, committed)
    assert [tuple(r) for r in spark.read.parquet(kept).collect()] \
        == [(1, "c")]


def test_merge_keyed_schema_evolution_adds_column(spark, store):
    """Tolerant schema evolution on the keyed-merge path: a batch with a
    NEW column merges into a table written before the column existed —
    old rows read back with NULL in the new column (parquet
    missing-column semantics under an explicit read schema), new rows
    carry their values, and the rewritten table is on the new schema."""
    from pyspark.sql import types as T

    v1 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.StringType())])
    v2 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.StringType()),
                       T.StructField("extra", T.LongType())])
    store.overwrite("evo", spark.createDataFrame([(1, "a"), (2, "b")], v1))
    changes = spark.createDataFrame([(2, "B", 42), (3, "c", 7)], v2)
    store.merge_keyed("evo", changes, keys=["k"], schema=v2)
    rows = {r.k: (r.v, r.extra) for r in store.read("evo").collect()}
    assert rows == {1: ("a", None), 2: ("B", 42), 3: ("c", 7)}


def test_auto_compact_bounds_files_across_many_appends(spark, tmp_path):
    """The append-heavy failure mode compact's docstring warns about,
    closed: with the default-on threshold, N appends leave O(threshold)
    files, not O(N), and content is preserved exactly."""
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore
    store = TableStore(spark, str(tmp_path), auto_compact_files=4)
    for j in range(12):
        store.append("log", spark.createDataFrame(
            [(j, f"b{j}")], "id long, v string"))
    assert store.file_count("log") <= 4
    assert sorted(r.id for r in store.read("log").collect()) == list(range(12))
    # disabled store accumulates one file set per append (the old shape)
    off = TableStore(spark, str(tmp_path / "off"), auto_compact_files=None)
    for j in range(6):
        off.append("log", spark.createDataFrame(
            [(j, "x")], "id long, v string"))
    assert off.file_count("log") >= 6


def test_maybe_compact_swallows_concurrent_writer_refusal(spark, tmp_path,
                                                          monkeypatch):
    """Advisory maintenance must not fail the append that triggered it:
    a concurrent-writer refusal inside auto-compaction is swallowed (the
    appended rows are already durable) and retried on a later append."""
    from qucosa_fcrepo_reportingdb_spark.tables import (
        ConcurrentWriteError,
        TableStore,
    )
    store = TableStore(spark, str(tmp_path), auto_compact_files=2)
    store.overwrite("tbl", spark.createDataFrame(
        [(1, "a")], "id long, v string").repartition(3))

    def refusing_compact(name, target_files=1):
        raise ConcurrentWriteError("table 'tbl' changed during compact")

    monkeypatch.setattr(store, "compact", refusing_compact)
    store.append("tbl", spark.createDataFrame(
        [(2, "b")], "id long, v string"))   # must NOT raise
    assert sorted(r.id for r in store.read("tbl").collect()) == [1, 2]
    monkeypatch.undo()
    assert store.maybe_compact("tbl", 2)    # clean retry compacts
    assert store.file_count("tbl") <= 2


def test_maybe_compact_surfaces_genuine_failures(spark, tmp_path,
                                                 monkeypatch):
    """Only the concurrent-writer refusal is advisory: any OTHER
    compaction failure must propagate out of maybe_compact (silently
    retrying a broken compaction would pay an O(table) rewrite attempt
    per append while hiding the fault)."""
    import pytest

    from qucosa_fcrepo_reportingdb_spark.tables import TableStore
    store = TableStore(spark, str(tmp_path), auto_compact_files=None)
    store.overwrite("tbl", spark.createDataFrame(
        [(1, "a")], "id long, v string").repartition(3))

    def broken_compact(name, target_files=1):
        raise RuntimeError("disk full")

    monkeypatch.setattr(store, "compact", broken_compact)
    assert store.file_count("tbl") > 0
    with pytest.raises(RuntimeError, match="disk full"):
        store.maybe_compact("tbl", 0)


def test_merge_keyed_immutable_payload_guard(spark, store):
    """VERDICT r14 item 3: the suite-epoch HARD CONTRACT enforced at
    the merge boundary. With immutable_payload=True, a re-delivered
    key with a byte-identical payload merges exactly as before (the
    idempotent case), a NEW key inserts, but a re-delivered key whose
    payload CHANGED raises ImmutablePayloadError naming the key —
    because this table's row count backs a suite_epoch counter that an
    overwrite silently invalidates. Key-only tables (payload IS the
    key) have nothing to compare and never raise."""
    import pytest

    from pyspark.sql import types as T

    from qucosa_fcrepo_reportingdb_spark.tables import ImmutablePayloadError

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("nrm", T.DoubleType()),
    ])

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    store.merge_keyed("suite", frame([(1, [1.0, 0.0], 1.0)]),
                      keys=["vec_id"], schema=schema,
                      immutable_payload=True)
    # idempotent re-delivery + a new key: both fine
    store.merge_keyed("suite", frame([(1, [1.0, 0.0], 1.0),
                                      (2, [0.0, 2.0], 2.0)]),
                      keys=["vec_id"], schema=schema,
                      immutable_payload=True)
    assert store.read("suite", schema).count() == 2
    # changed payload under an existing key: refused, state untouched
    with pytest.raises(ImmutablePayloadError, match=r"\(1,\)"):
        store.merge_keyed("suite", frame([(1, [9.0, 9.0], 1.0)]),
                          keys=["vec_id"], schema=schema,
                          immutable_payload=True)
    got = {r.vec_id: r.v for r in store.read("suite", schema).collect()}
    assert got[1] == [1.0, 0.0]
    # NULL-payload cells compare null-safely in both directions
    store.merge_keyed("suite", frame([(3, None, None)]),
                      keys=["vec_id"], schema=schema,
                      immutable_payload=True)
    store.merge_keyed("suite", frame([(3, None, None)]),
                      keys=["vec_id"], schema=schema,
                      immutable_payload=True)
    # key-only table: the guard is a no-op by construction
    key_only = T.StructType([T.StructField("s", T.LongType())])
    ks = spark.createDataFrame([(7,)], key_only)
    store.merge_keyed("shingles", ks, keys=["s"], schema=key_only,
                      immutable_payload=True)
    store.merge_keyed("shingles", ks, keys=["s"], schema=key_only,
                      immutable_payload=True)
    assert store.read("shingles", key_only).count() == 1
