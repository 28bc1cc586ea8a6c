"""S5/S6 merge, S8 conditional delete, S9 retention, A2/A4 and keyed
change-feed tests (reference: PostgrePersistenceServiceTestIT.java)."""

from datetime import datetime

from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.operators.maintenance import (
    conditional_delete,
    keyed_diff,
    last_wins_dedupe,
    latest_checkpoint,
    merge_upsert,
    retain_recent,
    surviving_headers,
)

D1 = datetime(2016, 7, 10, 10, 10, 40)
D2 = datetime(2016, 7, 11, 9, 0, 0)


def headers_df(spark, rows):
    return spark.createDataFrame(rows, schemas.OAI_HEADER_SCHEMA)


def test_merge_inserts_and_updates(spark):
    current = headers_df(spark, [("a", D1, ["s1"], False), ("b", D1, None, False)])
    changes = headers_df(spark, [("b", D2, ["x"], True), ("c", D2, [], False)])
    merged = merge_upsert(current, changes, keys=["record_identifier"],
                          order_by=["datestamp"])
    rows = {r.record_identifier: r for r in merged.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["b"].datestamp == D2 and rows["b"].status_is_deleted is True
    assert rows["a"].set_spec == ["s1"]


def test_merge_is_idempotent(spark):
    current = headers_df(spark, [("a", D1, None, False)])
    changes = headers_df(spark, [("a", D2, None, True), ("b", D2, None, False)])
    once = merge_upsert(current, changes, keys=["record_identifier"],
                        order_by=["datestamp"])
    twice = merge_upsert(once, changes, keys=["record_identifier"],
                         order_by=["datestamp"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_a4_last_wins_within_batch(spark):
    # same key twice in one batch: later datestamp wins (later page wins)
    changes = headers_df(spark, [("a", D1, ["old"], False), ("a", D2, ["new"], True)])
    deduped = last_wins_dedupe(changes, ["record_identifier"], ["datestamp"])
    rows = deduped.collect()
    assert len(rows) == 1 and rows[0].set_spec == ["new"]


def test_s8_conditional_delete_optimistic_concurrency(spark):
    cols = ["record_identifier", "datestamp", "status_is_deleted"]
    current = headers_df(spark, [
        ("a", D1, None, False),   # unchanged -> deleted
        ("b", D2, None, False),   # modified since read -> survives
        ("c", D1, None, True),    # not processed -> survives
    ])
    processed = headers_df(spark, [
        ("a", D1, None, False),
        ("b", D1, None, False),   # stale datestamp: source updated it to D2
    ])
    after = conditional_delete(current, processed.select(*cols), cols)
    assert {r.record_identifier for r in after.collect()} == {"b", "c"}
    survivors = surviving_headers(processed, after, ["record_identifier"])
    assert {r.record_identifier for r in survivors.collect()} == {"b"}


def test_s8_null_safe_equality(spark):
    # NULL set_spec/status must compare equal to NULL, not drop the match
    cols = ["record_identifier", "datestamp", "status_is_deleted"]
    current = headers_df(spark, [("a", D1, None, None)])
    processed = headers_df(spark, [("a", D1, None, None)])
    after = conditional_delete(current, processed.select(*cols), cols)
    assert after.count() == 0


def checkpoints_df(spark, rows):
    return spark.createDataFrame(rows, schemas.OAI_RUN_RESULT_SCHEMA)


def test_a2_latest_checkpoint_by_id_not_timestamp(spark):
    # out-of-order timestamps: max run_id wins
    # (PostgrePersistenceServiceTestIT.java:195-221)
    cps = checkpoints_df(spark, [
        (1, D2, D2, None, None, None),   # newer timestamp, older id
        (2, D1, D1, "tok", None, D1),    # newest id
    ])
    row = latest_checkpoint(cps).collect()[0]
    assert row.run_id == 2 and row.resumption_token == "tok"


def test_s9_retention_keeps_newest_even_if_old(spark):
    old = datetime(2016, 1, 1)
    cps = checkpoints_df(spark, [
        (1, old, old, None, None, None),
        (2, old, old, None, None, None),  # newest by id, but old
    ])
    kept = retain_recent(cps, cutoff=datetime(2016, 6, 1))
    rows = kept.collect()
    assert len(rows) == 1 and rows[0].run_id == 2


def test_s9_retention_prunes_only_older_than_cutoff(spark):
    cps = checkpoints_df(spark, [
        (1, datetime(2016, 1, 1), D1, None, None, None),
        (2, datetime(2016, 7, 1), D1, None, None, None),
        (3, datetime(2016, 8, 1), D1, None, None, None),
    ])
    kept = retain_recent(cps, cutoff=datetime(2016, 6, 1))
    assert {r.run_id for r in kept.collect()} == {2, 3}


def test_keyed_diff_classifies_ops(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k long, v string")
    rows = {r.k: r for r in keyed_diff(old, new, ["k"]).collect()}
    # unchanged key 1 absent; 2 updated; 3 deleted; 4 inserted
    assert {k: r.op for k, r in rows.items()} \
        == {2: "update", 3: "delete", 4: "insert"}
    assert (rows[2].before.v, rows[2].after.v) == ("b", "B")


def test_keyed_diff_null_field_semantics(spark):
    # NULL -> NULL is unchanged; NULL -> value is an update (3VL escape)
    old = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
    new = spark.createDataFrame([(1, None), (2, "x")], "k long, v string")
    ops = {r.k: r.op for r in keyed_diff(old, new, ["k"]).collect()}
    assert ops == {2: "update"}
