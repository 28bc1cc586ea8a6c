"""End-to-end slice (SURVEY.md §7): OAI page -> parse -> filter -> merge ->
checkpoint -> METS enrich -> reporting_documents, with the golden tuples
from the reference's test expectations."""

import glob
from datetime import datetime

from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.sources.mets import (
    REPORTING_DOCUMENTS_TABLE,
    enrich_once,
    fixture_mets_fetcher,
)
from qucosa_fcrepo_reportingdb_spark.sources.oai import (
    OAI_HEADER_TABLE,
    OAI_RUN_RESULT_TABLE,
    OaiHarvestSource,
    fixture_fetcher,
)
from qucosa_fcrepo_reportingdb_spark.streaming.state import HarvestState
from qucosa_fcrepo_reportingdb_spark.tables import local_frame
from tests import fixtures_oai as fx


def test_harvest_once_populates_queue_and_checkpoint(spark, store):
    src = OaiHarvestSource(spark, store, fixture_fetcher([fx.LIST_IDENTIFIERS]))
    state = src.harvest_once()
    assert state is not None and state.run_id == 1
    headers = store.read(OAI_HEADER_TABLE)
    assert headers.count() == 2
    # flagship mini-query from SURVEY §7: counts by deleted status
    counts = {r.status_is_deleted: r.n for r in
              headers.groupBy("status_is_deleted").agg(F.count("*").alias("n")).collect()}
    assert counts == {False: 1, True: 1}
    cp = store.read(OAI_RUN_RESULT_TABLE).collect()
    assert len(cp) == 1 and cp[0].run_id == 1


def test_harvest_pagination_token_flow(spark, store):
    src = OaiHarvestSource(
        spark, store, fixture_fetcher([fx.WITH_TOKEN, fx.WITH_EMPTY_TOKEN]))
    pages = src.harvest_available()
    assert pages == 2
    cps = {r.run_id: r for r in store.read(OAI_RUN_RESULT_TABLE).collect()}
    assert cps[1].resumption_token == "111111111111111"
    assert cps[2].resumption_token == ""
    # completed sequence: watermark = start of final run
    assert cps[2].next_from_timestamp == cps[2].timestamp_of_run
    assert store.read(OAI_HEADER_TABLE).count() == 2


def test_harvest_failure_writes_no_checkpoint(spark, store):
    src = OaiHarvestSource(spark, store, fixture_fetcher([]))  # fetch -> None
    assert src.harvest_once() is None
    assert not store.exists(OAI_RUN_RESULT_TABLE)


def test_harvest_error_page_keeps_headers_empty(spark, store):
    src = OaiHarvestSource(spark, store, fixture_fetcher([fx.ERROR_NO_RECORDS]))
    state = src.harvest_once()
    assert state is not None
    assert store.read(OAI_HEADER_TABLE).count() == 0
    # noRecordsMatch advances the watermark (T3)
    assert state.next_from_timestamp == state.timestamp_of_run


def test_enrich_once_golden_tuples(spark, store):
    # golden expectations from MetsProcessorTest.java:91-132,218-306:
    #   qucosa:13    -> (SLUB, issue, 2008-08-04)
    #   qucosa:31790 -> (slub, article, 2016-10-10T11:27:33+0200) no-colon offset
    #   qucosa:31789 -> missing metsHdr + div/@TYPE -> rejected but consumed
    src = OaiHarvestSource(spark, store, fixture_fetcher([fx.LIST_IDENTIFIERS]))
    mets_docs = {
        "qucosa:13": fx.mets_document("SLUB", "issue", "2008-08-04"),
        "qucosa:31790": fx.mets_document("slub", "article",
                                         "2016-10-10T11:27:33+0200",
                                         mods_prefix="mods"),
        "qucosa:31789": fx.mets_document(None, None, "2010-01-01"),
    }
    d = datetime(2015, 12, 17, 16, 3, 17)
    headers = spark.createDataFrame(
        [(f"oai:example.org:{k}", d, [], False) for k in mets_docs],
        schemas.OAI_HEADER_SCHEMA)
    store.overwrite(OAI_HEADER_TABLE, headers)

    stats = enrich_once(spark, store, fixture_mets_fetcher(mets_docs))
    assert stats == {"processed": 3, "persisted": 2, "rejected": 1}

    docs = {r.record_identifier: r for r in
            store.read(REPORTING_DOCUMENTS_TABLE).collect()}
    assert set(docs) == {"oai:example.org:qucosa:13",
                         "oai:example.org:qucosa:31790"}
    d13 = docs["oai:example.org:qucosa:13"]
    assert (d13.mandator, d13.document_type) == ("SLUB", "issue")
    assert d13.distribution_date == datetime(2008, 8, 4)
    assert d13.header_last_modified == d
    d31790 = docs["oai:example.org:qucosa:31790"]
    assert (d31790.mandator, d31790.document_type) == ("slub", "article")
    # +0200 no-colon offset -> 09:27:33 UTC (X8 regression)
    assert d31790.distribution_date == datetime(2016, 10, 10, 9, 27, 33)

    # T4: queue fully consumed, including the rejected record
    assert store.read(OAI_HEADER_TABLE).count() == 0


def test_enrich_upsert_updates_existing_document(spark, store):
    d_old = datetime(2015, 1, 1)
    d_new = datetime(2016, 1, 1)
    store.overwrite(REPORTING_DOCUMENTS_TABLE, spark.createDataFrame(
        [("oai:example.org:qucosa:13", "OLD", "article", d_old, d_old)],
        schemas.REPORTING_DOCUMENTS_SCHEMA))
    store.overwrite(OAI_HEADER_TABLE, spark.createDataFrame(
        [("oai:example.org:qucosa:13", d_new, [], False)],
        schemas.OAI_HEADER_SCHEMA))
    docs = {"qucosa:13": fx.mets_document("SLUB", "issue", "2008-08-04")}
    enrich_once(spark, store, fixture_mets_fetcher(docs))
    rows = store.read(REPORTING_DOCUMENTS_TABLE).collect()
    assert len(rows) == 1
    assert (rows[0].mandator, rows[0].document_type) == ("SLUB", "issue")
    assert rows[0].header_last_modified == d_new


def test_harvest_unparsable_response_is_failed_run(spark, store):
    # T8: garbage body -> no checkpoint written, no watermark movement
    src = OaiHarvestSource(spark, store, fixture_fetcher(["<junk>not oai</junk>"]))
    assert src.harvest_once() is None
    assert not store.exists(OAI_RUN_RESULT_TABLE)


def test_rejected_documents_are_quarantined(spark, store):
    from qucosa_fcrepo_reportingdb_spark.sources.mets import QUARANTINE_TABLE
    mets_docs = {"qucosa:31789": fx.mets_document(None, None, "2010-01-01")}
    d = datetime(2015, 12, 17, 16, 3, 17)
    store.overwrite(OAI_HEADER_TABLE, spark.createDataFrame(
        [("oai:example.org:qucosa:31789", d, [], False)],
        schemas.OAI_HEADER_SCHEMA))
    stats = enrich_once(spark, store, fixture_mets_fetcher(mets_docs))
    assert stats["rejected"] == 1
    q = store.read(QUARANTINE_TABLE).collect()
    assert len(q) == 1
    assert q[0].record_identifier == "oai:example.org:qucosa:31789"
    assert q[0].mandator is None and q[0].document_type is None
    assert q[0].distribution_date_raw == "2010-01-01"


def test_enrich_once_fetches_each_record_once(spark, store):
    """T5 politeness: one METS fetch per processed record, rejected ones
    included, counted on the executors where the fetch runs. Extraction
    happens inside the fetch pass, so this also pins one parse per
    record: a consumer re-running the pass would fetch again."""
    docs = {
        "qucosa:1": fx.mets_document("SLUB", "issue", "2008-08-04"),
        "qucosa:2": fx.mets_document("slub", "article", "2016-10-10"),
        "qucosa:3": fx.mets_document(None, None, "2010-01-01"),
        "qucosa:4": "<mets:mets>not well-formed",
        # qucosa:5 has no body: the fetch returns None
    }
    calls = spark.sparkContext.accumulator(0)
    inner = fixture_mets_fetcher(docs)

    def counting_fetch(record_identifier):
        calls.add(1)
        return inner(record_identifier)

    d = datetime(2015, 12, 17, 16, 3, 17)
    store.overwrite(OAI_HEADER_TABLE, spark.createDataFrame(
        [(f"oai:example.org:qucosa:{n}", d, [], False) for n in range(1, 6)],
        schemas.OAI_HEADER_SCHEMA))

    stats = enrich_once(spark, store, counting_fetch)
    assert stats == {"processed": 5, "persisted": 2, "rejected": 3}
    assert calls.value == stats["processed"]
    assert store.read(OAI_HEADER_TABLE).count() == 0


def test_checkpoint_round_trips_exactly(spark, store, tmp_path):
    """store_state -> load_state returns an equal HarvestState, including
    the X4 three-valued token ('' is not NULL) and microseconds; each
    checkpoint append adds exactly one parquet file."""
    src = OaiHarvestSource(spark, store, fixture_fetcher([]))
    t = datetime(2015, 12, 17, 16, 3, 17)
    states = [
        HarvestState(1, t, t, None, None, t),
        HarvestState(2, t, t, "", None, t),
        HarvestState(3, datetime(2016, 1, 2, 3, 4, 5, 678901),
                     datetime(2016, 1, 2, 3, 4, 6, 1), "tok-3",
                     datetime(2016, 1, 3, 0, 0, 0, 999999),
                     datetime(2016, 1, 2, 3, 4, 5, 678901)),
    ]
    for state in states:
        src.store_state(state)
        assert src.load_state() == state
    # one file per checkpoint, plus the empty one that created the table
    assert store.file_count(OAI_RUN_RESULT_TABLE) == len(states) + 1

    for schema in (schemas.OAI_HEADER_SCHEMA, schemas.OAI_RUN_RESULT_SCHEMA):
        frame = local_frame(spark, schema)
        assert frame.schema == schema
        out = str(tmp_path / f"empty-{len(schema.fields)}")
        frame.write.parquet(out)
        assert len(glob.glob(f"{out}/*.parquet")) == 1


def test_headers_compacted_before_checkpoint_stored(spark, store, monkeypatch):
    """Commit ordering on sequence completion: headers must be merged
    into oai_header BEFORE the checkpoint is stored — a crash between
    the two leaves an unadvanced checkpoint with headers durably merged,
    never an advanced checkpoint whose headers sit only in staging."""
    src = OaiHarvestSource(spark, store, fixture_fetcher([fx.LIST_IDENTIFIERS]))

    boom = RuntimeError("crash before checkpoint")

    def failing_store_state(state):
        raise boom

    monkeypatch.setattr(src, "store_state", failing_store_state)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        src.harvest_once()
    # headers were compacted into the CDC table despite the crash...
    assert store.read(OAI_HEADER_TABLE).count() == 2
    # ...and the checkpoint did NOT advance (no run recorded)
    assert not store.exists(OAI_RUN_RESULT_TABLE) \
        or store.read(OAI_RUN_RESULT_TABLE).count() == 0


def test_many_page_harvest_keeps_file_counts_bounded(spark, tmp_path):
    """Round-5 finding #3: the append-heavy paths (page staging,
    checkpoint log) accumulate one file set per append. With the store's
    default-on auto-compaction the pattern self-heals: a 12-page harvest
    leaves O(threshold) parquet files per table, and every header/
    checkpoint row survives the rewrites."""
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore

    n_pages = 12
    pages = []
    for p in range(n_pages):
        token = (f'<resumptionToken cursor="{p}">tok{p + 1}</resumptionToken>'
                 if p < n_pages - 1 else "<resumptionToken/>")
        pages.append(
            f'<?xml version="1.0" encoding="UTF-8"?><OAI-PMH {fx.OAI_NS}>'
            f"<responseDate>2015-02-01T00:00:{p:02d}Z</responseDate>"
            f'<request verb="ListIdentifiers">x</request><ListIdentifiers>'
            f"<header><identifier>oai:example.org:qucosa:{1000 + p}"
            f"</identifier><datestamp>2015-01-01T00:00:00Z</datestamp>"
            f"</header>{token}</ListIdentifiers></OAI-PMH>")
    store = TableStore(spark, str(tmp_path / "bounded"), auto_compact_files=3)
    src = OaiHarvestSource(spark, store, fixture_fetcher(pages))
    assert src.harvest_available(max_pages=n_pages + 1) == n_pages

    from qucosa_fcrepo_reportingdb_spark.sources.oai import (
        OAI_HEADER_STAGING_TABLE,
    )
    for table in (OAI_RUN_RESULT_TABLE, OAI_HEADER_STAGING_TABLE):
        assert store.file_count(table) <= 3, table
    assert store.read(OAI_HEADER_TABLE).count() == n_pages
    assert store.read(OAI_RUN_RESULT_TABLE).count() == n_pages
    # checkpoint semantics survived the compactions: max run_id wins
    last = store.read(OAI_RUN_RESULT_TABLE) \
        .orderBy(F.col("run_id").desc()).first()
    assert last.run_id == n_pages and last.resumption_token == ""


def test_crash_between_header_merge_and_checkpoint_converges(spark,
                                                             tmp_path):
    """The T6/T8 commit ordering under its worst crash point: headers
    merged into oai_header but the process dies BEFORE the checkpoint is
    stored. The re-run must re-fetch the same page (unadvanced
    checkpoint), re-merge idempotently (no duplicate headers), and then
    advance — never an advanced checkpoint with unmerged headers, never
    duplicated rows from the replay."""
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore

    store = TableStore(spark, str(tmp_path / "crash"))
    fetch_log = []

    def logging_fetcher(params):
        fetch_log.append(dict(params))
        return fx.WITH_EMPTY_TOKEN

    src = OaiHarvestSource(spark, store, logging_fetcher)

    real_store_state = src.store_state
    calls = {"n": 0}

    def crashing_store_state(state):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before checkpoint")
        return real_store_state(state)

    src.store_state = crashing_store_state
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="simulated crash"):
        src.harvest_once()
    # crash state: headers merged, checkpoint absent
    assert store.read(OAI_HEADER_TABLE).count() == 1
    assert not store.exists(OAI_RUN_RESULT_TABLE)

    # recovery run: same request repeats, merge is idempotent, checkpoint
    # advances exactly once
    state = src.harvest_once()
    assert state is not None
    assert store.read(OAI_HEADER_TABLE).count() == 1          # no dupes
    cps = store.read(OAI_RUN_RESULT_TABLE).collect()
    assert len(cps) == 1 and cps[0].run_id == 1
    # both fetches asked for the same unadvanced window
    assert fetch_log[0] == fetch_log[1]


def test_crash_between_document_merge_and_queue_delete_converges(
        spark, tmp_path):
    """The enrich side's worst crash point: reporting documents merged
    but the queue delete dies. At-least-once recovery: the headers are
    still queued, the re-run re-fetches and re-merges idempotently (no
    duplicate reporting rows), then drains the queue."""
    from qucosa_fcrepo_reportingdb_spark.sources.mets import (
        fixture_mets_fetcher,
    )
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore

    store = TableStore(spark, str(tmp_path / "crash2"))
    OaiHarvestSource(spark, store,
                     fixture_fetcher([fx.LIST_IDENTIFIERS])).harvest_once()
    n_queued = store.read(OAI_HEADER_TABLE).count()
    assert n_queued == 2
    mets = {"qucosa:1044": fx.mets_document("SLUB", "issue", "2008-08-04"),
            "qucosa:1234": fx.mets_document("slub", "article",
                                            "2016-10-10")}
    fetch = fixture_mets_fetcher(mets)

    real_delete = store.delete_keyed
    calls = {"n": 0}

    def crashing_delete(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before queue delete")
        return real_delete(*a, **kw)

    store.delete_keyed = crashing_delete
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="simulated crash"):
        enrich_once(spark, store, fetch)
    # crash state: documents persisted, queue NOT consumed
    assert store.read(REPORTING_DOCUMENTS_TABLE).count() == 2
    assert store.read(OAI_HEADER_TABLE).count() == 2

    res = enrich_once(spark, store, fetch)        # recovery run
    assert res["processed"] == 2
    assert store.read(REPORTING_DOCUMENTS_TABLE).count() == 2   # no dupes
    assert store.read(OAI_HEADER_TABLE).count() == 0            # drained
