"""METS dissemination enrichment (SURVEY.md §2.1 S2, §2.5 T4/T5, §3.3).

The reference drains the OAIHeader queue in batches of 100, fetches one
METS document per record over HTTP (≥1 s apart), XPath-extracts three
fields, upserts them into ReportingDocuments, and conditionally deletes the
consumed headers (MetsProcessor.java:100-163).

Spark-native shape:
- the queue batch is a DataFrame (S4: limit(batch_size)),
- fetch and extraction are ONE ``mapInPandas`` pass — distributed across
  executors, each partition rate-limited locally so the aggregate request
  rate stays bounded (politeness budget / partitions). Each body is
  parsed by ElementTree (functions/mets_xml._extract_one) right after its
  fetch and dropped: the pass returns the header columns plus the three
  extracted fields, with no ``xml`` column,
- ``enrich_once`` persists that small frame once per batch; the counts,
  validation, both merges and the queue delete all read it, so the batch
  crosses the Python boundary exactly once,
- validation F4 splits valid/quarantine but the queue row is consumed
  either way (MetsProcessor.java:209-216),
- S6 merge + S8 optimistic-concurrency delete finish the batch. Failures
  leave headers in place — at-least-once, idempotent by keyed merge
  (MetsProcessor.java:148-157).

Fetchers are injectable; tests use a fixture dict keyed by local id, the
same seam the reference mocks (MetsProcessorTest.java).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.functions.filters import (
    validate_reporting_documents,
)
from qucosa_fcrepo_reportingdb_spark.functions.mets_xml import _extract_one
from qucosa_fcrepo_reportingdb_spark.functions.timestamps import parse_xsd_datetime
from qucosa_fcrepo_reportingdb_spark.sources.oai import (
    OAI_HEADER_TABLE,
    read_header_queue,
)
from qucosa_fcrepo_reportingdb_spark.tables import TableStore

REPORTING_DOCUMENTS_TABLE = "reporting_documents"
QUARANTINE_TABLE = "reporting_documents_quarantine"

QUARANTINE_SCHEMA = T.StructType([
    T.StructField("record_identifier", T.StringType(), False),
    T.StructField("mandator", T.StringType(), True),
    T.StructField("document_type", T.StringType(), True),
    T.StructField("distribution_date_raw", T.StringType(), True),
    T.StructField("header_last_modified", T.TimestampType(), True),
])

MetsFetcher = Callable[[str], "str | None"]


def fetch_mets_documents(headers: DataFrame, fetch: MetsFetcher,
                         min_wait_s: float = 0.0) -> DataFrame:
    """S2 + X6: per-record point lookup and extraction in one mapInPandas
    pass.

    ``min_wait_s`` is the per-partition politeness spacing (T5; the
    reference hardcodes 1 s at ReportingManager.java:85 — with P partitions
    the aggregate rate is P/min_wait_s, so size P to the budget).
    Each fetched body goes straight through ``_extract_one``; the result
    carries the header columns plus ``mandator``, ``document_type`` and
    ``distribution_date_raw`` and no ``xml`` column. A failed fetch or an
    unparsable body gives three NULLs -> the row is quarantined later but
    still consumed."""
    out_schema = (
        "record_identifier string, datestamp timestamp, "
        "set_spec array<string>, status_is_deleted boolean, "
        "mandator string, document_type string, distribution_date_raw string"
    )

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last = [0.0]
        for pdf in batches:
            fields = []
            for rid in pdf["record_identifier"]:
                if min_wait_s > 0:
                    elapsed = time.monotonic() - last[0]
                    if elapsed < min_wait_s:
                        time.sleep(min_wait_s - elapsed)
                    last[0] = time.monotonic()
                fields.append(_extract_one(fetch(rid)))
            yield pdf.join(pd.DataFrame(
                fields, index=pdf.index,
                columns=["mandator", "document_type", "distribution_date_raw"]))

    return headers.mapInPandas(per_partition, schema=out_schema)


def extract_and_validate(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """X7-X8 + F4 over the fused pass's output: parse the distribution
    date, split (valid, quarantined). Both sides keep the full header
    tuple so the caller can consume the queue rows."""
    return validate_reporting_documents(
        extracted
        .withColumn("distribution_date",
                    parse_xsd_datetime(F.col("distribution_date_raw")))
        .withColumn("header_last_modified", F.col("datestamp"))
    )


def enrich_once(spark: SparkSession, store: TableStore, fetch: MetsFetcher,
                batch_size: int = 100, min_wait_s: float = 0.0) -> dict[str, int]:
    """One enrichment microbatch (MetsProcessor.java:100-163):
    dequeue -> fetch -> extract -> validate -> S6 merge -> S8 conditional
    delete of ALL processed headers (valid or not). Returns counters.

    Deleted-status headers are processed like any other — the METS is
    fetched and, if it validates, upserted; no reporting row is removed.
    That mirrors the reference exactly (MetsProcessor.java:158-216 never
    consults statusIsDeleted), a documented quirk rather than an
    oversight here: deletion semantics belong to the reporting consumer,
    and inventing them would diverge from the system being rebuilt."""
    batch = read_header_queue(store, batch_size)

    # Persist the fetched-and-extracted batch: every HTTP point-lookup and
    # every parse must run exactly once even though the counters, both
    # merges and the delete each trigger an action. Politeness (T5) would
    # be violated by re-fetching.
    extracted = fetch_mets_documents(batch, fetch, min_wait_s).persist()
    try:
        n_processed = extracted.count()
        if n_processed == 0:
            return {"processed": 0, "persisted": 0, "rejected": 0}
        valid, rejected = extract_and_validate(extracted)

        documents = valid.select(
            F.col("record_identifier"),
            F.col("mandator"),
            F.col("document_type"),
            F.col("distribution_date"),
            F.col("header_last_modified"),
        )
        n_persisted = documents.count()
        store.merge_keyed(REPORTING_DOCUMENTS_TABLE, documents,
                          keys=["record_identifier"],
                          order_by=["header_last_modified"],
                          schema=schemas.REPORTING_DOCUMENTS_SCHEMA)

        # Quarantine instead of silent drop: the reference only logs
        # rejected documents (MetsProcessor.java:209-216); persisting them
        # keeps failures queryable (observability at scale). Keyed merge =
        # reprocessing a still-broken record doesn't duplicate it.
        if n_persisted < n_processed:
            quarantined = rejected.select(
                "record_identifier", "mandator", "document_type",
                "distribution_date_raw",
                F.col("datestamp").alias("header_last_modified"),
            )
            store.merge_keyed(QUARANTINE_TABLE, quarantined,
                              keys=["record_identifier"],
                              order_by=["header_last_modified"],
                              schema=QUARANTINE_SCHEMA)

        # S8: consume processed headers only if unchanged since read
        # (optimistic concurrency on the read tuple). The rejected rows are
        # consumed too (F4 contract). The compared tuple is EXACTLY the
        # reference's: (recordIdentifier, datestamp, statusIsDeleted) —
        # PostgrePersistenceService.java:351 deliberately omits setSpec,
        # so a set-only change does not force reprocessing; the S8
        # operator itself supports full tuples incl. the array column
        # (tests pin that), the pipeline just mirrors the reference.
        header_cols = ["record_identifier", "datestamp", "status_is_deleted"]
        processed = extracted.select(*header_cols)
        store.delete_keyed(OAI_HEADER_TABLE, processed, header_cols,
                           schema=schemas.OAI_HEADER_SCHEMA)
    finally:
        extracted.unpersist()

    return {
        "processed": n_processed,
        "persisted": n_persisted,
        "rejected": n_processed - n_persisted,
    }


def fixture_mets_fetcher(docs_by_local_id: dict[str, str]) -> MetsFetcher:
    """Test fetcher: record_identifier -> METS XML via the X10 local-id
    mapping (e.g. 'oai:example.org:qucosa:13' -> docs['qucosa:13'])."""
    def fetch(record_identifier: str) -> str | None:
        local = record_identifier.split(":", 2)[-1] if record_identifier else ""
        return docs_by_local_id.get(local)
    return fetch


def http_mets_fetcher(base_url: str, timeout_s: float = 30.0) -> MetsFetcher:
    """Production fetcher: GET {mets.url}?pid={local_id}, the reference's
    request shape (MetsProcessor.java:279-287 — the pid is the record
    identifier with the 'oai:<host>:' prefix stripped). Returns the body
    on 200, None on any failure — fetch_mets_documents turns None into a
    rejected-but-consumed row (F4). Per-request politeness spacing lives
    in fetch_mets_documents' partition loop (T5), not here: this runs ON
    EXECUTORS inside mapInPandas, one instance per partition."""
    import urllib.parse

    from qucosa_fcrepo_reportingdb_spark.sources.oai import http_get

    def fetch(record_identifier: str) -> str | None:
        local = (record_identifier.split(":", 2)[-1]
                 if record_identifier else "")
        return http_get(
            f"{base_url}?{urllib.parse.urlencode({'pid': local})}",
            timeout_s)

    return fetch
