"""Byte-level compatibility with the REFERENCE's own golden test fixtures
(read directly from the read-only reference checkout when present; skipped
elsewhere). Expected tuples come from the reference's test assertions
(OaiHarvesterTest.java:91-155, MetsProcessorTest.java:91-306)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions.filters import (
    qucosa_document_filter,
)
from qucosa_fcrepo_reportingdb_spark.functions.mets_xml import (
    extract_mets_metadata,
)
from qucosa_fcrepo_reportingdb_spark.functions.oai_xml import (
    explode_headers,
    parse_oai_pages,
)
from qucosa_fcrepo_reportingdb_spark.functions.timestamps import (
    parse_xsd_datetime,
)

REF = "/root/reference/src/test/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present")


def _read(path):
    with open(os.path.join(REF, path), encoding="utf-8") as fh:
        return fh.read()


def _parse(spark, xml):
    return parse_oai_pages(spark.createDataFrame([(xml,)], "xml string"))


def test_reference_list_identifiers_golden_tuples(spark):
    rows = explode_headers(_parse(spark, _read("oai/listIdentifiers.xml"))) \
        .orderBy("record_identifier").collect()
    assert [(r.record_identifier, r.datestamp, r.set_spec,
             r.status_is_deleted) for r in rows] == [
        ("oai:example.org:qucosa:1044",
         datetime(2014, 5, 6, 17, 33, 25), [], False),
        ("oai:example.org:qucosa:1234",
         datetime(2016, 7, 12, 17, 33, 25), ["test:11", "test:22"], True),
    ]


def test_reference_resumption_token_page(spark):
    row = _parse(spark, _read("oai/resumptionToken.xml")).collect()[0]
    assert row.resumption_token == "111111111111111"
    assert row.resumption_token_expiration == datetime(2014, 6, 9, 18, 34, 15)


def test_reference_empty_token_page(spark):
    row = _parse(spark, _read("oai/emptyResumptionToken.xml")).collect()[0]
    assert row.resumption_token == ""


def test_reference_error_pages(spark):
    nr = _parse(spark, _read("oai/errorNoRecordsMatch.xml")).collect()[0]
    assert list(nr.errors) == ["noRecordsMatch"]
    bt = _parse(spark, _read("oai/errorBadResumptionToken.xml")).collect()[0]
    assert list(bt.errors) == ["badResumptionToken"]
    multi = _parse(spark, _read("oai/multipleErrors.xml")).collect()[0]
    assert set(multi.errors) == {"badArgument", "badVerb",
                                 "cannotDisseminateFormat", "noSetHierarchy"}


def test_reference_filter_corpus_13_to_6(spark):
    headers = explode_headers(
        _parse(spark, _read("oai/ListIdentifiersToFilter.xml")))
    assert headers.count() == 13
    assert qucosa_document_filter(headers).count() == 6


@pytest.mark.parametrize("fixture,expected", [
    ("mets/qucosa13-mets.xml", ("SLUB", "issue", datetime(2008, 8, 4))),
    ("mets/qucosa22-mets.xml",
     ("TU Dresden", "issue", datetime(2011, 3, 31))),
    # no-colon offset +0200 -> 10:33:56 UTC (MetsProcessorTest.java:262-306)
    ("mets/qucosa7455-mets.xml",
     ("slub", "in_book", datetime(2016, 5, 24, 10, 33, 56))),
    ("mets/qucosa31790-mets.xml",
     ("slub", "article", datetime(2016, 10, 10, 9, 27, 33))),
])
def test_reference_mets_extraction(spark, fixture, expected):
    df = spark.createDataFrame([(_read(fixture),)], "xml string")
    row = (extract_mets_metadata(df, "xml")
           .withColumn("dd", parse_xsd_datetime(F.col("distribution_date_raw")))
           .collect()[0])
    assert (row.mandator, row.document_type, row.dd) == expected


def test_reference_incomplete_mets_rejected(spark):
    # qucosa31789 lacks metsHdr and div/@TYPE -> must extract nothing usable
    df = spark.createDataFrame([(_read("mets/qucosa31789-mets.xml"),)],
                               "xml string")
    row = extract_mets_metadata(df, "xml").collect()[0]
    assert row.mandator is None and row.document_type is None
