"""X1-X5 OAI page parsing + F1 filter tests against golden tuples
(reference: OaiHarvesterTest.java:91-155)."""

from datetime import datetime

from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions.filters import qucosa_document_filter
from qucosa_fcrepo_reportingdb_spark.functions.mets_xml import (
    extract_mets_metadata,
)
from qucosa_fcrepo_reportingdb_spark.functions.oai_xml import (
    explode_headers,
    parse_oai_pages,
)
from tests import fixtures_oai as fx


def parse(spark, xml):
    return parse_oai_pages(spark.createDataFrame([(xml,)], "xml string"))


def test_x1_headers_extracted(spark):
    rows = explode_headers(parse(spark, fx.LIST_IDENTIFIERS)) \
        .orderBy("record_identifier").collect()
    assert [(r.record_identifier, r.datestamp, r.set_spec, r.status_is_deleted)
            for r in rows] == [
        ("oai:example.org:qucosa:1044", datetime(2014, 5, 6, 17, 33, 25), [], False),
        ("oai:example.org:qucosa:1234", datetime(2016, 7, 12, 17, 33, 25),
         ["test:11", "test:22"], True),
    ]


def test_x3_response_date(spark):
    row = parse(spark, fx.LIST_IDENTIFIERS).collect()[0]
    assert row.response_date == datetime(2014, 6, 8, 11, 43, 0)
    assert row.request_verb == "ListIdentifiers"


def test_x4_token_three_valued(spark):
    absent = parse(spark, fx.LIST_IDENTIFIERS).collect()[0]
    assert absent.resumption_token is None
    live = parse(spark, fx.WITH_TOKEN).collect()[0]
    assert live.resumption_token == "111111111111111"  # trimmed
    empty = parse(spark, fx.WITH_EMPTY_TOKEN).collect()[0]
    assert empty.resumption_token == ""


def test_x5_token_expiration(spark):
    live = parse(spark, fx.WITH_TOKEN).collect()[0]
    assert live.resumption_token_expiration == datetime(2014, 6, 9, 18, 34, 15)


def test_x2_errors_map(spark):
    row = parse(spark, fx.ERROR_NO_RECORDS).collect()[0]
    assert dict(row.errors) == {
        "noRecordsMatch": "No records match the given criteria."}
    assert row.headers == []


def test_from_xml_engine_quirk_surface(spark):
    """Pin the from_xml behaviors the OAI schema RELIES on, so a Spark
    upgrade that changes any of them fails HERE (named for the quirk)
    instead of surfacing as a mysterious golden-tuple mismatch:
    (1) attributes arrive under an underscore prefix (_status, _code),
    (2) an empty element parsed as struct is non-NULL with NULL _VALUE
        (the 3-valued token's middle state),
    (3) an ABSENT optional element parses to a NULL struct,
    (4) element text keeps leading/trailing whitespace (we trim),
    (5) a repeated element fills an ArrayType field in document order."""
    from pyspark.sql import functions as F
    from qucosa_fcrepo_reportingdb_spark.functions.oai_xml import (
        _RAW_PAGE_SCHEMA)

    xml = """<?xml version="1.0"?>
    <OAI-PMH>
      <responseDate>2014-06-08T11:43:00Z</responseDate>
      <request verb="ListIdentifiers">http://x</request>
      <ListIdentifiers>
        <header status="deleted">
          <identifier>oai:x:qucosa:1</identifier>
          <datestamp>2014-05-06T17:33:25Z</datestamp>
          <setSpec>s1</setSpec>
          <setSpec>s2</setSpec>
        </header>
        <resumptionToken/>
      </ListIdentifiers>
    </OAI-PMH>"""
    row = (spark.createDataFrame([(xml,)], "xml string")
           .select(F.from_xml("xml", _RAW_PAGE_SCHEMA).alias("p"))
           .collect()[0].p)
    h = row.ListIdentifiers.header[0]
    assert h._status == "deleted"                       # (1)
    assert h.setSpec == ["s1", "s2"]                    # (5)
    tok = row.ListIdentifiers.resumptionToken
    assert tok is not None and tok._VALUE is None       # (2)
    assert row.error is None                            # (3)

    xml_ws = xml.replace("<resumptionToken/>",
                         "<resumptionToken>  tok123\n</resumptionToken>")
    row2 = (spark.createDataFrame([(xml_ws,)], "xml string")
            .select(F.from_xml("xml", _RAW_PAGE_SCHEMA).alias("p"))
            .collect()[0].p)
    raw = row2.ListIdentifiers.resumptionToken._VALUE
    assert raw is not None and raw.strip() == "tok123"  # (4)


def test_f1_regex_filter_keeps_6_of_13(spark):
    headers = explode_headers(parse(spark, fx.filter_corpus()))
    assert headers.count() == 13
    kept = qucosa_document_filter(headers)
    assert kept.count() == 6
    assert all("qucosa:" in r.record_identifier for r in kept.collect())


def test_filter_is_pushed_into_scan(spark):
    # F1 must stay a Catalyst Filter (rlike), not a Python UDF barrier
    headers = explode_headers(parse(spark, fx.filter_corpus()))
    plan = qucosa_document_filter(headers)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "RLIKE" in plan or "rlike" in plan.lower()


def test_errors_map_tolerates_duplicate_and_missing_codes(spark):
    """The OAI spec allows repeated error codes and (in the wild) code-
    less error elements; the errors map keeps the first message per code
    and files code-less ones under 'unknown' instead of crashing the
    harvest (T8: a parseable error page is a FAILED RUN, not an
    exception)."""
    from qucosa_fcrepo_reportingdb_spark.functions.oai_xml import (
        parse_oai_pages,
    )

    xml = """<?xml version='1.0'?>
<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
 <responseDate>2014-06-08T11:43:00Z</responseDate>
 <error code="badArgument">bad from</error>
 <error code="badArgument">bad until</error>
 <error>no code at all</error>
</OAI-PMH>"""
    row = parse_oai_pages(
        spark.createDataFrame([(xml,)], "xml string")).collect()[0]
    assert dict(row.errors) == {"badArgument": "bad from",
                                "unknown": "no code at all"}


def test_parse_xsd_datetime_fractional_seconds_all_offsets(spark):
    """Fractions must parse in every offset shape the reference's
    DatatypeConverter/Joda parsers accept: naive, colon offset, Z,
    no-colon offset (X8 + fraction), and up to 9 digits."""
    from datetime import datetime

    from qucosa_fcrepo_reportingdb_spark.functions.timestamps import (
        parse_xsd_datetime,
    )

    cases = {
        "2016-07-19T11:11:40.740": datetime(2016, 7, 19, 11, 11, 40, 740000),
        "2016-05-24T12:33:56.123+0200": datetime(2016, 5, 24, 10, 33, 56,
                                                 123000),
        "2016-07-19T11:11:40.123456Z": datetime(2016, 7, 19, 11, 11, 40,
                                                123456),
        "2016-07-19T11:11:40.740+02:00": datetime(2016, 7, 19, 9, 11, 40,
                                                  740000),
    }
    got = {r.s: r.t for r in
           spark.createDataFrame([(k,) for k in cases], "s string")
           .select("s", parse_xsd_datetime("s").alias("t")).collect()}
    assert got == cases


def test_x9_spark_formatter_matches_request_path(spark):
    """The Spark-side formatter and the production request path
    (streaming/state.build_request_params) must render identical from=
    strings in both FC3 modes — they now share the pattern constants."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.functions.timestamps import (
        format_oai_request_timestamp,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.state import (
        HarvestState,
        build_request_params,
    )

    dt = datetime(2016, 5, 24, 12, 33, 56)
    for fc3 in (False, True):
        spark_side = (spark.createDataFrame([(dt,)], "ts timestamp")
                      .select(format_oai_request_timestamp(F.col("ts"), fc3)
                              .alias("s")).collect()[0].s)
        state = HarvestState(run_id=1, timestamp_of_run=dt,
                             response_date=dt, next_from_timestamp=dt)
        assert build_request_params(state, fc3)["from"] == spark_side


def test_mets_extraction_ignores_foreign_namespace_collisions(spark):
    """The reference's XPath binds mets:/mods:
    prefixes to their namespace URIs (MetsProcessor.java:67-69,81-85),
    so an element with the RIGHT local name in the WRONG namespace must
    never extract. Our ElementTree finds use {uri}tag qualification —
    this pins that an adversarial document full of colliding local names
    in a foreign namespace (a) extracts nothing when the real elements
    are absent, and (b) never shadows the real elements when both are
    present."""
    evil = (
        '<?xml version="1.0"?>'
        '<mets xmlns="http://www.loc.gov/METS/" xmlns:x="http://evil.example/ns">'
        '<x:metsHdr><x:agent ROLE="EDITOR"><x:name>EVIL</x:name></x:agent>'
        "</x:metsHdr>"
        '<x:structMap TYPE="LOGICAL"><x:div TYPE="evil_type"/></x:structMap>'
        '<x:mods><x:originInfo eventType="distribution">'
        "<x:dateIssued>1999-01-01</x:dateIssued></x:originInfo></x:mods>"
        "</mets>"
    )
    df = spark.createDataFrame([(evil,)], "xml string")
    row = extract_mets_metadata(df, "xml").collect()[0]
    assert (row.mandator, row.document_type,
            row.distribution_date_raw) == (None, None, None)

    # both present: the namespace-bound elements win, foreign ones are
    # invisible even when they come FIRST in document order
    both = (
        '<?xml version="1.0"?>'
        '<mets xmlns:mets="http://www.loc.gov/METS/" '
        'xmlns:m="http://www.loc.gov/mods/v3" '
        'xmlns:x="http://evil.example/ns">'
        '<x:structMap TYPE="LOGICAL"><x:div TYPE="evil_type"/></x:structMap>'
        '<mets:metsHdr><mets:agent ROLE="EDITOR">'
        "<mets:name>SLUB</mets:name></mets:agent></mets:metsHdr>"
        '<mets:structMap TYPE="LOGICAL"><mets:div TYPE="issue"/>'
        "</mets:structMap>"
        '<x:originInfo eventType="distribution">'
        "<x:dateIssued>1999-01-01</x:dateIssued></x:originInfo>"
        '<m:mods><m:originInfo eventType="distribution">'
        "<m:dateIssued>2008-08-04</m:dateIssued></m:originInfo></m:mods>"
        "</mets>"
    )
    df2 = spark.createDataFrame([(both,)], "xml string")
    row2 = extract_mets_metadata(df2, "xml").collect()[0]
    assert (row2.mandator, row2.document_type,
            row2.distribution_date_raw) == ("SLUB", "issue", "2008-08-04")
