"""METS/MODS metadata extraction (SURVEY.md §2.3 X6, X10).

The reference XPath-extracts three reporting attributes with bound
namespace prefixes (MetsProcessor.java:67-69,81-85,221-251):

  mandator          //mets:metsHdr/mets:agent[@ROLE='EDITOR']/mets:name
  documentType      //mets:structMap[@TYPE='LOGICAL']/mets:div/@TYPE
  distributionDate  //mods:originInfo[@eventType='distribution']/mods:dateIssued

Namespace awareness is mandatory: fixtures bind the MODS namespace to
varying prefixes (``v3`` in qucosa13-mets.xml), so Spark's prefix-literal
``xpath_*`` functions cannot match reliably. Extraction therefore runs over
stdlib ElementTree, one parse per document (``_extract_one``). The ETL loop
calls it inside its fetch pass (sources/mets.fetch_mets_documents), so a
body is parsed where it is fetched and never shipped back to the JVM. The
Arrow-batched pandas UDF here serves only ``extract_mets_metadata``, for
callers that already hold an XML column.

X10 (local-id extraction oai:example.org:qucosa:123 -> qucosa:123,
MetsProcessor.java:285-287) stays JVM-side as regexp_extract.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

METS_NS = "http://www.loc.gov/METS/"
MODS_NS = "http://www.loc.gov/mods/v3"

_EXTRACT_SCHEMA = T.StructType([
    T.StructField("mandator", T.StringType()),
    T.StructField("document_type", T.StringType()),
    T.StructField("distribution_date_raw", T.StringType()),
])


def _extract_one(xml: str | None) -> tuple[str | None, str | None, str | None]:
    if not xml:
        return (None, None, None)
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return (None, None, None)
    mandator = None
    el = root.find(
        f".//{{{METS_NS}}}metsHdr/{{{METS_NS}}}agent[@ROLE='EDITOR']/{{{METS_NS}}}name"
    )
    if el is not None and el.text:
        mandator = el.text.strip() or None
    document_type = None
    div = root.find(f".//{{{METS_NS}}}structMap[@TYPE='LOGICAL']/{{{METS_NS}}}div")
    if div is not None:
        document_type = (div.get("TYPE") or "").strip() or None
    date_raw = None
    el = root.find(
        f".//{{{MODS_NS}}}originInfo[@eventType='distribution']/{{{MODS_NS}}}dateIssued"
    )
    if el is not None and el.text:
        date_raw = el.text.strip() or None
    return (mandator, document_type, date_raw)


@F.pandas_udf(_EXTRACT_SCHEMA)
def _extract_mets_fields(xmls: pd.Series) -> pd.DataFrame:
    rows = [_extract_one(x) for x in xmls]
    return pd.DataFrame(rows, columns=["mandator", "document_type",
                                       "distribution_date_raw"])


def extract_mets_metadata(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Add mandator / document_type / distribution_date_raw columns
    extracted from the METS XML column. Validation (reject blank
    mandator/document_type or unparsable date — F4) is a separate step:
    filters.validate_reporting_documents."""
    return (
        df.withColumn("__m", _extract_mets_fields(F.col(xml_col)))
        .withColumn("mandator", F.col("__m.mandator"))
        .withColumn("document_type", F.col("__m.document_type"))
        .withColumn("distribution_date_raw", F.col("__m.distribution_date_raw"))
        .drop("__m")
    )


def local_identifier(col: Column | str) -> Column:
    """X10: strip the OAI prefix — 'oai:example.org:qucosa:123' ->
    'qucosa:123' (MetsProcessor.java:285-287: substring after the host part)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^oai:[^:]+:(.+)$", 1)
