"""Synthetic OAI-PMH / METS fixtures matching the documented response shapes
(FIXTURES.md §4-5; golden tuples from SURVEY.md §5). Written from the
protocol spec — not copied from the reference resources."""

OAI_NS = 'xmlns="http://www.openarchives.org/OAI/2.0/"'

# Shape of listIdentifiers.xml: two headers, one deleted with two setSpecs.
# Golden extraction (OaiHarvesterTest.java:102-114):
#   (qucosa:1044, 2014-05-06T17:33:25Z, [], false)
#   (qucosa:1234, 2016-07-12T17:33:25Z, [test:11, test:22], true)
LIST_IDENTIFIERS = f"""<?xml version="1.0" encoding="UTF-8"?>
<OAI-PMH {OAI_NS}>
  <responseDate>2014-06-08T11:43:00Z</responseDate>
  <request verb="ListIdentifiers" metadataPrefix="oai_dc">http://localhost:8080/fedora/oai</request>
  <ListIdentifiers>
    <header>
      <identifier>oai:example.org:qucosa:1044</identifier>
      <datestamp>2014-05-06T17:33:25Z</datestamp>
    </header>
    <header status="deleted">
      <identifier>oai:example.org:qucosa:1234</identifier>
      <datestamp>2016-07-12T17:33:25Z</datestamp>
      <setSpec>test:11</setSpec>
      <setSpec>test:22</setSpec>
    </header>
  </ListIdentifiers>
</OAI-PMH>
"""

# Page mid-pagination: live resumption token with expiration.
WITH_TOKEN = f"""<?xml version="1.0" encoding="UTF-8"?>
<OAI-PMH {OAI_NS}>
  <responseDate>2014-06-08T11:43:00Z</responseDate>
  <request verb="ListIdentifiers" metadataPrefix="oai_dc">http://localhost:8080/fedora/oai</request>
  <ListIdentifiers>
    <header>
      <identifier>oai:example.org:qucosa:1044</identifier>
      <datestamp>2014-05-06T17:33:25Z</datestamp>
    </header>
    <resumptionToken expirationDate="2014-06-09T18:34:15Z" completeListSize="1515" cursor="0">111111111111111
    </resumptionToken>
  </ListIdentifiers>
</OAI-PMH>
"""

# Final page of a paginated list: explicit empty token.
WITH_EMPTY_TOKEN = f"""<?xml version="1.0" encoding="UTF-8"?>
<OAI-PMH {OAI_NS}>
  <responseDate>2014-06-08T11:45:00Z</responseDate>
  <request verb="ListIdentifiers" metadataPrefix="oai_dc">http://localhost:8080/fedora/oai</request>
  <ListIdentifiers>
    <header>
      <identifier>oai:example.org:qucosa:2222</identifier>
      <datestamp>2014-05-07T08:00:00Z</datestamp>
    </header>
    <resumptionToken/>
  </ListIdentifiers>
</OAI-PMH>
"""

ERROR_NO_RECORDS = f"""<?xml version="1.0" encoding="UTF-8"?>
<OAI-PMH {OAI_NS}>
  <responseDate>2016-07-26T18:05:24Z</responseDate>
  <request verb="ListIdentifiers">http://localhost:8080/fedora/oai</request>
  <error code="noRecordsMatch">No records match the given criteria.</error>
</OAI-PMH>
"""

ERROR_BAD_TOKEN = f"""<?xml version="1.0" encoding="UTF-8"?>
<OAI-PMH {OAI_NS}>
  <responseDate>2016-07-26T18:06:24Z</responseDate>
  <request verb="ListIdentifiers">http://localhost:8080/fedora/oai</request>
  <error code="badResumptionToken">The resumptionToken is invalid or expired.</error>
</OAI-PMH>
"""

# Shape per multipleErrors.xml: one page carrying four error codes.
ERROR_MULTIPLE = f"""<?xml version="1.0" encoding="UTF-8"?>
<OAI-PMH {OAI_NS}>
  <responseDate>2016-07-26T18:07:24Z</responseDate>
  <request verb="ListIdentifiers">http://localhost:8080/fedora/oai</request>
  <error code="badArgument">Illegal or missing argument.</error>
  <error code="badVerb">Illegal verb.</error>
  <error code="cannotDisseminateFormat">Unsupported metadataPrefix.</error>
  <error code="noSetHierarchy">Sets are not supported.</error>
</OAI-PMH>
"""

# Filter corpus: mix of real documents and Fedora system objects
# (shape per ListIdentifiersToFilter.xml: regex .+qucosa:\d+ keeps 6 of 13).
def filter_corpus() -> str:
    keep = [f"oai:example.org:qucosa:{n}" for n in (11, 22, 33, 44, 55, 66)]
    drop = [
        "oai:example.org:fedora-system:ContentModel-3.0",
        "oai:example.org:fedora-system:FedoraObject-3.0",
        "oai:example.org:fedora-system:ServiceDefinition-3.0",
        "oai:example.org:fedora-system:ServiceDeployment-3.0",
        "oai:example.org:qucosa:CModel",
        "oai:example.org:qucosa:SDef",
        "oai:example.org:qucosa:SDep",
    ]
    headers = "".join(
        f"<header><identifier>{i}</identifier>"
        f"<datestamp>2015-01-01T00:00:00Z</datestamp></header>"
        for i in keep + drop
    )
    return (f'<?xml version="1.0" encoding="UTF-8"?><OAI-PMH {OAI_NS}>'
            f"<responseDate>2015-02-01T00:00:00Z</responseDate>"
            f'<request verb="ListIdentifiers">x</request>'
            f"<ListIdentifiers>{headers}</ListIdentifiers></OAI-PMH>")


def mets_document(mandator: str | None, document_type: str | None,
                  distribution_date: str | None,
                  mods_prefix: str = "v3") -> str:
    """Minimal METS/MODS document with namespace-prefixed elements.
    mods_prefix is configurable because fixtures in the wild bind MODS to
    varying prefixes — extraction must be namespace-aware."""
    m = mods_prefix
    hdr = (
        '<mets:metsHdr><mets:agent ROLE="EDITOR" TYPE="ORGANIZATION">'
        f"<mets:name>{mandator}</mets:name></mets:agent></mets:metsHdr>"
        if mandator is not None else ""
    )
    smap = (
        f'<mets:structMap TYPE="LOGICAL"><mets:div TYPE="{document_type}" '
        f'DMDID="DMD_000"/></mets:structMap>'
        if document_type is not None else ""
    )
    origin = (
        f'<{m}:originInfo eventType="distribution">'
        f'<{m}:dateIssued encoding="iso8601" keyDate="yes">{distribution_date}'
        f"</{m}:dateIssued></{m}:originInfo>"
        if distribution_date is not None else ""
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<mets:mets xmlns:mets="http://www.loc.gov/METS/" '
        f'xmlns:{m}="http://www.loc.gov/mods/v3">'
        f"{hdr}"
        '<mets:dmdSec ID="DMD_000"><mets:mdWrap MDTYPE="MODS"><mets:xmlData>'
        f"<{m}:mods>{origin}</{m}:mods>"
        "</mets:xmlData></mets:mdWrap></mets:dmdSec>"
        f"{smap}</mets:mets>"
    )
