"""End-to-end over real HTTP: the `python -m` entry point builds the
pipeline from a properties file and drains a live OAI + METS server
(threaded http.server serving the reference-shaped fixtures) into the
table store — the closest sandbox equivalent of the reference's
production deployment loop (ReportingManager.java:39-95)."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from qucosa_fcrepo_reportingdb_spark.__main__ import build_pipeline, main
from qucosa_fcrepo_reportingdb_spark.config import ReportingConfig
from qucosa_fcrepo_reportingdb_spark.sources.mets import (
    REPORTING_DOCUMENTS_TABLE,
)
from qucosa_fcrepo_reportingdb_spark.tables import TableStore
from tests import fixtures_oai as fx

METS_DOCS = {
    "qucosa:1044": fx.mets_document("SLUB", "issue", "2008-08-04"),
    "qucosa:1234": fx.mets_document("slub", "article",
                                    "2016-10-10T11:27:33+0200",
                                    mods_prefix="mods"),
}


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):
        parsed = urlparse(self.path)
        qs = parse_qs(parsed.query)
        if parsed.path == "/oai":
            body = fx.LIST_IDENTIFIERS
        elif parsed.path == "/mets":
            pid = qs.get("pid", [""])[0]
            doc = METS_DOCS.get(pid)
            if doc is None:
                self.send_response(404)
                self.end_headers()
                return
            body = doc
        else:
            self.send_response(404)
            self.end_headers()
            return
        payload = body.encode("utf-8")
        self.send_response(200)
        self.send_header("Content-Type", "text/xml")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def http_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _config(base_url: str) -> ReportingConfig:
    cfg = ReportingConfig.load()
    cfg.props.update({
        "oai.url": f"{base_url}/oai",
        "mets.url": f"{base_url}/mets",
        "mets.minwaitseconds": "0",
    })
    return cfg


def test_pipeline_over_real_http(spark, tmp_path, http_server):
    cfg = _config(http_server)
    pipeline = build_pipeline(spark, cfg, str(tmp_path / "store"))
    stats = pipeline.run_until_idle()
    # LIST_IDENTIFIERS queues 2 post-filter headers; both METS docs served
    assert stats["persisted"] == 2 and stats["rejected"] == 0
    docs = {r.record_identifier: r for r in
            TableStore(spark, str(tmp_path / "store"))
            .read(REPORTING_DOCUMENTS_TABLE).collect()}
    assert {d.mandator for d in docs.values()} == {"SLUB", "slub"}
    # at-least-once re-run: this server re-serves the same page for any
    # `from`, so the records reprocess — the idempotent merge must not
    # duplicate them
    pipeline.run_until_idle()
    assert (TableStore(spark, str(tmp_path / "store"))
            .read(REPORTING_DOCUMENTS_TABLE).count() == 2)


def test_mets_404_is_rejected_but_consumed(spark, tmp_path, http_server):
    cfg = _config(http_server)
    missing = dict(METS_DOCS)
    removed = missing.pop("qucosa:1234")
    try:
        del METS_DOCS["qucosa:1234"]
        pipeline = build_pipeline(spark, cfg, str(tmp_path / "store2"))
        stats = pipeline.run_until_idle()
        assert stats["persisted"] == 1 and stats["rejected"] == 1
        assert pipeline.queue_depth() == 0           # consumed anyway (F4/T4)
    finally:
        METS_DOCS["qucosa:1234"] = removed


def test_main_once_exit_code(spark, tmp_path, http_server, monkeypatch):
    propfile = tmp_path / "local.properties"
    propfile.write_text(
        f"oai.url={http_server}/oai\n"
        f"mets.url={http_server}/mets\n"
        "mets.minwaitseconds=0\n")
    assert main(["--store", str(tmp_path / "store3"),
                 "--config", str(propfile), "--once"]) == 0
    docs = TableStore(spark, str(tmp_path / "store3")) \
        .read(REPORTING_DOCUMENTS_TABLE)
    assert docs.count() == 2
