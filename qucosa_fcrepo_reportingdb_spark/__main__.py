"""Operational entry point: ``python -m qucosa_fcrepo_reportingdb_spark``.

Runs the reference's two-stage topology (ReportingManager.java:39-95 —
harvest OAI pages into the header queue, enrich queued headers via METS
point lookups into reporting_documents) against real HTTP endpoints,
configured the reference's way: properties files + REPORTING_* env
overrides (config.py). One process, batch or continuous:

  python -m qucosa_fcrepo_reportingdb_spark --store /data/reporting \\
      --config local.properties --once
  python -m qucosa_fcrepo_reportingdb_spark --store /data/reporting \\
      --continuous            # poll loop with the T1 wait semantics
"""

from __future__ import annotations

import argparse
import logging
import sys
from datetime import timedelta

from qucosa_fcrepo_reportingdb_spark.config import ReportingConfig
from qucosa_fcrepo_reportingdb_spark.pipeline import ReportingPipeline
from qucosa_fcrepo_reportingdb_spark.session import get_spark
from qucosa_fcrepo_reportingdb_spark.sources.mets import http_mets_fetcher
from qucosa_fcrepo_reportingdb_spark.sources.oai import http_fetcher
from qucosa_fcrepo_reportingdb_spark.tables import TableStore


def build_pipeline(spark, cfg: ReportingConfig,
                   store_root: str) -> ReportingPipeline:
    store = TableStore(spark, store_root,
                       auto_compact_files=cfg.auto_compact_files)
    return ReportingPipeline(
        spark, store,
        oai_fetch=http_fetcher(cfg.oai_url),
        mets_fetch=http_mets_fetcher(cfg.mets_url),
        **cfg.pipeline_kwargs(),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="qucosa_fcrepo_reportingdb_spark",
        description="OAI-PMH -> METS -> reporting tables pipeline (Spark)")
    p.add_argument("--store", required=True,
                   help="table-store root directory")
    p.add_argument("--config", default=None,
                   help="properties file (reference format); env "
                        "REPORTING_* overrides apply on top")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--once", action="store_true", default=True,
                      help="harvest + drain queue, then exit (default)")
    mode.add_argument("--continuous", action="store_true",
                      help="poll loop (oai.pollseconds interval)")
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO,
                        format="%(asctime)s %(levelname)s %(name)s %(message)s")
    cfg = ReportingConfig.load(local_file=args.config)
    spark = get_spark("reportingdb-pipeline")
    pipeline = build_pipeline(spark, cfg, args.store)
    if args.continuous:
        # C2 cooperative shutdown: SIGINT/SIGTERM finish the current
        # microbatch, then stop — the reference's TerminateableRunnable
        # contract; without this, Ctrl+C/systemd stop hard-kills
        # mid-batch (safe thanks to idempotent merges, but ungraceful)
        import signal

        def _terminate(signum, frame):
            logging.getLogger(__name__).info(
                "signal %s: finishing current microbatch, then stopping",
                signum)
            pipeline.terminate()

        signal.signal(signal.SIGINT, _terminate)
        signal.signal(signal.SIGTERM, _terminate)
        pipeline.run_continuous(cfg.oai_poll_interval)
        return 0
    stats = pipeline.run_until_idle()
    logging.getLogger(__name__).info("done: %s", stats)
    print(stats)
    return 0


if __name__ == "__main__":
    sys.exit(main())
