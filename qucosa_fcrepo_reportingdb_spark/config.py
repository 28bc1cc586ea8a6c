"""Layered runtime configuration (SURVEY.md §2.6; reference:
ReportingProperties.java:43-127).

The reference loads java-properties in three layers, later layers
overriding earlier ones: built-in defaults -> optional local.properties ->
JVM system properties filtered to the db./oai./mets. prefixes. This module
reproduces that stack for the PySpark pipeline:

    baked-in DEFAULTS
      -> optional defaults file (.properties syntax)
      -> optional local overrides file
      -> environment variables, two spellings:
           literal dotted key   (``oai.pollseconds=120``)
           REPORTING_ prefixed  (``REPORTING_OAI_POLLSECONDS=120`` —
           underscores map to dots, case-insensitive; the practical
           spelling in shells that reject dots in names)

``ReportingConfig`` wraps the merged mapping with the reference's typed
getters plus ``pipeline_kwargs()`` feeding ReportingPipeline directly.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from dataclasses import dataclass, field
from datetime import timedelta

# Reference default.properties (src/main/resources/default.properties),
# minus the JDBC credentials' concrete values (placeholders here), plus the
# Spark-pipeline knobs this engine adds.
DEFAULTS: dict[str, str] = {
    "db.url": "jdbc:postgresql://localhost:5432/reporting",
    "db.driver": "org.postgresql.Driver",
    "db.user": "reporting",
    "db.passwd": "",
    "oai.url": "http://localhost:8080/fedora/oai",
    "oai.pollseconds": "360",
    "oai.fc3compatibility": "true",
    "oai.runresulthistorylengthhours": "48",
    "mets.url": "http://localhost:8080/mets",
    "mets.pollseconds": "600",
    # Spark-engine additions (not in the reference)
    "pipeline.batchsize": "100",
    "mets.minwaitseconds": "1",
    # files-per-table auto-compaction threshold for the versioned store
    # (TableStore.auto_compact_files); 0 disables
    "store.autocompactfiles": "64",
}

ENV_PREFIX = "REPORTING_"
# Same prefix filter the reference applies to system properties
# (ReportingProperties.java:84-89), extended with the engine's own groups.
KEY_PREFIXES = ("db.", "oai.", "mets.", "pipeline.", "store.")


def parse_properties(text: str) -> dict[str, str]:
    """Minimal java-properties parser: `key=value` lines, `#`/`!` comments,
    whitespace-trimmed keys and values. Enough for the reference's files."""
    out: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith(("#", "!")):
            continue
        if "=" not in line:
            continue
        key, _, value = line.partition("=")
        out[key.strip()] = value.strip()
    return out


def _env_overrides(env: Mapping[str, str]) -> dict[str, str]:
    # two passes, prefixed spelling FIRST: when the same key is set both
    # ways (REPORTING_OAI_POLLSECONDS and oai.pollseconds), the exact
    # dotted key wins deterministically — a single-pass loop would leave
    # the winner to os.environ iteration order, i.e. the platform
    out: dict[str, str] = {}
    for k, v in env.items():
        if k.upper().startswith(ENV_PREFIX):
            dotted = k[len(ENV_PREFIX):].lower().replace("_", ".")
            if dotted.startswith(tuple(KEY_PREFIXES)):
                out[dotted] = v
    for k, v in env.items():
        if k.startswith(tuple(KEY_PREFIXES)):
            out[k] = v
    return out


def load_properties(defaults_file: str | None = None,
                    local_file: str | None = None,
                    env: Mapping[str, str] | None = None) -> dict[str, str]:
    """Merge the four layers; later wins (ReportingProperties.java:55-89).
    Missing files are skipped exactly like the reference's optional
    local.properties."""
    merged = dict(DEFAULTS)
    for path in (defaults_file, local_file):
        if path and os.path.exists(path):
            with open(path, encoding="iso-8859-1") as fh:
                merged.update(parse_properties(fh.read()))
    merged.update(_env_overrides(env if env is not None else os.environ))
    return merged


@dataclass(frozen=True)
class ReportingConfig:
    props: dict[str, str] = field(default_factory=lambda: dict(DEFAULTS))

    @classmethod
    def load(cls, defaults_file: str | None = None,
             local_file: str | None = None,
             env: Mapping[str, str] | None = None) -> "ReportingConfig":
        return cls(load_properties(defaults_file, local_file, env))

    # typed getters mirroring ReportingProperties.java:92-127
    @property
    def db_url(self) -> str:
        return self.props["db.url"]

    @property
    def db_user(self) -> str:
        return self.props["db.user"]

    @property
    def oai_url(self) -> str:
        return self.props["oai.url"]

    @property
    def oai_poll_interval(self) -> timedelta:
        return timedelta(seconds=int(self.props["oai.pollseconds"]))

    @property
    def fc3_compatibility(self) -> bool:
        return self.props["oai.fc3compatibility"].strip().lower() == "true"

    @property
    def run_result_history_length(self) -> timedelta:
        return timedelta(
            hours=int(self.props["oai.runresulthistorylengthhours"]))

    @property
    def mets_url(self) -> str:
        return self.props["mets.url"]

    @property
    def mets_poll_interval(self) -> timedelta:
        return timedelta(seconds=int(self.props["mets.pollseconds"]))

    @property
    def batch_size(self) -> int:
        return int(self.props["pipeline.batchsize"])

    @property
    def mets_min_wait_s(self) -> float:
        return float(self.props["mets.minwaitseconds"])

    @property
    def auto_compact_files(self) -> "int | None":
        n = int(self.props["store.autocompactfiles"])
        return n if n > 0 else None

    def pipeline_kwargs(self) -> dict:
        """Keyword arguments for ReportingPipeline(...)."""
        return {
            "batch_size": self.batch_size,
            "mets_min_wait_s": self.mets_min_wait_s,
            "fc3_compatibility": self.fc3_compatibility,
            "history_length": self.run_result_history_length,
        }
