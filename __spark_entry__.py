"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` declare every implemented operator from
SURVEY.md §2 plus the training-data pipeline surface, each verified against
a DuckDB oracle at sf0.01 (column names aligned, exact-arithmetic numeric
policy — see qucosa_fcrepo_reportingdb_spark/plans/common.py).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from qucosa_fcrepo_reportingdb_spark.functions import text  # noqa: E402
from qucosa_fcrepo_reportingdb_spark.operators import (  # noqa: E402
    corpus,
    dedup,
    multimodal,
    similarity,
    skew,
)
from qucosa_fcrepo_reportingdb_spark.plans import (  # noqa: E402
    advanced,
    events,
    reporting,
    tpch,
)

_MODULES = [tpch, events, reporting, advanced, dedup, similarity, text,
            multimodal, corpus, skew]

# The driver sweeps a bounded prefix of the registry (50 queries in rounds
# 1-2; the registry is larger), so iteration order decides which queries
# get a fresh CORRECTNESS row. Order is LEAST-RECENTLY-VERIFIED first,
# derived from the CORRECTNESS_r*.json files the driver leaves in the repo:
#   1. queries with no CORRECTNESS row in any round (new this round),
#   2. queries whose code/semantics changed this round (_TOUCHED — their
#      old rows verify old behavior),
#   3. everything else, oldest verification round first,
# with registry order as the tiebreak. This is self-maintaining: next
# round's file automatically rotates this round's swept names to the back.

# Queries whose plan or output changed after a given round's sweep: any
# CORRECTNESS row from that round or earlier verifies the OLD behavior,
# so these outrank plain LRV until a later round re-checks them (then
# they rotate to the back automatically).
# name -> round whose sweep (and everything earlier) saw the OLD form.
_TOUCHED = {
    # The hamming families moved onto the banded-pair core
    # (operators/banding.py) after their newest CORRECTNESS row; each
    # plan renames its signature aliases.
    "dedup_simhash64_incremental": 16,  # drops the implied d1 != d2 join
    "dedup_image_phash": 16,  # p1/p2 -> s1/s2
    "dedup_image_phash_incremental": 16,  # p1/p2 -> s1/s2
    "dedup_image_phash_bandpairs": 16,  # p1/p2 -> s1/s2
    "dedup_image_phash_incremental_bandpairs": 16,  # p1/p2 -> s1/s2
    "dedup_audio_fingerprint": 16,  # p1/p2 -> s1/s2
    "dedup_audio_fingerprint_incremental": 16,  # p1/p2 -> s1/s2
    "dedup_audio_fingerprint_bandpairs": 16,  # p1/p2 -> s1/s2
    "dedup_audio_fingerprint_incremental_bandpairs": 16,  # p1/p2 -> s1/s2
    "multimodal_method_agreement": 16,  # p1/p2 -> s1/s2
    "multimodal_dup_clusters": 16,  # p1/p2 -> s1/s2
    "phash_banding_sweep": 16,  # p1/p2 -> s1/s2
    "afp_banding_sweep": 16,  # p1/p2 -> s1/s2
    "phash_band_layout_audit": 16,  # p1/p2 -> s1/s2
    "phash_blocking_scheme_audit": 16,  # p1/p2 -> s1/s2
}


def _last_verified() -> dict[str, int]:
    """query name -> latest driver round with a CORRECTNESS row for it."""
    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name in rows:
            out[name] = max(out.get(name, 0), rnd)
    return out


def _reorder(d: dict) -> dict:
    last = _last_verified()
    touch_order = {n: i for i, n in enumerate(_TOUCHED)}

    def key(item):
        idx, name = item
        stale_touched = (name in _TOUCHED
                         and last.get(name, 0) <= _TOUCHED[name])
        group = 0 if name not in last else (1 if stale_touched else 2)
        # the hand-list position only orders WITHIN the stale-touched
        # group; elsewhere order is pure LRV + registry position
        touch_rank = touch_order.get(name, 0) if group == 1 else 0
        return (group, touch_rank, last.get(name, 0), idx)

    return {name: d[name] for _, name in sorted(enumerate(d), key=key)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _reorder(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _reorder(out)
