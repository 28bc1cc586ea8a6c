"""Gate-completeness checks for bench.py: the per-query regression gates
only fire for names with a baseline row, so a TIER2 entry without a
TIER2_BASELINE row is silently ungated — exactly the hole VERDICT r9
flagged (two measured-but-ungated rows). These tests pin the contract
shut and exercise the candidate-volume tripwire's decision logic."""

import pytest

import bench
import __spark_entry__ as entrymod


def test_every_tier2_query_has_a_baseline_row():
    ungated = [n for n in bench.TIER2 if n not in bench.TIER2_BASELINE]
    assert ungated == [], (
        f"tier2 queries without a regression baseline: {ungated} — "
        "add a row to bench.TIER2_BASELINE (and BASELINE.md) from the "
        "first solo/driver run that measures them")


def test_bench_names_resolve_in_registry():
    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE + bench.TIER2 if n not in qs]
    assert missing == []


def test_candidate_volume_tripwire(spark):
    """The census's over_budget flag must be exactly (pairs_per_unit >
    budget), every deployable banded family must be present, and the
    32-bit simhash scheme must never undercut the widened one (its
    blocking space is a strict subset of the information the 62-bit
    pair keys carry)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        BANDED_FAMILIES,
        CANDIDATE_PAIRS_PER_UNIT_BUDGET,
        candidate_volume_census,
    )
    from tests.conftest import SF_DIR

    rows = {r["family"]: r.asDict()
            for r in candidate_volume_census(spark, SF_DIR).collect()}
    assert set(rows) == set(BANDED_FAMILIES)
    for fam, r in rows.items():
        assert r["over_budget"] == (
            r["pairs_per_unit"] > CANDIDATE_PAIRS_PER_UNIT_BUDGET), fam
        assert r["n_band_rows"] == \
            r["n_units"] * BANDED_FAMILIES[fam].bands_per_unit, fam
        assert r["candidate_pairs"] >= 0
        assert r["action"] == (
            BANDED_FAMILIES[fam].remedy if r["over_budget"]
            else "none"), fam
    # empirical on the fixed driver corpus (2^8-value bands vs ~2^25
    # pair keys), not a cross-sketch theorem — see test_simhash64's
    # census-shape note (ADVICE r10)
    assert (rows["simhash32_band4x8"]["pairs_per_unit"]
            >= rows["simhash64_bandpairs_2of5"]["pairs_per_unit"])


def test_remedy_dispatch_resolves_for_every_family():
    """The census action column's last hop (VERDICT r10 gap 4): every
    banded family maps to CONCRETE artifacts, and every named artifact
    actually resolves — batch/incremental names in the oracle-paired
    registry, stream names as callables in streaming.jobs, actuator
    names as callables in operators.dedup. Pinned so the bench
    warning's citation can never drift from the registry."""
    import __spark_entry__ as em
    from qucosa_fcrepo_reportingdb_spark.operators import dedup as D
    from qucosa_fcrepo_reportingdb_spark.streaming import jobs as J

    registry = em.queries()
    oracles = em.oracle_sql()
    assert all(f.remedy and f.dispatch for f in D.BANDED_FAMILIES.values())
    for fam, f in D.BANDED_FAMILIES.items():
        rec = D.saturation_remedy_artifacts(fam)
        assert rec["action"] == f.remedy
        for key in ("policy", "batch", "incremental"):
            assert rec[key] in registry, (fam, key, rec[key])
            assert rec[key] in oracles, (fam, key, rec[key])
        assert callable(getattr(J, rec["stream"])), (fam, rec["stream"])
        assert callable(getattr(D, rec["actuator"][0])), fam
    with pytest.raises(ValueError):
        D.saturation_remedy_artifacts("no_such_family")
