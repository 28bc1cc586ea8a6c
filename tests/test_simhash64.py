"""dedup_simhash64: the widened-sketch remedy for the 32-bit simhash
birthday cap (SCALING.md blocking-space census; VERDICT r8-r10 directive).

Three claims, each checked independently of the oracle gate:
1. rehash64 actually widens — high bits (>= 31) of the signature carry
   entropy across documents (a naive 64-bit simhash over 31-bit hashes
   would leave them constant, making the widening a no-op).
2. The 2-of-5 strided band-pair blocking at 62 bits is EXACT for
   hamming <= 3: any pair of 62-bit values within distance 3 collides
   on at least one of the 10 composite pair keys (randomized, checked
   through the engine-emitted SQL in DuckDB, not a Python re-model;
   test_multimodal.test_phash_band_pigeonhole_guarantee checks every
   layout exhaustively).
3. The width audit's census shape: the 32-bit scheme's bucket space is
   structurally capped at 4 x 2^8 = 1024, the 62-bit pair scheme's is
   not (n_buckets grows with the corpus) — the measured fact that makes
   the widened sketch the remedy.
"""

import random

import duckdb
import pytest

from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
from qucosa_fcrepo_reportingdb_spark.operators.banding import band_exprs
from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
    PAIRS62,
    SIMHASH64_BITS,
    dedup_simhash64,
    simhash_width_audit,
)
from tests.conftest import SF_DIR


def test_rehash64_widens_high_bits(spark):
    """Signature bits >= 31 must differ across docs — the widening is
    real, not a constant prefix (the trap rehash64's docstring names)."""
    rows = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(64)
        .selectExpr(f"{H.tokens('text', 'spark')} AS toks")
        .selectExpr(f"{H.token_hashes('toks', 'spark')} AS th")
        .selectExpr(f"{H.shingle_hashes('th', 'spark')} AS sh")
        .selectExpr(
            f"{H.simhash(H.rehash64('sh', 'spark'), 'spark', SIMHASH64_BITS)}"
            " AS s64")
        .collect()
    )
    high_parts = {r.s64 >> 31 for r in rows}
    low_parts = {r.s64 & ((1 << 31) - 1) for r in rows}
    assert len(high_parts) > 1, "high 31 bits are constant — widening no-op"
    assert len(low_parts) > 1
    # and nothing escapes the declared width
    assert all(0 <= r.s64 < (1 << SIMHASH64_BITS) for r in rows)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bandpair_blocking_exact_for_hamming_3(seed):
    """Pigeonhole exactness through the ENGINE's own expressions: for
    random 62-bit values and every perturbation of <= 3 bit flips, at
    least one of the 10 composite pair keys matches. Runs the emitted
    DuckDB SQL so the test covers the expression text, not a Python
    transliteration of it."""
    rng = random.Random(seed)
    pairs = []
    for _ in range(100):
        v = rng.getrandbits(SIMHASH64_BITS)
        flips = rng.sample(range(SIMHASH64_BITS), rng.randint(0, 3))
        w = v
        for b in flips:
            w ^= 1 << b
        pairs.append((v, w))
    con = duckdb.connect()
    con.execute("CREATE TABLE p (v BIGINT, w BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    exprs_v = band_exprs("v", PAIRS62, "duck")
    exprs_w = band_exprs("w", PAIRS62, "duck")
    assert len(exprs_v) == 10
    any_match = " OR ".join(
        f"({ev}) = ({ew})" for ev, ew in zip(exprs_v, exprs_w))
    n_miss = con.execute(
        f"SELECT COUNT(*) FROM p WHERE NOT ({any_match})").fetchone()[0]
    assert n_miss == 0


def test_width_audit_census_shape(spark):
    rows = {r["scheme"]: r.asDict()
            for r in simhash_width_audit(spark, SF_DIR).collect()}
    r32 = rows["simhash32_band4x8"]
    r64 = rows["simhash64_bandpairs_2of5"]
    # structural cap: 4 bands x 2^8 values
    assert r32["n_buckets"] <= 4 * 256
    # band-row cost of the pair scheme: 10/doc vs 4/doc
    assert r64["n_band_rows"] == r32["n_band_rows"] // 4 * 10
    # EMPIRICAL property of the fixed driver corpus, not a theorem
    # (ADVICE r10): the two sketches are different hash functions, so a
    # pair can in principle collide on a 62-bit pair key without
    # colliding on any 8-bit band of the 32-bit sketch. On key spaces
    # of ~2^25 vs 2^8 the ordering is overwhelmingly likely and holds
    # on every driver SF; revisit only if the corpus generator changes.
    assert r64["n_candidates"] <= r32["n_candidates"]


def test_dedup_simhash64_pairs_within_hamming(spark):
    out = dedup_simhash64(spark, SF_DIR).collect()
    assert all(0 <= r.hamming <= 3 for r in out)
    assert all(r.d1 < r.d2 for r in out)


def test_simhash64_excludes_zero_token_docs(spark, tmp_path):
    """Empty docs would all share the all-ones signature (majority vote
    over zero shingles sets every bit) and emit O(n^2) hamming-0 pairs
    from one hot bucket; the family follows the minhash non_empty
    convention instead — no empty doc appears in any output pair, and
    the DuckDB oracle agrees on the same fixture (ADVICE r10)."""
    import duckdb as _duck

    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        ORACLES,
        simhash64_frame,
    )
    from tests.oracle import compare

    rows = [(0, ""), (1, "   "), (2, ""),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "alpha beta gamma delta epsilon zeta"),
            (5, "totally different words about other topics entirely")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    con = _duck.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet/*.parquet'")
    out = dedup_simhash64(spark, str(tmp_path)).collect()
    flagged = {d for r in out for d in (r.d1, r.d2)}
    assert flagged == {3, 4}, out  # the twins, never the empty docs
    # the streaming sign_frame applies the same exclusion
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    signed = {r.doc_id for r in simhash64_frame(docs).collect()}
    assert signed == {3, 4, 5}
    # and the oracle encodes the same semantics, not just the engine
    r = compare(dedup_simhash64(spark, str(tmp_path)), con,
                ORACLES["dedup_simhash64"])
    assert r["ok"], r
