"""One banded-pair core for the hamming dedup families (32-bit and 62-bit
simhash, image phash, audio fingerprint, per-frame video hash).

Every family blocks the same way: explode each signature into band rows
(band_idx, band_val), self-join the rows on the band bucket, keep each
unordered pair once, verify the exact hamming distance. This module owns
the three pieces that were hand-copied per family:

- ``band_exprs``: the band layouts, as SQL expression text for both
  dialects (Spark and DuckDB), so each oracle replicates its band values
  bit for bit;
- ``explode_bands`` / ``band_join`` / ``banded_pairs``: the Spark band
  rows and the banded self-join, in the ordered batch form and the
  predicated incremental form;
- ``band_rows_sql`` / ``banded_pairs_sql``: the DuckDB ``bands`` + ``cand``
  CTE template the oracles share.

Exactness (pigeonhole). A layout splits the signature's bits into
disjoint classes; a pair differing in ``hamming_max`` bits touches at
most ``hamming_max`` classes. The banded join is EXACT over the
d <= hamming_max pair set iff at least one blocking key survives intact:
for single bands that is ``hamming_max < n_bands`` (4 bands, d <= 3);
for the 2-of-5 band-pair layout, d <= 3 touches at most 3 of the 5
sub-bands, so at least 2 stay intact and their composite pair key
collides. Exactness does not depend on which bits go to which class, so
contiguous, strided and band-pair layouts all yield the same verified
pair set; only candidate volume and bucket skew differ.

Oracles keep their own band layout. An oracle whose output is the
verified pair set bands contiguously even where Spark bands strided or
in pairs, so the oracle hash gate also proves that the result does not
depend on the band scheme. An oracle whose output exposes the candidate
set or bucket shape (sweeps, skew and layout audits) mirrors the layout
Spark uses.

Verify before distinct. A bucket self-join emits a pair once per shared
band, so the pair distinct is unavoidable. The verified form computes
hamming per candidate row and filters BEFORE the distinct: hamming is a
function of (d1, d2), so the distinct over (d1, d2, hamming) equals the
distinct over (d1, d2), and the dedup exchange carries only verified id
rows instead of every candidate with both signatures and first()
aggregate state (measured 0.81-0.92x across the families). The caveat:
on highly skewed buckets a pair can repeat many times, and verifying
every repeat costs more than verifying each distinct pair once, so the
hoist can lose there. The candidates-only form (keep=None) dedups first
and leaves the verify to the caller; the sweeps and audits use it to
count candidates.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions import hashing as H

BAND_COLS = ["band_idx", "band_val"]


@dataclass(frozen=True)
class Layout:
    """How a signature's ``bits`` are split into blocking keys.

    contiguous: n_bands bands of bits // n_bands adjacent bits each.
    strided:    band b owns the interleaved bit class {i : i % n_bands == b}.
    pairs:      n_bands strided sub-bands, keyed by every 2-of-n_bands
                composite (v_i * 2^width_j + v_j) — 10 keys for 5.
    """

    scheme: str
    n_bands: int
    bits: int = 56


def _shr(col: str, k: int, dialect: str) -> str:
    if dialect == "spark":
        return f"shiftright({col}, {k})"
    return f"({col} >> {k})"


def _contiguous(col: str, band: int, width: int, dialect: str) -> str:
    return f"({_shr(col, band * width, dialect)} & {(1 << width) - 1})"


def _strided(col: str, band: int, layout: Layout, dialect: str) -> str:
    # bit k of the band value is source bit k * n_bands + band
    return "(" + " + ".join(
        f"(({_shr(col, i, dialect)} & 1) * {1 << k})"
        for k, i in enumerate(range(band, layout.bits, layout.n_bands))
    ) + ")"


def band_exprs(col: str, layout: Layout, dialect: str) -> "list[str]":
    """The band-value expressions of ``col`` under ``layout``, one per
    blocking key, in band_idx order; ``dialect`` is 'spark' or 'duck'."""
    if layout.scheme == "contiguous":
        width = layout.bits // layout.n_bands
        return [_contiguous(col, b, width, dialect)
                for b in range(layout.n_bands)]
    if layout.scheme == "strided":
        return [_strided(col, b, layout, dialect)
                for b in range(layout.n_bands)]
    if layout.scheme == "pairs":
        sub = [_strided(col, b, layout, dialect)
               for b in range(layout.n_bands)]
        return [f"(({sub[i]}) * "
                f"{1 << len(range(j, layout.bits, layout.n_bands))}"
                f" + ({sub[j]}))"
                for i, j in combinations(range(layout.n_bands), 2)]
    raise ValueError(f"unknown band layout: {layout!r}")


def explode_bands(frame: DataFrame, exprs: "list[str]",
                  *cols: str) -> DataFrame:
    """(``cols``, band_idx, band_val): one row per blocking key."""
    return frame.select(
        *cols,
        F.posexplode(F.array(*[F.expr(e) for e in exprs]))
        .alias(*BAND_COLS))


def band_join(left: DataFrame, right: DataFrame, keys=(),
              how: str = "inner") -> DataFrame:
    """Join two band frames on their bucket: the extra ``keys`` (e.g.
    frame_idx) plus (band_idx, band_val)."""
    return left.join(right, [*keys, *BAND_COLS], how)


def banded_pairs(bands: DataFrame, sig: "str | None" = None, *,
                 keys=(), is_new: "Column | None" = None,
                 hamming_max: "int | None" = None, keep=None) -> DataFrame:
    """The banded self-join of ``bands`` (doc_id, [sig], keys, band_idx,
    band_val): each side renames doc_id -> d1/d2 and ``sig`` -> s1/s2.

    Batch form: d1 < d2. Incremental form (``is_new``, a predicate over
    the band frame, or the flag column it already carries): the incoming
    side is filtered before the exchange,
    the full side is exchanged once, and ``~new2 | d1 < d2`` keeps
    incoming x existing plus the batch's own ordered pairs.

    ``hamming_max`` verifies before the distinct and adds the
    ``hamming`` column; the result is the distinct of ``keep`` (default
    d1, d2, hamming). Without it, candidates: the distinct of ``keep``
    if given, else every column deduplicated on (d1, d2)."""
    if is_new is not None:
        bands = bands.withColumn("is_new", is_new)
    sides = []
    for i, src in ((1, bands if is_new is None else bands.filter("is_new")),
                   (2, bands)):
        cols = [F.col("doc_id").alias(f"d{i}")]
        if sig:
            cols.append(F.col(sig).alias(f"s{i}"))
        if i == 2 and is_new is not None:
            cols.append(F.col("is_new").alias("new2"))
        sides.append(src.select(*cols, *keys, *BAND_COLS))
    order = F.col("d1") < F.col("d2")
    if is_new is not None:
        order = (~F.col("new2")) | order
    pairs = band_join(*sides, keys).filter(order)
    if hamming_max is not None:
        pairs = (pairs
                 .withColumn("hamming", F.expr(H.hamming("s1", "s2", "spark")))
                 .filter(F.col("hamming") <= hamming_max))
        keep = keep or ["d1", "d2", "hamming"]
    if keep:
        return pairs.select(*keep).dropDuplicates()
    return pairs.dropDuplicates(["d1", "d2"])


def stream_candidates(new_bands: DataFrame, stored_bands: DataFrame,
                      keys=()) -> DataFrame:
    """Distinct (d1 < d2) candidates of a micro-batch's band rows against
    themselves and against the stored band state. A re-delivered doc
    meets its own stored rows; the d1 != d2 filter drops those."""
    new_b = new_bands.select(F.col("doc_id").alias("d2"), *keys, *BAND_COLS)
    cross = band_join(
        stored_bands.select(F.col("doc_id").alias("d1"), *keys, *BAND_COLS),
        new_b, keys)
    return (
        banded_pairs(new_bands, keys=keys, keep=["d1", "d2"])
        .unionByName(cross.select("d1", "d2"))
        .select(F.least("d1", "d2").alias("d1"),
                F.greatest("d1", "d2").alias("d2"))
        .filter(F.col("d1") != F.col("d2"))
        .dropDuplicates(["d1", "d2"]))


def band_rows_sql(src: str, col: str, layout: Layout, cols=()) -> str:
    """DuckDB band rows of table ``src``: (``cols``, band_idx, band_val)."""
    head = "".join(f"{c}, " for c in cols)
    return "\nUNION ALL\n".join(
        f"SELECT {head}{bi} AS band_idx, {e} AS band_val FROM {src}"
        for bi, e in enumerate(band_exprs(col, layout, "duck")))


def banded_pairs_sql(src: str, sig: str, layout: Layout, *,
                     keys=(), carry=(), has_sig: bool = True,
                     is_new: "str | None" = None, tag: str = "") -> str:
    """The DuckDB ``bands{tag}`` + ``cand{tag}`` CTEs over table ``src``
    (doc_id, ``sig``, ``keys``): cand is the DISTINCT (d1, d2[, s1, s2],
    ``carry``) of the bucket self-join, banded on ``sig`` under
    ``layout``. ``has_sig=False`` leaves the signatures out of cand
    (doc-level candidates, e.g. video pairs over per-frame hashes).
    ``is_new`` is a predicate template over one side (``{}.doc_id``) and
    selects the incremental form; the default is the ordered batch
    form."""
    if is_new is None:
        order = "a.doc_id < b.doc_id"
    else:
        order = (f"{is_new.format('a')} AND (NOT ({is_new.format('b')})"
                 f" OR a.doc_id < b.doc_id)")
    out = ["a.doc_id AS d1", "b.doc_id AS d2"]
    if has_sig:
        out += [f"a.{sig} AS s1", f"b.{sig} AS s2"]
    out += [f"a.{c}" for c in carry]
    on = " AND ".join(f"a.{k} = b.{k}" for k in [*keys, *BAND_COLS])
    rows = band_rows_sql(src, sig, layout, ["doc_id", sig, *keys])
    return (f"bands{tag} AS ({rows}),\n"
            f"cand{tag} AS (\n  SELECT DISTINCT {', '.join(out)}\n"
            f"  FROM bands{tag} a JOIN bands{tag} b\n"
            f"    ON {on}\n   AND {order})")
