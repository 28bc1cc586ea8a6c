"""Deterministic cross-engine text hashing for the dedup/fingerprint
operators.

Engine-native hash builtins differ between systems (Spark's murmur3/xxhash64
vs DuckDB's hash), so every hash here is defined arithmetically — polynomial
rolling hashes over code points, mod the Mersenne prime 2^31-1 — and emitted
as BOTH a Spark SQL expression and a DuckDB SQL expression that produce
bit-identical BIGINTs. All integer math stays below 2^63 (a*h+b with
a,h < 2^31 peaks near 2^62), so no overflow in either engine.

Everything runs JVM-side in Spark (expression trees inside whole-stage
codegen, no Python UDFs) — at 100 TB these are scan-local map operations
with no shuffle.

Pipelines are built as staged selects (tokens -> token hashes -> shingle
hashes -> signatures); each stage references the previous COLUMN, keeping
expression trees linear instead of exponentially nested.
"""

from __future__ import annotations

P = 2_147_483_647  # 2^31 - 1

N_PERM = 16          # minhash permutations
LSH_BANDS = 4        # bands x rows: 4 x 4
LSH_ROWS = N_PERM // LSH_BANDS
SIMHASH_BITS = 32


def minhash_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation — odd multipliers, fixed
    offsets; identical literals are inlined into both dialects."""
    return [((2 * j + 1) * 40_503 % P, (j * 1_299_721 + 7) % P)
            for j in range(N_PERM)]


# --- stage 1: tokenize -------------------------------------------------------
def tokens(col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"
    return f"regexp_extract_all(lower({col}), '[a-z0-9]+')"


# --- stage 2: per-token polynomial hash --------------------------------------
def token_hashes(toks: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"transform({toks}, t -> aggregate(sequence(1, length(t)), "
            f"CAST(0 AS BIGINT), (acc, i) -> "
            f"(acc * 31 + ascii(substr(t, i, 1))) % {P}))"
        )
    return (
        f"list_transform({toks}, t -> list_reduce("
        f"list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length(t) + 1), "
        f"i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {P}))"
    )


# --- stage 3: distinct 3-gram shingle hashes ---------------------------------
def shingle_hashes(th: str, dialect: str) -> str:
    """DISTINCT 3-gram shingle hashes = the positional fold
    (ordered_shingle_hashes) wrapped in a distinct — ONE definition of
    the gram fold, so the set and positional consumers cannot drift
    apart bit-wise. Docs with <3 tokens fall back to their token hashes
    so short docs still participate."""
    fn = "array_distinct" if dialect == "spark" else "list_distinct"
    return f"{fn}({ordered_shingle_hashes(th, dialect)})"


# --- minhash signature --------------------------------------------------------
def minhash(sh: str, a: int, b: int, dialect: str) -> str:
    if dialect == "spark":
        return f"array_min(transform({sh}, h -> ({a} * h + {b}) % {P}))"
    return f"list_min(list_transform({sh}, h -> ({a} * h + {b}) % {P}))"


def lsh_band(minhash_cols: list[str], band: int, dialect: str) -> str:
    """Band signature = 'm<i>_m<i+1>_...' string over LSH_ROWS minhashes.
    Each column is coalesced to -1 first: a NULL minhash (empty shingle
    array) would otherwise make Spark's concat_ws SKIP the column while
    DuckDB's || propagates NULL — different signatures per engine, the
    exact bit-identity break this module exists to prevent. Every
    current consumer filters empty docs before banding, but the function
    must be total rather than rely on that."""
    cols = [f"coalesce({c}, -1)"
            for c in minhash_cols[band * LSH_ROWS:(band + 1) * LSH_ROWS]]
    if dialect == "spark":
        return "concat_ws('_', " + ", ".join(cols) + ")"
    return " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)


# --- simhash ------------------------------------------------------------------
def _bit_literal(k: int) -> str:
    """BIGINT literal for 2^k as a two's-complement bit pattern, valid in
    BOTH dialects: k=63 is the sign bit, and the positive literal 2^63
    overflows BIGINT parsing in DuckDB, so it is emitted as the equivalent
    min-long arithmetic form. Summing distinct bit literals never
    overflows: the partial sum of bits 0..62 is at most 2^63-1 and adding
    the (negative) bit-63 term lands exactly on the two's-complement
    encoding of the 64-bit pattern."""
    if k == 63:
        return "(-9223372036854775807 - 1)"
    return str(1 << k)


SIMHASH64_BITS = 62   # two independent 31-bit streams, concatenated
_REHASH64_A1, _REHASH64_B1 = 1_103_515_245, 12_345
_REHASH64_A2, _REHASH64_B2 = 69_069, 362_437


def rehash64(sh: str, dialect: str) -> str:
    """Widen each 31-bit shingle hash to 62 INFORMATIVE bits by
    concatenating two independent affine rehashes:
    h64 = ((a1*h+b1) mod P) * 2^31 + ((a2*h+b2) mod P). A naive 64-bit
    simhash over the 31-bit inputs would be a trap: bits 31+ of every
    element are zero, so every high simhash bit resolves to the same
    constant vote and the sketch gains NOTHING — the widening must
    happen per element, before the bit votes. All arithmetic stays
    below 2^62 (a,h < 2^31 so a*h+b < 2^62; the reduced values are
    < 2^31 so the concatenation is < 2^62), overflow-free and
    bit-identical in both engines."""
    fn = "transform" if dialect == "spark" else "list_transform"
    return (f"{fn}({sh}, h -> "
            f"(({_REHASH64_A1} * h + {_REHASH64_B1}) % {P}) * 2147483648 "
            f"+ (({_REHASH64_A2} * h + {_REHASH64_B2}) % {P}))")


def simhash(th: str, dialect: str, n_bits: int = SIMHASH_BITS) -> str:
    """n_bits-wide simhash over (non-distinct) element hashes: bit k is
    set when the +1/-1 vote of all elements' k-th bits is non-negative —
    equivalently (the form used here) when 2 * ones_k >= n, since
    vote_k = ones_k - (n - ones_k). Default width 32 (the registry's
    coarse prefilter); the widened dedup_simhash64 sketch passes
    n_bits=SIMHASH64_BITS over rehash64-widened elements (width without
    per-element widening is entropy-free — see rehash64).

    Spark side is a SINGLE fold carrying an n_bits-counter array (one pass
    over the token list instead of n_bits independent folds — measured
    several-fold cheaper; the fold is still a scan-local codegen
    expression). The DuckDB oracle keeps a simple n_bits-term form —
    oracle cost is harness cost."""
    if dialect == "spark":
        ks = f"sequence(0, {n_bits - 1})"
        return (
            f"aggregate({th}, "
            f"transform({ks}, k -> CAST(0 AS BIGINT)), "
            f"(acc, h) -> zip_with(acc, {ks}, "
            f"(a, k) -> a + (shiftright(h, k) & 1)), "
            f"acc -> aggregate(zip_with(acc, {ks}, "
            f"(ones, k) -> CASE WHEN 2 * ones >= size({th}) "
            f"THEN shiftleft(CAST(1 AS BIGINT), k) "
            f"ELSE CAST(0 AS BIGINT) END), "
            f"CAST(0 AS BIGINT), (s, x) -> s + x))"
        )
    terms = [
        f"(CASE WHEN 2 * len(list_filter({th}, h -> ((h >> {k}) & 1) = 1)) "
        f">= len({th}) THEN CAST({_bit_literal(k)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for k in range(n_bits)
    ]
    return "(" + " + ".join(terms) + ")"


def hamming(s1: str, s2: str, dialect: str) -> str:
    if dialect == "spark":
        return f"bit_count({s1} ^ {s2})"
    return f"bit_count(xor({s1}, {s2}))"


def simhash_band(s: str, band: int, dialect: str) -> str:
    """8-bit band extraction for simhash LSH blocking."""
    if dialect == "spark":
        return f"(shiftright({s}, {band * 8}) & 255)"
    return f"(({s} >> {band * 8}) & 255)"


# --- document fingerprint -----------------------------------------------------
def fingerprint(th: str, dialect: str) -> str:
    """Order-sensitive rolling hash over the token-hash sequence — the
    content fingerprint (X-style document identity at token granularity)."""
    if dialect == "spark":
        return (f"aggregate({th}, CAST(7 AS BIGINT), "
                f"(acc, h) -> (acc * 131 + h) % {P})")
    return (f"list_reduce(list_prepend(CAST(7 AS BIGINT), {th}), "
            f"(acc, x) -> (acc * 131 + x) % {P})")


def ordered_shingle_hashes(th: str, dialect: str) -> str:
    """POSITIONAL 3-gram hash sequence (same fold as shingle_hashes but
    without the distinct): winnowing and any other position-aware
    consumer need the grams in document order, one per window position.
    Docs with <3 tokens fall back to their token hashes, mirroring
    shingle_hashes."""
    if dialect == "spark":
        body = (
            f"transform(sequence(1, size({th}) - 2), i -> "
            f"((element_at({th}, i) * 31 + element_at({th}, i + 1)) % {P} "
            f"* 31 + element_at({th}, i + 2)) % {P})"
        )
        return f"CASE WHEN size({th}) < 3 THEN {th} ELSE {body} END"
    body = (
        f"list_transform(range(1, len({th}) - 1), i -> "
        f"(({th}[i] * 31 + {th}[i + 1]) % {P} "
        f"* 31 + {th}[i + 2]) % {P})"
    )
    return f"CASE WHEN len({th}) < 3 THEN {th} ELSE {body} END"


def token_hash_scalar(tok: str, dialect: str) -> str:
    """The per-token polynomial fold of token_hashes for ONE token
    expression — consumers hashing a scalar token column (count-min
    probes) must stay bit-identical with the array pipeline."""
    if dialect == "spark":
        return (f"aggregate(sequence(1, length({tok})), CAST(0 AS BIGINT), "
                f"(acc, i) -> (acc * 31 + ascii(substr({tok}, i, 1)))"
                f" % {P})")
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(1, length({tok}) + 1), "
            f"i -> CAST(unicode(substr({tok}, i, 1)) AS BIGINT))), "
            f"(acc, x) -> (acc * 31 + x) % {P})")


# --- embedding vectors -------------------------------------------------------
def dot(u: str, v: str, dialect: str) -> str:
    """Sequential left fold of the element products of two DOUBLE
    arrays: the same summation order in both engines, so a cosine built
    on it is bit-identical across them."""
    if dialect == "spark":
        return (f"aggregate(zip_with({u}, {v}, (x, y) -> x * y), "
                f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    return (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len({u}) + 1), i -> {u}[i] * {v}[i])),"
            f" (acc, x) -> acc + x)")


def cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine of rows ``a`` and ``b`` of a normed-vector relation
    (columns ``v`` and ``nrm``, as normed_ctes emits them)."""
    return f"{dot(f'{a}.v', f'{b}.v', 'duck')} / ({a}.nrm * {b}.nrm)"


def normed_ctes(name: str = "n", **member: str) -> str:
    """DuckDB CTE pair ``pre``/``<name>``: (vec_id, label, v, *member,
    nrm) from the ``embeddings`` table — the vector cast to DOUBLE[],
    its L2 norm by the dot fold, zero vectors dropped (the Spark side's
    normed-embedding frame). Each keyword adds a membership column,
    e.g. ``is_suite="<expr>"``, computed from the raw row."""
    extra = "".join(f",\n         {expr} AS {col}"
                    for col, expr in member.items())
    cols = "".join(f", {col}" for col in member)
    return f"""pre AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v{extra}
  FROM embeddings),
{name} AS (
  SELECT vec_id, label, v{cols},
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
  FROM pre
  WHERE nrm > 0)"""


def shingle_ctes(nonempty: bool = False, **member: str) -> str:
    """DuckDB CTE chain ``toks``/``th``/``shl``: (doc_id, sh, *member)
    from the ``documents`` table — tokens, token hashes, then the
    distinct 3-gram shingle hashes (the Spark side's shingled_docs).
    Each keyword adds a membership column computed from the row, e.g.
    ``is_bench="<expr>"``; ``nonempty`` keeps only docs with at least
    one shingle (the minhash convention)."""
    extra = "".join(f", {expr} AS {col}" for col, expr in member.items())
    shl = f"SELECT doc_id, {shingle_hashes('th', 'duck')} AS sh{extra} FROM th"
    if nonempty:
        shl = f"SELECT * FROM ({shl}) WHERE len(sh) > 0"
    return f"""toks AS (SELECT doc_id, {tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {token_hashes('toks', 'duck')} AS th FROM toks),
shl AS ({shl})"""
