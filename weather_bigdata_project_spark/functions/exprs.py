"""Cross-engine-deterministic scalar expression helpers.

Rule discovered by the oracle harness: Spark's ROUND(x, k>0) on DOUBLE
goes through BigDecimal.valueOf (shortest decimal string) while DuckDB
rounds the binary value — at exact .xx5 boundaries they disagree. ROUND at
scale 0 is always consistent (both engines apply ties-away-from-zero to
the same IEEE double). So: never emit ROUND(x, k>0) in a shared snippet;
scale, round at 0, unscale.
"""

from __future__ import annotations


def rnd(expr: str, k: int) -> str:
    """ROUND(expr, k) with bit-identical Spark/DuckDB behavior.

    The trailing `+ 0.0e0` normalizes the SIGN OF ZERO: a tiny negative
    input rounds to -0.0 in DuckDB (its ROUND keeps the sign bit) but
    to +0.0 in Spark (BigDecimal has no negative zero), and the two
    print differently ('-0.0' vs '0.0') in the driver's canonical hash.
    IEEE -0.0 + 0.0 = +0.0 while every other value (and NULL) passes
    through unchanged. Found by the fixture fuzz (seed 404: one z-score
    in (-0.0005, 0) out of ~600 rows across six prior variants)."""
    scale = f"1e{k}"
    return f"(CAST(ROUND(({expr}) * {scale}) AS DOUBLE) / {scale} + 0.0e0)"


def cents(col: str) -> str:
    """Exact integer cents for an exactly-2-decimal double column —
    makes cross-row SUMs order-insensitive (exact integer arithmetic)."""
    return f"CAST(ROUND(({col}) * 100.0e0) AS BIGINT)"


def money(sum_cents: str) -> str:
    """Integer cents back to a display double (exact: c/100 has <=2
    decimals, so no rounding boundary exists)."""
    return f"(CAST({sum_cents} AS DOUBLE) / 100.0e0)"


#: epoch microseconds of the TIMESTAMP_NTZ column `ts`, timezone-
#: independent; DuckDB spells it ``epoch_us(ts)``
EPOCH_US_SPARK = (
    "timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01 00:00:00'), ts)"
)


#: the two largest primes below 2^31 used by :func:`id_mix`; kept as
#: module constants so tests can reproduce the mix in plain Python
ID_MIX_P1 = 2147483647
ID_MIX_P2 = 2147483629


def id_mix(key: str, salt: int = 0) -> str:
    """Full-entropy deterministic integer hash of a BIGINT expression,
    as a Spark/DuckDB-identical SQL snippet (only ``%``, ``*``, ``+`` —
    same precedence and sign semantics in both engines).

    Negative keys are handled: both engines' ``%`` keeps the dividend's
    sign, so a raw ``k % p`` on a negative key would go negative and
    every downstream ``% n_buckets`` with it (collapsing e.g. a
    train/validation/test CASE to its fallback arm). Each per-prime
    residue is therefore normalized ``((k % p) + p) % p`` into
    ``[0, p)`` — an identity for nonnegative keys (so all existing
    bucketings are byte-identical) and the mathematically-correct
    residue for negative ones, keeping the output and every downstream
    modulus nonnegative for EVERY BIGINT key.

    Replaces the old ``(key % 2^20) * LCG`` reduction, which was
    BIGINT-safe but gave every assignment a 1,048,576-key periodicity
    (ids congruent mod 2^20 always shared a bucket). Here the key is
    reduced mod TWO distinct primes p1, p2 < 2^31; the residue pair is
    injective on any key window of length p1*p2 ~ 4.6e18 (half the
    positive BIGINT range — keys exactly p1*p2 apart collide, the only
    repeat), so no short period exists. Each residue is scrambled by a
    multiply mod p followed by a QUADRATIC step t*(t+3) mod p — the
    nonlinearity matters: the sum of two purely linear maps is
    piecewise-linear and visits only ~1/4 of buckets on sequential
    ids (measured), while this mix is uniform (chi2 ~ 1037/1000 on
    200k sequential ids) and fully decorrelated at stride 2^20
    (same-bucket rate 0.00106 ~ 1/1000, offset distribution uniform).

    Overflow audit (both engines evaluate in BIGINT): raw ``k % p`` is
    in (-p, p), so ``(k % p) + p`` is in (0, 2p) < 2^32 and the second
    ``% p`` lands in [0, p); normalized residue r < 2^31;
    (r + salt) * 69621 < 2^48 for salt < 2^31; t < 2^31;
    t * (t + 3) <= (p1-1) * (p1+2) = 4.61e18 < 2^63; final sum
    < p1 + p2 < 2^33. Safe for EVERY BIGINT key including +/-(2^63 - 1)
    (the salt joins AFTER the per-prime reduction precisely so it can
    never push the key itself past the range).

    ``salt`` shifts both residues before their scrambles, so different
    salts give independently scrambled bucketings (measured agreement
    at a 70% threshold: 0.586 ~ the 0.58 expected of independent
    splits). Callers take the result ``% n_buckets``.
    """
    assert 0 <= salt < ID_MIX_P2, "salt must be a small literal"
    k = f"({key})"
    s = f" + {salt}" if salt else ""
    # ((k % p) + p) % p: true nonnegative residue (identity for k >= 0)
    r1 = f"(({k} % {ID_MIX_P1} + {ID_MIX_P1}) % {ID_MIX_P1})"
    r2 = f"(({k} % {ID_MIX_P2} + {ID_MIX_P2}) % {ID_MIX_P2})"
    t1 = f"(({r1}{s}) * 48271 % {ID_MIX_P1})"
    t2 = f"(({r2}{s}) * 69621 % {ID_MIX_P2})"
    return (
        f"(({t1} * ({t1} + 3)) % {ID_MIX_P1} + "
        f"({t2} * ({t2} + 3)) % {ID_MIX_P2})"
    )
