"""Engine-portable deterministic expression helpers.

Floating-point SUM/AVG over a shuffled dataset is order-dependent, so a
Spark result and a DuckDB oracle result can differ in the last ulps and
break exact value-hash comparison. The fix is exact arithmetic: cast
doubles to DECIMAL(38,10) (deterministic: a double has one exact decimal
expansion, and rounding it to 10 fractional digits never hits a tie),
sum exactly (integer arithmetic — associative, order-independent), then
cast back to double (correctly rounded on both engines).

This costs a little CPU versus a raw double sum but is shuffle-order
independent — which also means results are *reproducible run-to-run at
100 TB*, a property worth having beyond oracle checking. Helpers come in
pairs: a Spark Column builder and the equivalent DuckDB SQL fragment.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DEC = "decimal(38,10)"


# The exact decimal sum is rounded to scale 4 BEFORE the double cast:
# DuckDB converts DECIMAL→DOUBLE as hugeint→double→÷10^scale (two
# roundings — off by 1 ulp once the scaled integer exceeds 2^53), while
# Spark's BigDecimal→double is correctly rounded. At scale 4 the scaled
# integer stays under 2^53 for |sum| ≤ ~9e11, making both conversions
# exact and the results bit-identical.
_OUT_SCALE = 4


def dsum(col) -> Column:
    """Order-independent exact sum of a double column, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), _OUT_SCALE).cast("double")


def dsum_sql(expr: str) -> str:
    return (
        f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,10))), {_OUT_SCALE}) AS DOUBLE)"
    )


def davg(col) -> Column:
    """Order-independent mean: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), _OUT_SCALE).cast("double") / F.count(c)


def davg_sql(expr: str) -> str:
    return (
        f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,10))), {_OUT_SCALE}) AS DOUBLE)"
        f" / COUNT({expr})"
    )


def epoch_s(col) -> Column:
    """Timestamp → whole epoch seconds (floor), matching the oracle's
    ``CAST(epoch(date_trunc('second', ts)) AS BIGINT)``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("long")


def epoch_s_sql(expr: str) -> str:
    return f"CAST(epoch(date_trunc('second', {expr})) AS BIGINT)"


def bounded_window_key(col) -> Column:
    """Non-foldable constant partition key for windows over BOUNDED
    (bins-sized) frames. Evaluates to 0 on every non-null row — the
    window still runs in one partition, which is the intended (cheap)
    plan for a frame the size of the bins table — but unlike a bare
    literal it survives constant folding, so the WindowExec
    "No Partition Defined" warning is not emitted. Keeping the logger
    loud matters: a REAL unpartitioned window over detail rows must
    stay visible in plan audits.

    Works for ANY input type (DATE/STRING included) and ANY
    nullability: the key is pmod(xxhash64(c), 1) — xxhash64 hashes
    every type (NULL included) to a non-null BIGINT, and pmod-by-1 is
    identically 0 yet has no Catalyst simplification rule, so the key
    is never folded even when c is non-nullable. (The previous
    `length(cast(c)) * 0` form WAS folded for non-nullable inputs —
    integer x*0 → 0 — silently dropping the partitionSpec.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(1))


def md5_int(col, hex_digits: int) -> Column:
    """The first ``hex_digits`` hex digits of md5(col) as a BIGINT — the
    portable hash behind every md5 bucket, shard, arm and uniform draw
    (DuckDB: ``CAST(concat('0x', substr(md5(x), 1, n)) AS BIGINT)``).
    ``col`` must already be a string column; 15 digits (60 bits) is the
    most a signed BIGINT holds."""
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


# 2^60 as double: the md5 60-bit prefix maps any key to u ∈ [0,1) with
# identical bits on every engine.
U_DENOM = 1152921504606846976.0


def u01(col) -> Column:
    """Deterministic md5-uniform draw in [0,1) from a key column.

    Portable across engines and cluster sizes: no RNG state, no
    partition dependence — the same key always draws the same u, which
    is what makes sampling/splitting/noise reproducible at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    return md5_int(c.cast("string"), 15).cast("double") / U_DENOM


def u01_sql(expr: str) -> str:
    return (
        f"CAST(CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 15))"
        f" AS BIGINT) AS DOUBLE) / {U_DENOM!r}"
    )


def within_rel_bound(approx, exact, rel: float) -> Column:
    """Bounded-relative-error gate: |approx - exact| <= rel * exact.

    The predicate behind q_agg_approx's `within_bound` boolean (and any
    future sketch whose published guarantee is relative error). Factored
    out so tests can apply it to a DELIBERATELY out-of-bound estimate
    and prove the gate can flip FALSE — a gate that is TRUE on real data
    but cannot fail is not a gate."""
    a = F.col(approx) if isinstance(approx, str) else approx
    e = F.col(exact) if isinstance(exact, str) else exact
    return F.abs(a - e) <= rel * e


def rank_within_eps(lt, le, n, frac: float, eps: float) -> Column:
    """Greenwald-Khanna rank-space gate: the returned element's rank
    interval [lt+1, le] (lt = elements strictly below it, le = at or
    below) must intersect the guaranteed band [(frac-eps)*n,
    (frac+eps)*n], with ±1 rank of slack for boundary conventions.

    Factored out of q_agg_approx_pct so tests can feed synthetic rank
    counts that sit OUTSIDE the band and assert the boolean goes FALSE."""
    lt_c = F.col(lt) if isinstance(lt, str) else lt
    le_c = F.col(le) if isinstance(le, str) else le
    n_c = F.col(n) if isinstance(n, str) else n
    return (lt_c + 1 <= (frac + eps) * n_c + 1) & (le_c >= (frac - eps) * n_c - 1)


def safe_corr(x, y) -> Column:
    """Pearson correlation that degrades to NULL on zero variance.
    Spark 4 runs ANSI mode, and the built-in ``corr`` aggregate's final
    division THROWS on a constant column instead of returning NULL
    (DuckDB's corr returns NULL) — a degenerate-but-valid input would
    abort a 1000-executor job. covar_pop / nullif(σx·σy, 0) is the
    same mathematical quantity with the divide under our control; the
    float path differs from the built-in only in intermediate scaling
    (callers round at 6 dp)."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    return F.covar_pop(cx, cy) / F.nullif(
        F.stddev_pop(cx) * F.stddev_pop(cy), F.lit(0.0)
    )
