"""Integer-exact cross-engine arithmetic (the round-half-boundary fix).

The r5 driver gate proved a cross-engine rounding class: Spark's
``round(x, 6)`` on DOUBLE goes through ``BigDecimal.valueOf`` (shortest
decimal representation) then HALF_UP, while DuckDB rounds the binary
double itself. For any exact rational p/q whose reduced denominator
divides 2*10^6 the true value can terminate at a 7th decimal digit '5':
the double stores just below it, its shortest repr still *reads* "...5",
Spark rounds up, DuckDB rounds down (verified live:
Spark round(1.0000025, 6) = 1.000003, DuckDB = 1.000002).

Repo rule: a FINAL output column that is ``round(p/q, 6)`` with
integer-exact p and q must never be computed through a double divide.
These builders emit the HALF_UP value in exact integer arithmetic —
identical by construction in both engines:

    micros = sign(p) * ((2*|p|*10^6 + q) intdiv (2*q))      [q > 0]
    value  = micros / 10^6   (one IEEE divide of identical operands)

Spark does the integer division as DECIMAL(38,0) ``div`` (truncates
toward zero, returns BIGINT); DuckDB as HUGEINT ``//`` (also truncates
toward zero). Operands inside the division are non-negative, so
truncation == floor and both engines agree bit-for-bit. The final
``micros / 1e6`` is a single IEEE-754 operation on identical inputs, so
the emitted DOUBLE is bit-identical too.

Requirements at every call site (document them in the op's docstring):
  * p and q are INTEGER-EXACT expressions (BIGINT columns or integer
    arithmetic over them);
  * q > 0 — fold the sign into p;
  * |p| < ~1.7e31 (DECIMAL(38,0) headroom after the *2e6 scale-up) and
    |p*10^6/q| < 2^53 so the output double is exact.

Expressions that pass through sqrt/ln/exp are NOT in this class — a
17-significant-digit irrational never has a 7-digit shortest repr — and
may keep plain ``round(..., 6)``.

Raw-float emission policy (round 7, after the r6 driver flipped a
ROUNDED sqrt-protected z in stats_mann_whitney): when to round a FINAL
double column at all —

  1. EMIT RAW (no round) whenever the value is +,−,×,÷,sqrt/ln/exp over
     BIT-IDENTICAL operands in both engines (exact integer aggregates —
     counts, integer-cent sums — combined by scalar arithmetic). Every
     IEEE-754 scalar operation is correctly rounded and deterministic,
     so the two engines produce the identical double and any downstream
     normalization (the driver formats raw doubles itself) sees equal
     values. round() is the ONLY step where the engines run different
     algorithms (Spark: shortest-decimal-repr HALF_UP; DuckDB:
     multiply-by-10^k-in-floating-point then round-half-away), so
     wrapping a deterministic double in round() strictly ADDS divergence
     surface. Applied to: stats_mann_whitney (u_a, z),
     stats_wilcoxon_signed_rank (z), stats_mann_kendall (z).
  2. EXACT UNITS (sp_rat/dk_rat) whenever the value is a pure integer
     rational p/q — never round(p/q-through-doubles, k).
  3. ROUND (both engines, identical text) only where the value is a
     float AGGREGATE over double data or accumulated float rationals
     (FLOAT_DATA / COMPOUND_RATIONAL in the lint's taxonomy): there the
     engines' doubles may differ in final ulps (summation order), and
     6-dp rounding is what re-aligns them; the residual boundary risk
     is measure-~zero and documented per site in
     tests/test_round_boundary_lint.py.

Timezone-free epoch helpers live here too (the second q_events_concurrency
failure mode): ``unix_micros(cast(ts as timestamp))`` on a TIMESTAMP_NTZ
column shifts under a non-UTC driver session because the NTZ->LTZ cast
interprets the wall clock in the session zone. ``timestampdiff`` in the
pure NTZ domain is session-TZ-free and equals DuckDB's ``epoch_us`` on
the same naive value (verified under America/New_York).
"""

from __future__ import annotations

_M6 = 1_000_000


def sp_units(p: str, q: str, scale: int = 6) -> str:
    """Spark SQL: signed integer 10^-scale units of HALF_UP(p/q) as a
    BIGINT-valued expression (exact integer arithmetic, q > 0; q = 0
    yields NULL in BOTH engines via the nullif guard — ANSI decimal
    div would otherwise raise where DuckDB returns NULL)."""
    m = 10**scale
    return (
        f"((CASE WHEN ({p}) < 0 THEN -1 ELSE 1 END) * "
        f"((2 * abs(cast(({p}) as decimal(38,0))) * {m}"
        f" + cast(({q}) as decimal(38,0)))"
        f" div nullif(2 * cast(({q}) as decimal(38,0)), 0)))"
    )


def dk_units(p: str, q: str, scale: int = 6) -> str:
    """DuckDB SQL: the same integer units as :func:`sp_units` (HUGEINT)."""
    m = 10**scale
    return (
        f"((CASE WHEN ({p}) < 0 THEN -1 ELSE 1 END) * "
        f"((2 * abs(CAST(({p}) AS HUGEINT)) * {m}"
        f" + CAST(({q}) AS HUGEINT))"
        f" // nullif(2 * CAST(({q}) AS HUGEINT), 0)))"
    )


def sp_rat(p: str, q: str, scale: int = 6) -> str:
    """Spark SQL: HALF_UP ``round(p/q, scale)`` in exact integer
    arithmetic. p, q integer-exact SQL expressions; q > 0.
    """
    return f"(cast({sp_units(p, q, scale)} as double) / {float(10 ** scale)})"


def dk_rat(p: str, q: str, scale: int = 6) -> str:
    """DuckDB SQL: the same HALF_UP scaled-unit value as :func:`sp_rat`."""
    return f"(({dk_units(p, q, scale)})::DOUBLE / {float(10 ** scale)})"


def sp_rat6(p: str, q: str) -> str:
    return sp_rat(p, q, 6)


def dk_rat6(p: str, q: str) -> str:
    return dk_rat(p, q, 6)


# --- timezone-free epoch --------------------------------------------------

_NTZ_EPOCH = "timestamp_ntz'1970-01-01 00:00:00'"


def sp_epoch_us(ts: str = "ts") -> str:
    """Spark SQL: session-TZ-free epoch microseconds of an NTZ column.

    Pure NTZ-domain ``timestampdiff`` — no NTZ->LTZ cast, so the value
    is the wall-clock micros DuckDB's ``epoch_us(ts::TIMESTAMP)`` sees,
    independent of ``spark.sql.session.timeZone``.
    """
    return f"timestampdiff(MICROSECOND, {_NTZ_EPOCH}, cast(({ts}) as timestamp_ntz))"

