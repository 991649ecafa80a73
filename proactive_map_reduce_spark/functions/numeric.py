"""Cross-engine-deterministic numeric display helpers.

``round(x, 6)`` is NOT a portable operation even on bit-identical input
doubles: Spark converts the double through its shortest decimal
representation before HALF_UP (java BigDecimal.valueOf), while DuckDB
rounds the exact binary value — so a quotient whose shortest repr lands
exactly on the half boundary (e.g. 27484/64000 = "0.4294375") rounds UP
in Spark and DOWN in DuckDB. The sf0.1 deep gate caught two live
instances (q_quality_score, q_event_interarrival).

``round_ratio`` (and its DuckDB mirror ``round_ratio_sql``) sidesteps
float round() entirely for non-negative integer ratios: the half-up
6-decimal rounding (the display grain of every ratio column) is done in
exact int64 arithmetic —
``floor((2·num·10⁶ + den) / (2·den)) / 10⁶`` — where the
floor division runs as Spark's integral ``div`` (bigint in, bigint
out; DuckDB mirror ``//``), so every intermediate stays an exact
int64. Both engines then convert the SAME integer to double
(round-to-nearest in both) and perform ONE identical IEEE division by
10⁶, yielding bit-identical doubles with no rounding function and no
double-precision integer arithmetic anywhere in the path.

Domain: num ≥ 0, den > 0, and 2·num·10⁶ + den must stay below 2^63
(num ≲ 4.6e12) — the int64 overflow bound of the scaled numerator;
DuckDB raises on bigint overflow rather than wrapping, so breaching it
is loud, not silently wrong. NEGATIVE numerators are out of domain for
every helper in this module: both engines' integral division truncates
toward zero (Spark ``div``, DuckDB ``//`` — verified, ``-7 // 2 = -3``),
so the engines still agree with each other below zero, but the result
is truncation-toward-zero, not the documented half-up — a silent
semantics change rather than an error. Every current call site is
non-negative by construction (counts, lengths, 2-decimal prices,
discounts in [0,1], micro-units of scores in [0,1]); a call site whose
sign is data-dependent must carry its own precondition comment (see the
event-value mean in queries/relational.py) or pre-clamp. Within that domain the cross-engine
bit-identity is unconditional; the value additionally equals the exact
half-up decimal whenever the scaled quotient is double-exact
(num/den ≲ 9e9 — true for every live ratio site, which are all means,
rates, or scores), and is a ulp off but still engine-identical beyond.
For numerators past even the int64 bound (e.g. microsecond sums at
extreme scale), skip rounding altogether and emit the raw quotient:
identical exact-integer operands through the same IEEE op sequence are
already bit-identical across engines — it is only round() that
diverges.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def round_ratio(num: Column, den: Column) -> Column:
    """Half-up ``round(num/den, 6)`` for non-negative integer columns,
    computed exactly (see module docstring). Returns double; nulls
    propagate. Domain: 2·num·10^6 + den < 2^63."""
    a = num.cast("bigint") * 2_000_000 + den.cast("bigint")
    b = den.cast("bigint") * 2
    q = F.call_function("div", a, b)  # integral divide: exact int64
    return q / F.lit(1e6)


def round_ratio_sql(num: str, den: str) -> str:
    """The DuckDB mirror of :func:`round_ratio` — integer floor division
    (``//``) keeps every step exact; operand SQL strings are substituted
    verbatim, so parenthesize compound expressions at the call site."""
    return (
        f"(((2 * 1000000 * CAST(({num}) AS BIGINT) + CAST(({den}) AS BIGINT)) "
        f"// (2 * CAST(({den}) AS BIGINT))) / 1000000.0)"
    )


def fixed_units(value: Column, scale: int) -> Column:
    """Exact integer units of a double that is (within accumulated float
    error ≪ half a unit) a multiple of 10^-scale — e.g. cents for a
    2-decimal money column, rev-units (scale 4) for a product of two
    2-decimal columns, micro-units (scale 6) for an already-6-dp-rounded
    score. ``floor(v·10^s + 0.5)`` is engine-deterministic because the
    fractional part sits near 0, never near the 0/1 boundary.

    Summing THESE (bigint, associative, exact) instead of the raw
    doubles is what makes multi-row aggregates cross-engine- and
    partitioning-deterministic: float sums are order-dependent, so two
    engines land ulps apart and a downstream round() can split on a
    boundary value (e.g. a revenue group sum that is exactly x.xx50).
    """
    return F.floor(value * F.lit(float(10 ** scale)) + F.lit(0.5))


def fixed_units_sql(value: str, scale: int) -> str:
    return f"CAST(floor(({value}) * {float(10 ** scale)} + 0.5) AS BIGINT)"


def rescale_units(units: Column) -> Column:
    """Half-up round of an exact integer count of 1e-4 units (a revenue
    sum) DOWN to 2 decimals, as a double. Dividing down instead of
    multiplying up means the only headroom needed over the units sum
    itself is +50, so magnitude-wise the domain is the full NON-NEGATIVE
    int64 range (negatives are out of domain module-wide — integral div
    truncates, see module docstring); the integral ``div`` keeps the
    quotient exact (the earlier ``(a - pmod) / b`` form went through
    double and drifted off the SQL mirror above ~2^55 units)."""
    a = units.cast("bigint") + 50
    q = F.call_function("div", a, F.lit(100))  # integral divide: exact int64
    return q / F.lit(100.0)


def rescale_units_sql(units: str) -> str:
    return f"(((CAST(({units}) AS BIGINT) + 50) // 100) / 100.0)"


def money_sum_2dp(value: Column) -> Column:
    """Cross-engine-exact ``round(sum(value), 2)`` for a money-like
    expression that is a product of two 2-decimal factors (extendedprice
    × (1−discount) — exact at 4 decimals): accumulate exact 1e-4-unit
    int64s (associative, partitioning-independent), half-up to cents.
    This is THE revenue display aggregate; use it instead of re-spelling
    ``rescale_units(F.sum(fixed_units(v, 4)))`` per query."""
    return rescale_units(F.sum(fixed_units(value, 4)))


def money_sum_2dp_sql(value: str) -> str:
    """DuckDB mirror of :func:`money_sum_2dp` (same operand caveat as
    :func:`round_ratio_sql`: the SQL string is substituted verbatim)."""
    return rescale_units_sql(f"sum({fixed_units_sql(value, 4)})")


def decimal_sum(value: Column) -> Column:
    """Order- and engine-deterministic ``round(sum(value), 2)`` for an
    UNBOUNDED-magnitude double measure (the events ``value`` class:
    user-supplied numbers with no schema-level cap), as a double.

    The int64-unit trick above cannot host this domain — a single 1e12
    measure is 1e18 micro-units, so a few rows overflow the bigint
    accumulator (ANSI raises) — and a raw double ``sum()`` is
    accumulation-order-dependent: with mixed magnitudes in one group the
    engines land ulps apart and ``round()`` publishes the difference
    (observed via tools/adversarial_gate.py: four rollup/window queries
    diverged in their last printed decimal once a 1e12 value joined a
    group). DECIMAL(38,6) accumulation fixes both ends:

      * the double→decimal quantization is engine-identical — no finite
        binary double sits exactly on a 1e-6 midpoint (5·10⁻⁷ has no
        finite base-2 representation), so round-to-nearest agrees,
      * the 128-bit sum is exact and associative (partition- and
        micro-batch-order-independent — the same property the money
        sums get from int64 units),
      * both engines round decimals half-up away from zero (verified:
        1.005→1.01, −1.005→−1.01, 2.675→2.68 in Spark AND DuckDB —
        unlike double round(), which diverges on shortest-repr
        boundaries, module docstring) and convert the same exact
        decimal to the same double.

    Domain: finite values, |v| < 10³² (38−6 digits of headroom, ~10¹³×
    the adversarial fixture's 1e12 ceiling); NaN/Inf are a
    data-contract violation and raise LOUDLY in both engines (ANSI
    decimal cast). Nulls are skipped; an all-null/empty group is NULL.

    Display bound: the final decimal→double conversion is only
    guaranteed engine-identical while the ROUNDED sum's scaled integer
    |sum|·10^2 stays below 2^53 — DuckDB converts decimals through
    int128→double→·10^−2, which double-rounds one ulp off the
    correctly-rounded value beyond that (measured: a 4e12 sum displayed
    at 6 dp split the engines; the same sum at 2 dp is exact). So the
    bound is |sum| < 9e13 — 5× the adversarial fixture's worst group and
    far beyond any canonical one. A finer display grain would need
    |sum|·10^dp < 2^53.
    """
    return F.round(F.sum(value.cast("decimal(38,6)")), 2).cast("double")


def decimal_sum_sql(value: str) -> str:
    """DuckDB mirror of :func:`decimal_sum` (same operand caveat as
    :func:`round_ratio_sql`: the SQL string is substituted verbatim)."""
    return f"CAST(round(sum(CAST(({value}) AS DECIMAL(38,6))), 2) AS DOUBLE)"


def mean_6dp(value: Column) -> Column:
    """Cross-engine-exact mean of an already-6-dp-rounded double column:
    exact micro-unit int64 sum (associative, partition-independent),
    then a quotient of identical exact operands — no rounding step, so
    no display boundary to split on."""
    return F.sum(fixed_units(value, 6)) / F.count(value) / F.lit(1e6)


def mean_6dp_sql(value: str) -> str:
    """DuckDB mirror of :func:`mean_6dp` (same op order)."""
    return f"sum({fixed_units_sql(value, 6)}) / CAST(count({value}) AS DOUBLE) / 1e6"
