"""Cross-engine contract of functions/numeric.py.

Each helper has a Spark Column form and a DuckDB SQL mirror; the whole
deterministic-display design rests on the two producing BIT-IDENTICAL
doubles. These tests pin that three ways:

1. Spark result == DuckDB result on the same integers (the actual
   cross-engine contract), over random AND adversarial boundary inputs
   (denominators 2^7·5^t whose quotients terminate at exactly 7
   decimals — the values float round() gets wrong).
2. Spark result == exact-Decimal half-up rounding (the semantic truth).
3. fixed_units recovers exact integer units from fixed-point doubles
   across the representable range.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from proactive_map_reduce_spark.functions.numeric import (
    fixed_units,
    fixed_units_sql,
    money_sum_2dp,
    money_sum_2dp_sql,
    rescale_units,
    rescale_units_sql,
    round_ratio,
    round_ratio_sql,
)

INT64_MAX = 2**63 - 1

# the denominators where float round(x, 6) splits engines: quotients
# terminate at exactly 7 decimals
BOUNDARY_DENS = [128, 640, 3200, 16000, 80000]


def _spark_eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def _duck_eval(sql_expr):
    return duckdb.sql(f"SELECT {sql_expr} AS v").fetchone()[0]


def _exact_round(num: int, den: int, scale: int) -> float:
    q = (Decimal(num) / Decimal(den)).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )
    return float(q)


@settings(max_examples=60, deadline=None)
@given(num=st.integers(0, 4_600_000_000_000), den=st.integers(1, 2_000_000))
def test_round_ratio_matches_duck_and_decimal_random(spark, num, den):
    from pyspark.sql import functions as F

    got_spark = _spark_eval(spark, round_ratio(F.lit(num), F.lit(den)))
    got_duck = _duck_eval(round_ratio_sql(str(num), str(den)))
    assert got_spark == got_duck  # bit-identical cross-engine, full domain
    # exact-decimal display additionally needs the scaled quotient to be
    # double-exact (num/den ≲ 9e9 at scale 6); above that the value is a
    # ulp off the true decimal but still engine-identical
    if num // den <= 9_000_000_000:
        assert got_spark == pytest.approx(_exact_round(num, den, 6), abs=0)


@pytest.mark.parametrize("den", BOUNDARY_DENS)
def test_round_ratio_on_exact_half_boundaries(spark, den):
    """Quotients landing exactly on m.5e-7 — the class where the engines'
    float round() split (e.g. 27484/64000) — must round HALF_UP in both
    engines identically."""
    from pyspark.sql import functions as F

    for k in (1, 3, den // 2 * 10 + 5):  # odd numerators → exact halves
        num = k  # k/den terminates at 7 decimals for odd k
        got_spark = _spark_eval(spark, round_ratio(F.lit(num), F.lit(den)))
        got_duck = _duck_eval(round_ratio_sql(str(num), str(den)))
        exact = _exact_round(num, den, 6)
        assert got_spark == got_duck == exact


def test_round_ratio_known_regression(spark):
    """The live sf0.1 find: 27484/64000 = 0.4294375 → 0.429438 (half-up),
    where Spark's float round said .429438 and DuckDB's said .429437."""
    from pyspark.sql import functions as F

    got = _spark_eval(spark, round_ratio(F.lit(27484), F.lit(64000)))
    assert got == 0.429438
    assert _duck_eval(round_ratio_sql("27484", "64000")) == 0.429438


@settings(max_examples=40, deadline=None)
@given(units=st.integers(0, INT64_MAX - 50))
def test_rescale_units_matches_duck_and_decimal(spark, units):
    """1e-4 rev-units → cents, half-up — over the FULL int64 domain (the
    integral-div rewrite's claim; the earlier double-division form
    drifted off the SQL mirror above ~2^55 units)."""
    from pyspark.sql import functions as F

    got_spark = _spark_eval(spark, rescale_units(F.lit(units)))
    got_duck = _duck_eval(rescale_units_sql(str(units)))
    assert got_spark == got_duck  # bit-identical cross-engine
    # semantic truth holds wherever cents/100 is still double-exact
    # enough to compare via Decimal; above 2^53 cents both engines make
    # the SAME nearest-double conversion, which is the contract
    if units < 2**53:
        exact = float(
            (Decimal(units) / Decimal(10_000)).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
        )
        assert got_spark == exact


def test_rescale_units_above_2pow55_regression(spark):
    """The review find: units=40000000000000123 (~2^55) — the old
    (a−pmod)/b double path yielded 4000000000000.0093 in Spark while the
    SQL mirror's integer ``//`` said 4000000000000.01."""
    from pyspark.sql import functions as F

    units = 40_000_000_000_000_123
    got_spark = _spark_eval(spark, rescale_units(F.lit(units)))
    got_duck = _duck_eval(rescale_units_sql(str(units)))
    assert got_spark == got_duck == 4000000000000.01


@settings(max_examples=40, deadline=None)
@given(cents=st.integers(0, 10**13), scale=st.sampled_from([2, 4, 6]))
def test_fixed_units_roundtrip(spark, cents, scale):
    """A fixed-point double (exact k·10^-s value as stored by parquet)
    converts back to exactly k units in both engines."""
    from pyspark.sql import functions as F

    value = cents / float(10**scale)
    got_spark = _spark_eval(spark, fixed_units(F.lit(value), scale))
    # CAST: a bare decimal literal parses as DECIMAL in DuckDB; the
    # production operands are parquet DOUBLE columns
    got_duck = _duck_eval(fixed_units_sql(f"CAST({value!r} AS DOUBLE)", scale))
    # float conversion of cents/10^s then back: identical in both
    # engines; equals cents whenever value·10^s rounds to cents (always,
    # for doubles within half a unit of the true fixed-point value)
    assert got_spark == got_duck
    assert abs(got_spark - cents) <= 1  # ulp-adjacent only at extreme magnitude


def test_money_sum_2dp_three_forms_agree(spark):
    """The revenue display aggregate exists in three spellings — the
    Column helper, its DuckDB mirror, and the hand-inlined Spark-SQL
    text inside q_local_supplier_volume — which must stay in lockstep.
    This pins all three on a fixture with a boundary group sum (cents
    half at 4 decimals: 0.0050 rev-units → half-up)."""
    from pyspark.sql import functions as F

    rows = [(1, 4.07, 0.05), (1, 9.99, 0.10), (1, 123456.78, 0.00),
            (2, 0.01, 0.00), (2, 0.02, 0.25)]
    df = spark.createDataFrame(rows, "k int, price double, disc double")
    df.createOrReplaceTempView("_msum_rows")
    expr = F.col("price") * (1 - F.col("disc"))
    got_col = {
        r["k"]: r["v"]
        for r in df.groupBy("k").agg(money_sum_2dp(expr).alias("v")).collect()
    }
    # the SQL-text spelling used by q_local_supplier_volume
    got_sql_text = {
        r["k"]: r["v"]
        for r in spark.sql(
            "SELECT k, (CAST(sum(CAST(floor(price * (1 - disc) "
            "* CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) "
            "AS BIGINT) + 50) DIV 100 / CAST(100.0 AS DOUBLE) AS v "
            "FROM _msum_rows GROUP BY k"
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE _msum_rows(k INT, price DOUBLE, disc DOUBLE)"
    )
    con.executemany("INSERT INTO _msum_rows VALUES (?, ?, ?)", rows)
    got_duck = dict(
        con.sql(
            f"SELECT k, {money_sum_2dp_sql('price * (1 - disc)')} AS v "
            "FROM _msum_rows GROUP BY k"
        ).fetchall()
    )
    assert got_col == got_sql_text == got_duck
    # semantic check on the exact-4dp group: ties round half-UP
    exact = {
        k: float(
            sum(
                (Decimal(str(p)) * (1 - Decimal(str(d)))).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
                for kk, p, d in rows
                if kk == k
            ).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )
        for k in (1, 2)
    }
    assert got_col == exact


def test_fixed_units_exact_at_money_magnitudes(spark):
    """At realistic money magnitudes (≤ 1e9 dollars) recovery is exact."""
    from pyspark.sql import functions as F

    for cents in (1, 50, 99, 101, 123456789, 10**11):
        value = cents / 100.0
        assert _spark_eval(spark, fixed_units(F.lit(value), 2)) == cents


def test_negative_numerators_agree_cross_engine_but_are_out_of_domain(spark):
    """ADVICE r4 (numeric.py:51): below zero the integral division
    truncates toward zero in BOTH engines, so the helpers still agree
    with each other — but the result is truncation, not the documented
    half-up. This pins both facts: (a) cross-engine agreement holds even
    out of domain (a signed value slipping in diverges from the decimal
    semantics, never from the oracle), (b) the truncation really does
    differ from half-up on a half boundary, which is why negatives are
    excluded from the domain."""
    from pyspark.sql import functions as F

    for num, den in ((-7, 2_000_000), (-1, 2_000_000), (-27484, 64000)):
        s = _spark_eval(spark, round_ratio(F.lit(num), F.lit(den)))
        d = _duck_eval(round_ratio_sql(str(num), str(den)))
        assert s == d  # engines agree even out of domain
    # -1/2 units at to-scale: half-up would give -0.01 (away) or 0.0
    # (toward +inf); truncation gives 0.0 — whichever convention one
    # wanted, the point is the code does NOT implement decimal half-up
    # for negatives, hence the domain exclusion.
    s = _spark_eval(spark, rescale_units(F.lit(-50)))
    d = _duck_eval(rescale_units_sql("-50"))
    assert s == d == 0.0


def test_fixture_event_values_are_nonnegative():
    """Pins the PRECONDITION of the one sign-data-dependent call site
    (queries/relational.py resample mean): event `value` must stay a
    non-negative measure in every fixture, or that site needs a clamp."""
    import glob

    import duckdb as dk

    for p in sorted(glob.glob("/root/testdata/sf*/events.parquet")):
        lo = dk.sql(f"SELECT min(value) FROM '{p}'").fetchone()[0]
        assert lo is not None and lo >= 0, f"{p}: min(value)={lo}"


def test_zero_denominator_guard_on_timing_arith_shape(spark):
    """ANSI-mode audit (round 5): data-dependent integral denominators
    must be guarded — an empty document (n_chars=0) must yield NULL
    decoding speed, not an ANSI division error. The sum/count family
    needs no guard (count 0 ⟺ null numerator short-circuits)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "", 0), (2, "a b", 3)], ["doc_id", "text", "n_chars"]
    )
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            F.when(
                F.col("n_chars") > 0,
                round_ratio(
                    100 * F.size(F.split("text", " ")), F.col("n_chars")
                ),
            ).alias("s"),
        ).collect()
    }
    assert out[1] is None and abs(out[2] - 66.666667) < 1e-9
