"""Exact money sums in 64-bit integer lanes (``_util.lanes`` /
``exact_sum``): every product shape the query modules sum must equal the
decimal sum it replaces bit for bit, at the edges of the stored doubles
and at the declared precision bounds, and the limb sums must stay exact
at the top of every term's bit bound.
"""

from __future__ import annotations

import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from naqed_spark.queries._util import Lane, dec, dsum, exact_sum, lanes
from naqed_spark.session import get_spark, tune_session

pytestmark = pytest.mark.quick

INF, NAN = float("inf"), float("nan")
# half-cent 3-decimal values (Spark's cast rounds them half-up through the
# shortest decimal string: 1.005 → 1.01, where rint(x*100) gives 100),
# the decimal(12,2) and decimal(4,2) bounds and just past them, and the
# doubles that are not money at all
PRICES = [
    38228.5, 1234.56, 0.1, 0.7, 1.005, 2.675, 0.125, -1.005, 0.015,
    999999.999, 1e-3, 9999999999.99, -9999999999.99, 9999999999.995,
    1e10, -1e10, None, NAN, INF, -INF, -0.0, 5e-324, 1e-310, 1e300,
]
RATES = [
    0.97, 0.05, 0.07, 1.005, 0.015, 99.99, -99.99, 99.995, 100.0,
    None, NAN, -0.0, 5e-324,
]


@pytest.fixture(scope="module")
def spark():
    return tune_session(get_spark("naqed-lane-tests"))


@pytest.fixture(scope="module")
def edge(spark):
    """Every price against every rate, spread over five groups so that
    some groups mix valid and null lanes; ``r``/``q`` cycle through the
    prices in other orders. Rows where the price, discount and tax sit at
    their bounds overflow a naive long product."""
    rows = [
        (i % 5, p, d, RATES[(i * 7) % len(RATES)],
         PRICES[(i * 3) % len(PRICES)], PRICES[(i * 5) % len(PRICES)])
        for i, (p, d) in enumerate((p, d) for p in PRICES for d in RATES)
    ]
    return spark.createDataFrame(
        rows, "g int, p double, d double, t double, r double, q double"
    )


def _shapes():
    """(name, lane expression, decimal twin) for each product shape the
    query modules sum."""
    p4 = "decimal(4,2)"
    P, D, T, R, Q = dec("p"), dec("d", p4), dec("t", p4), dec("r"), dec("q")

    def lane(p, d, t, r, q):
        return {
            "price": p,
            "rate": d,
            "revenue": p * (1 - d),
            "charge": p * (1 - d) * (1 + t),
            "price_x_rate": p * d,
            "case_else_zero": p.where("d > 0.05", otherwise=0),
            "case_else_null": (p * (1 - d)).where("d > 0.05"),
            "profit": p * (1 - d) - r * q * Decimal("0.10"),
        }

    twin = {
        "price": P,
        "rate": D,
        "revenue": P * (1 - D),
        "charge": P * (1 - D) * (1 + T),
        "price_x_rate": P * D,
        "case_else_zero": F.when(F.col("d") > 0.05, P).otherwise(
            F.lit(0).cast("decimal(12,2)")
        ),
        "case_else_null": F.when(F.col("d") > 0.05, P * (1 - D)),
        "profit": P * (1 - D) - R * Q * F.lit(0.10).cast(p4),
    }
    return lane, twin


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def test_lane_sums_match_decimal_sums_bit_for_bit(edge):
    df, cols = lanes(
        edge, "p", ("d", "decimal(4,2)"), ("t", "decimal(4,2)"), "r", "q"
    )
    lane_of, twin = _shapes()
    shapes = lane_of(*cols)
    got = df.groupBy("g").agg(
        *[dsum(v).alias(f"{k}_d") for k, v in shapes.items()],
        *[exact_sum(v).alias(f"{k}_x") for k, v in shapes.items()],
    ).orderBy("g").collect()
    want = df.groupBy("g").agg(
        *[dsum(v).alias(f"{k}_d") for k, v in twin.items()],
        *[F.sum(v).alias(f"{k}_x") for k, v in twin.items()],
    ).orderBy("g").collect()
    assert len(got) == 5
    for k in shapes:
        assert [_bits(r[f"{k}_d"]) for r in got] == [
            _bits(r[f"{k}_d"]) for r in want
        ], k
        assert [r[f"{k}_x"] for r in got] == [r[f"{k}_x"] for r in want], k
    # the fixture reaches every null path and the half-up fallback
    assert any(r["price_d"] is not None for r in got)


def test_lanes_are_null_exactly_where_the_decimal_cast_is(edge):
    df, (p,) = lanes(edge, "p")
    rows = df.select(
        F.col("p__lane").alias("lane"),
        (dec("p") * 100).cast("long").alias("cents"),
    ).collect()
    assert [r["lane"] for r in rows] == [r["cents"] for r in rows]


def test_every_term_product_stays_below_two_to_the_63(edge):
    _, cols = lanes(
        edge, "p", ("d", "decimal(4,2)"), ("t", "decimal(4,2)"), "r", "q"
    )
    lane_of, _ = _shapes()
    for name, lane in lane_of(*cols).items():
        assert all(t.bound < 1 << 63 for t in lane.terms), name
    # the charge's bound product is ~2^66.5: it must have been split
    charge = lane_of(*cols)["charge"]
    assert len(charge.terms) > 1
    assert (10**12 - 1) * 10099 * 10099 >= 1 << 63


@pytest.mark.parametrize("sign", [1, -1])
def test_limb_sums_exact_at_the_bit_bound(spark, sign):
    """Lanes at the top of their declared bounds (the largest price, a
    ±99.99 rate), repeated, against Python int arithmetic: every limb of
    every term is at its widest, and the naive long sum of even one
    charge product would already have wrapped."""
    n = 4096
    price, rate = sign * 9999999999.99, 99.99
    df = spark.range(n).select(
        F.lit(price).alias("p"), F.lit(-rate).alias("d"),
        F.lit(rate).alias("t"),
    )
    df, (p, d, t) = lanes(
        df, "p", ("d", "decimal(4,2)"), ("t", "decimal(4,2)")
    )
    shapes = {
        "price": (p, 2, sign * (10**12 - 1)),
        "revenue": (p * (1 - d), 4, sign * (10**12 - 1) * 10099),
        "charge": (p * (1 - d) * (1 + t), 6,
                   sign * (10**12 - 1) * 10099 * 10099),
    }
    row = df.agg(
        *[exact_sum(lane).alias(k) for k, (lane, _, _) in shapes.items()]
    ).first()
    for k, (_, scale, unscaled) in shapes.items():
        assert row[k] == Decimal(n * unscaled).scaleb(-scale), k


def test_constants_carry_their_scale(spark):
    assert Lane.of(1).scale == 0
    assert Lane.of(Decimal("0.10")).scale == 2
    df, (p,) = lanes(spark.range(3).select(F.lit(12.34).alias("p")), "p")
    got = df.agg(exact_sum(p * Decimal("0.10") + 1).alias("x")).first()["x"]
    assert got == Decimal("3") * (Decimal("12.34") * Decimal("0.10") + 1)
    with pytest.raises(TypeError):
        p * 0.1  # a float has no exact scale
    with pytest.raises(ValueError):
        exact_sum(p * p * p * p)  # 8 decimals: Spark would round them
