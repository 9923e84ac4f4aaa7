"""Query spec registry plumbing shared by all operator modules.

A ``QuerySpec`` couples an idiomatic-PySpark implementation with the
ANSI-SQL oracle string the driver runs through DuckDB (``oracle=None``
for genuinely non-SQL-expressible ops → rows-only check).

Determinism rules used throughout this repo (so the driver's
order-insensitive value-hash matches between Spark and DuckDB):

- money aggregates: cast the per-row double expression to
  DECIMAL(22,6) *before* SUM (exact, associativity-proof), cast the
  exact sum to DOUBLE at the end. Double↔decimal conversions are
  unambiguous (no representable midpoints), so both engines produce
  bit-identical doubles.
- averages/ratios: exact decimal sums cast to double, then one double
  division — deterministic IEEE in both engines.
- top-k: rank with explicit total-order tiebreakers (unique keys last).
- timestamps: output DATE or STRING, never raw timestamps (an events
  file may store nanosecond-precision parquet, which the two engines
  read at different precisions).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    #: "query" (read-only plan) or "materialization" (the callable
    #: REBUILDS warehouse tables — multi-batch parquet writes + swaps —
    #: so its wall-clock is a write/pipeline benchmark, not comparable
    #: to the oracle's one-shot SELECT; bench.py reports the two kinds
    #: in separate sections)
    kind: str = "query"
    #: True when the BUILDER itself runs Spark actions (iterative
    #: loops, scalar count() literals, driver-side centroid syncs) —
    #: the returned DataFrame is only the tail of the computation, so
    #: bench.py must rebuild such specs every pass instead of timing
    #: warm re-executions of the held tail plan.
    eager: bool = False
    #: materialization specs only: how many PIPELINE RUNS (batch
    #: writes + swaps) one invocation performs — e.g. the incremental
    #: demo runs 4 sliced loads. bench.py logs it and times the DuckDB
    #: side as a CTAS+parquet-write per batch so the comparison is
    #: write-vs-write, not write-vs-SELECT (VERDICT r5 item 7).
    batches: int = 1


def money_sum(expr: Column, name: str) -> Column:
    """Exact, engine-stable SUM over a double money expression."""
    return F.sum(expr.cast("decimal(22,6)")).cast("double").alias(name)


def money_sum_if(cond: Column, expr: Column, name: str) -> Column:
    """Conditional ``money_sum``: NULL (not 0) when no row matches —
    the fold that lets one aggregation replace a per-side
    aggregate + outer join (see orders_snapshot_diff)."""
    return (
        F.sum(F.when(cond, expr.cast("decimal(22,6)")))
        .cast("double")
        .alias(name)
    )


def money_avg(expr: Column, name: str) -> Column:
    """Engine-stable AVG: exact decimal sum → double → / count."""
    return (
        F.sum(expr.cast("decimal(22,6)")).cast("double") / F.count(F.lit(1))
    ).alias(name)


# SQL-side twins (DuckDB dialect == ANSI here)
def sql_dec2dbl(expr: str) -> str:
    """Correctly-rounded DECIMAL→DOUBLE for DuckDB oracle text.

    DuckDB's direct decimal→double cast converts the scaled integer
    and divides — two roundings, up to 1 ulp off once the exact
    decimal exceeds ~15 significant digits (first seen at sf1:
    pricing_summary sum_charge 43579985256.939670 → ...674 direct vs
    ...67 correct). Routing through the exact VARCHAR text makes the
    conversion a single strtod, which is correctly rounded — matching
    Spark's BigDecimal.doubleValue (round-half-even, correct) at every
    magnitude. Same value below 15 digits, right value above.
    """
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sql_dbl2dec(expr: str, prec: int, scale: int) -> str:
    """Correctly-rounded (HALF_UP, away from zero — Spark's
    BigDecimal(double) semantics) DOUBLE→DECIMAL for DuckDB oracle
    text — the mirror of :func:`sql_dec2dbl` (wave 6).

    DuckDB's direct double→decimal scales IN DOUBLE (value·10^scale,
    then to the internal integer), so the conversion drifts: CAST(1e24
    AS DECIMAL(38,8)) is off by 7e7 absolute, and even in-range values
    misround near ties (measured: the profiler's Σv² over an
    adversarial 1e12 row diverged in the 15th digit and flipped a
    DECIMAL(28,6)-rounded stddev; 16k of 150k clean rows differ from
    the exact conversion at scale 8). A printf('%.60f') string hop is
    exact but ~80 µs/call — 12 s per 150k-row aggregate. This form is
    exact AND fast (measured 0.09 s for the same aggregate; 0 diffs vs
    python Decimal HALF_UP on a 3000-point magnitude fuzz 1e-10..3e29
    plus true-midpoint/negative/1e24 edge cases):

    - split |x| = hi·2^52 + mid + fr with FLOOR — every step is an
      exact IEEE op (power-of-two divide, floor, Sterbenz subtract),
      hi/mid are BIGINT-exact, and the integer part reassembles in
      HUGEINT with zero rounding;
    - the fractional part rounds via FLOOR(fr·10^s + 0.5), whose only
      inexactness is the ~1e-8 multiply error — a boundary guard
      routes rows within 1e-6 of a rounding tie (≈2e-6 of rows, and
      every TRUE dyadic midpoint, where half-even printf vs half-up
      would differ) through the exact printf path;
    - negatives round away from zero by applying the split to |x|.

    Domain: |x| < 10^(prec-scale) (the DECIMAL's own range — Spark
    overflows the same values to NULL).
    """
    s = scale
    unit = "0." + "0" * (s - 1) + "1"
    a = f"ABS({expr})"
    hi = f"FLOOR({a} / 4503599627370496.0)"
    lo = f"({a} - {hi} * 4503599627370496.0)"
    mid = f"FLOOR({lo})"
    fr = f"({lo} - {mid})"
    rs = f"({fr} * {10 ** s}.0 + 0.5)"
    near = f"(ABS({rs} - ROUND({rs})) < 1e-6)"
    frac = (
        f"CASE WHEN {near}"
        f" THEN CAST(printf('%.60f', {fr}) AS DECIMAL({s + 2},{s}))"
        f" ELSE CAST(CAST(CAST(FLOOR({rs}) AS BIGINT) AS DECIMAL(18,0))"
        f" * CAST({unit} AS DECIMAL({s + 2},{s}))"
        f" AS DECIMAL({s + 2},{s})) END"
    )
    intpart = (
        f"CAST(CAST(CAST({hi} AS BIGINT) AS HUGEINT) * 4503599627370496"
        f" + CAST({mid} AS BIGINT) AS DECIMAL({prec},{s}))"
    )
    mag = f"CAST({intpart} + {frac} AS DECIMAL({prec},{s}))"
    return (
        f"CAST(CASE WHEN {expr} < 0 THEN -{mag} ELSE {mag} END"
        f" AS DECIMAL({prec},{s}))"
    )


def sql_money_sum(expr: str, name: str) -> str:
    return (
        sql_dec2dbl(f"SUM(CAST({expr} AS DECIMAL(22,6)))") + f" AS {name}"
    )


def sql_money_avg(expr: str, name: str) -> str:
    return (
        sql_dec2dbl(f"SUM(CAST({expr} AS DECIMAL(22,6)))")
        + f" / COUNT(*) AS {name}"
    )
