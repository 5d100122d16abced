"""Aggregates over the ``value`` column (SURVEY.md §2.4 A1-A7).

Reference semantics (src/numeric.re over the Oml stats library):
- the aggregate is always GLOBAL over the (windowed, optionally
  filtered) row set — there is no GROUP BY in the reference;
- every aggregate returns a float, including ``count``
  (src/numeric.re:41);
- ``median`` is exact (Oml Descriptive.median) — we use Spark's exact
  ``median`` (≥3.4), never percentile_approx;
- ``sd`` is the unbiased SAMPLE standard deviation (Oml Descriptive.sd
  = sqrt(var_unbiased)) → ``stddev_samp``; single-row input gives NULL
  in Spark/SQL vs nan in Oml — serializer treats NULL as empty result;
- empty input → ``{}`` (src/numeric.re:26): the serializer renders a
  NULL aggregate over zero rows as ``{}``.

All of these are built-in JVM aggregates with partial (map-side)
combine — at 100 TB each is one shuffle of partial states, no Python.

**Determinism:** double summation is order-dependent, and Spark's
partition order varies run to run — a 100 TB `sum` would return a
slightly different float every run. We therefore accumulate `sum` (and
`mean`'s numerator) in DECIMAL(38,6): exact integer arithmetic,
order-independent, identical across engines (this is how the DuckDB
correctness oracle matches bit-for-bit). Inputs are quantized to 6
decimal places at the cast — documented engine behavior. `sd` has no
exact decimal form; it stays a double and is rounded to 6 dp.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,6)"


def _exact_sum() -> Column:
    return F.sum(F.col("value").cast(_DEC)).cast("double")


def _quant6(c: Column) -> Column:
    """Floor-quantization to 6 dp (the q6 rule): floor-via-double-math
    agrees across engines, unlike round()'s .5×10⁻⁷ tie handling.

    The floor stays a double, as in the oracle's ``floor(x * 1e6) / 1e6``:
    Spark's ``floor`` returns a bigint, which saturates past ~9.22e18 and
    reads NaN as 0. A double of magnitude ≥ 2⁵² (and ±inf, NaN) is its
    own floor, so only smaller ones go through the bigint."""
    scaled = c * F.lit(1_000_000.0)
    floored = F.when(F.abs(scaled) < F.lit(float(2**52)), F.floor(scaled).cast("double")).otherwise(scaled)
    return floored / F.lit(1_000_000.0)


AGGREGATES: dict[str, Callable[[], Column]] = {
    "sum": _exact_sum,
    "count": lambda: F.count("value").cast("double"),  # float count, numeric.re:41
    "min": lambda: F.min("value"),
    "max": lambda: F.max("value"),
    "mean": lambda: _exact_sum() / F.count("value"),
    "median": lambda: F.median("value"),
    # n<2 → NULL (not Spark's NaN) so single-row sd matches SQL engines
    "sd": lambda: F.when(F.count("value") >= 2, _quant6(F.stddev_samp("value"))),
}


def apply_aggregate(df: DataFrame, name: str) -> DataFrame:
    """→ 1-row frame ``{result: DOUBLE}`` (rendered ``{"result": x}``,
    or ``{}`` when the input was empty — src/numeric.re:22-27)."""
    if name not in AGGREGATES:
        raise KeyError(f"unknown aggregate {name!r}")
    return df.agg(AGGREGATES[name]().alias("result"))
