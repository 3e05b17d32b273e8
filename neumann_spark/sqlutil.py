"""Determinism helpers for the DuckDB-oracle differential tests.

Floating-point SUM is order-dependent; Spark's partition-parallel sums and
DuckDB's sums would disagree in the last ULPs, which breaks value-hash
comparison. Two strategies, used consistently on BOTH sides:

1. `dsum` — exact accumulation: cast each double to DECIMAL(18,s) (exact for
   the fixture's 2-4 decimal money columns), sum decimals exactly, cast the
   exact total back to double. Bit-identical in Spark and DuckDB regardless
   of partitioning. Use for large sums (revenue over 600k rows).
2. `round to 6-8 dp` — for small-relative-error quantities (averages, unit
   vector dot products, PageRank mass): the FP disagreement is ~1e-13
   relative while the rounding grid is 1e-6..1e-8, so the rounded values
   match with overwhelming probability. Use where decimal casting is
   awkward (division chains, sqrt, trig).

These helpers exist for *differential testing determinism*, not semantics —
on a production cluster you'd just `F.sum(col)`. `lit_in` is the one
builder of literal id-list predicates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_in(name: str, ids) -> Column:
    """`name IN (<ids>)` as ONE parsed expression — bit-identical plan to
    `F.col(name).isin(list)` (literal In → InSet, same parquet pushdown)
    but built in one py4j round-trip instead of one `lit()` call PER
    element: at the serve loop's 12K-id candidate lists the isin form
    spent ~7 s/round of pure driver+py4j time (measured at 1M: 8.3 s vs
    1.3 s per ADC probe, §1/§5 — r14). The `L` suffix pins LongType
    literals, exactly what `lit(python int)` produced, so the analyzed
    predicate (and the plan-asserted pushdown) is unchanged. Ids must be
    a non-empty iterable of ints."""
    body = ",".join(f"{int(v)}L" for v in ids)
    assert body, "lit_in needs a non-empty id list"
    return F.expr(f"{name} IN ({body})")


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Deterministic SUM of a double column via exact decimal accumulation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Deterministic AVG = exact-decimal SUM (as double) / COUNT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of `dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of `davg`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT({expr})"
