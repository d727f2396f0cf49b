"""Determinism helpers (SURVEY.md §7.5 rule 2).

Cross-engine hash-equality of doubles needs a *portable* rounding
definition: Spark's ``round`` goes through BigDecimal HALF_UP on the
shortest decimal repr of the double, DuckDB's scales the binary value —
they disagree on knife-edge values (e.g. 37704.575 → .58 vs .57, observed
on the fixtures). ``floor(x·10ⁿ + 0.5)/10ⁿ`` uses only IEEE-754 ops
(multiply, add, floor, divide) that every engine computes bit-identically,
so equal inputs give equal rounded outputs everywhere.

``pround`` is the Spark side; ``portable_round_sql`` rewrites ``ROUND(x, n)``
in oracle SQL strings to the same formula, so oracle authors keep writing
readable ROUND().
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column, n: int = 2) -> Column:
    """Portable round-half-up to ``n`` decimals (double → double)."""
    scale = 10**n
    return F.floor(col * scale + F.lit(0.5)) / scale


def ratio4(num: int, den: int) -> float | None:
    """``num / den`` portable-rounded to 4 decimals in Python (the
    driver-side twin of ``pround(…, 4)`` for scores built from collected
    counts); None when ``den`` is 0, as the oracle's division gives NULL."""
    return math.floor(num / den * 10**4 + 0.5) / 10**4 if den else None


def cents_col(col: Column, n: int = 2) -> Column:
    """Exact fixed-point quantization: a double carrying n-decimal-grain
    values (the fixture money/rate columns are all 2-decimal,
    BASELINE.md r10 audit) becomes its exact BIGINT multiple of 10⁻ⁿ.
    floor(x·10ⁿ + 0.5) recovers the true integer because the double is
    within ~1e-9 of it; works for negatives too (acctbals) since the
    +0.5 never crosses an integer for on-grain inputs."""
    return F.floor(col * 10**n + F.lit(0.5)).cast("bigint")


def exact_sum(int_col: Column, scale: int, nd: int = 2) -> Column:
    """Order-independent SUM of a quantized integer column: the sum
    folds in DECIMAL(38,0) (exact at any accumulation order; BIGINT
    would overflow ~1e9-unit rows × 1e12 rows at 100 TB), with the one
    IEEE division and the portable rounding deferred to the end — the
    q9_product_profit pattern (BASELINE.md r8), shared since the r10
    SUM/AVG quantization audit."""
    return pround(
        F.sum(int_col.cast("decimal(38,0)")).cast("double") / scale, nd
    )


def exact_avg(int_col: Column, scale: int, nd: int = 2) -> Column:
    """Order-independent mean of a quantized integer column:
    SUM(DECIMAL)/COUNT — NOT AVG(), whose double sum buffer goes
    order-dependent past 2^53 accumulated units (ADVICE r8;
    sql_scalar_subquery)."""
    return pround(
        F.sum(int_col.cast("decimal(38,0)")).cast("double")
        / F.count(int_col) / scale,
        nd,
    )


def revenue_e4_col() -> Column:
    """Per-row lineitem revenue extendedprice·(1-discount) as an EXACT
    1e-4-unit integer: cents(price) × (100 − cents(discount)). Both
    factors are exact BIGINTs (2-decimal-grain fixtures), so the product
    ≤ ~1.05e11 is exact and its group sum order-independent."""
    return cents_col(F.col("l_extendedprice")) * (
        100 - cents_col(F.col("l_discount"))
    )


def revenue_e4_sql(prefix: str = "") -> str:
    """Oracle-side twin of revenue_e4_col; ``prefix`` qualifies the
    columns (e.g. ``"l."``)."""
    return (
        f"{cents_sql(prefix + 'l_extendedprice')}"
        f" * (100 - {cents_sql(prefix + 'l_discount')})"
    )


def cents_sql(expr: str, n: int = 2) -> str:
    """Oracle-side twin of cents_col (DuckDB)."""
    return f"CAST(FLOOR(({expr}) * {10**n} + 0.5) AS BIGINT)"


# Oracle spellings of ``cents_col(F.col("value"))`` and of the event's
# UTC day number, as the events-table oracles embed them verbatim.
_CENTS_SQL = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
_DAY_SQL = "CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)"


def day_col() -> Column:
    """Spark form of ``_DAY_SQL``: the event's UTC day number."""
    return F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")


def exact_sum_sql(int_expr: str, scale: int, nd: int = 2) -> str:
    """Oracle-side twin of exact_sum: DuckDB sums BIGINT in HUGEINT
    (exact); the ROUND is rewritten portable by portable_round_sql."""
    return f"ROUND(CAST(SUM({int_expr}) AS DOUBLE) / {scale}, {nd})"


def exact_avg_sql(int_expr: str, scale: int, nd: int = 2,
                  count_expr: str | None = None) -> str:
    """Oracle-side twin of exact_avg; count_expr defaults to the
    summed expression (COUNT skips the same NULLs SUM does, matching
    AVG's NULL semantics)."""
    c = count_expr if count_expr is not None else int_expr
    return (
        f"ROUND(CAST(SUM({int_expr}) AS DOUBLE)"
        f" / COUNT({c}) / {scale}, {nd})"
    )


def portable_round_sql(sql: str) -> str:
    """Rewrite every ``ROUND(<expr>, <n>)`` in a SQL string to
    ``FLOOR((<expr>) * 10^n + 0.5) / 10^n`` (balanced-paren aware)."""
    out = []
    i = 0
    n_sql = len(sql)
    while i < n_sql:
        j = sql.find("ROUND(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        # find matching close paren
        depth = 0
        k = j + len("ROUND(") - 1  # at the '('
        top_comma = -1
        while k < n_sql:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1 and top_comma < 0:
                top_comma = k
            k += 1
        if depth != 0 or top_comma < 0:
            raise ValueError(f"unbalanced ROUND() in oracle SQL near: {sql[j:j+80]}")
        expr = portable_round_sql(sql[j + len("ROUND(") : top_comma].strip())
        digits = int(sql[top_comma + 1 : k].strip())
        scale = 10**digits
        out.append(f"FLOOR(({expr}) * {scale} + 0.5) / {scale}")
        i = k + 1
    return "".join(out)
