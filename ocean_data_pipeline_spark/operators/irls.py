"""Unrolled IRLS: a fixed number of weighted least-squares rounds of
the one-regressor line ``z ~ b0 + b1 * x``.

Every GLM and robust-regression query in the registry fits its line the
same way; only the per-row weight ``w`` and working response ``z``
differ (Poisson: w = mu, z = eta + (y - mu) / mu; logistic: w = mu(1-mu);
LAD and Huber: a residual-based w with z = y). One round is:

    1. one aggregate over the base relation: the five normal-equation
       sums of w, w·x, w·x², w·z and w·x·z, each term rounded ONCE into
       DECIMAL(38,9) before summing, so the sums are exactly
       associative whatever the partitioning or engine;
    2. the 2x2 solve on those sums cast to double, a fixed IEEE chain.

The engine side (`irls_fit`) and the DuckDB oracle side (`irls_sql`)
run the identical rounds, so the two engines stay in lockstep round by
round. Callers own everything around the rounds: the base projection
(it must carry the regressor as column ``x``), the seed, and the
readout.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: `(b0, b1) -> (w, z)`: the per-row weight and working response of one
#: round, as Columns over the base relation, given the current
#: coefficients as DoubleType literals.
Step = Callable[[Column, Column], tuple[Column, Column]]


def dec9(c: Column) -> Column:
    """Round once into DECIMAL(38,9): the order-independent sum term."""
    return F.round(c, 9).cast("decimal(38,9)")


def irls_fit(base: DataFrame, b0: float, rounds: int, step: Step) -> tuple[float, float]:
    """Run `rounds` IRLS rounds from the seed (b0, 0.0); return (b0, b1).

    Each round executes EAGERLY (one aggregate job, `.first()`) and
    feeds its two coefficients back as DoubleType literals. A lazy
    crossJoin(broadcast(coeffs)) chain re-builds the whole prior-round
    subtree per round on the driver (hundreds of py4j calls and a
    nested broadcast-exchange cascade); `.first()` returns the exact
    JVM doubles and F.lit re-embeds the same bits, so every per-row
    chain sees identical inputs and the engines stay in lockstep
    bit-for-bit. The job count is one aggregate per round either way.
    """
    b1 = 0.0
    x = F.col("x")
    for _ in range(rounds):
        w, z = step(F.lit(b0), F.lit(b1))
        s = base.agg(
            F.sum(dec9(w)).cast("double").alias("sw"),
            F.sum(dec9(w * x)).cast("double").alias("swx"),
            F.sum(dec9(w * x * x)).cast("double").alias("swxx"),
            F.sum(dec9(w * z)).cast("double").alias("swz"),
            F.sum(dec9(w * x * z)).cast("double").alias("swxz"),
        )
        det = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        # det==0 (collinear/degenerate input, e.g. a constant x) guard:
        # ANSI double division throws on /0; the when() skips the
        # division and the loop stops at the current coefficients. Real
        # inputs have det != 0, so their values are unchanged.
        nxt = s.select(
            F.when(
                det != 0.0,
                (F.col("swxx") * F.col("swz") - F.col("swx") * F.col("swxz")) / det,
            ).alias("b0"),
            F.when(
                det != 0.0,
                (F.col("sw") * F.col("swxz") - F.col("swx") * F.col("swz")) / det,
            ).alias("b1"),
        ).first()
        if nxt["b0"] is None or nxt["b1"] is None:
            break
        b0, b1 = float(nxt["b0"]), float(nxt["b1"])
    return b0, b1


def null_fit(base: DataFrame, n_col: str, value_cols: tuple[str, ...]) -> DataFrame:
    """The one-row answer when there is no seed (empty or degenerate
    input): the base row count, and NULL for every fitted value."""
    return base.agg(F.count(F.lit(1)).cast("bigint").alias(n_col)).select(
        n_col, *[F.lit(None).cast("double").alias(a) for a in value_cols]
    )


def irls_sql(rounds: int, w: str, z: str, terms: str = "") -> tuple[str, str]:
    """The oracle twin of `irls_fit`: `rounds` pairs of MATERIALIZED
    CTEs (default CTE inlining goes exponential on the chained
    self-references), ``,sN AS MATERIALIZED (...), bN AS MATERIALIZED
    (...)``, continuing a WITH clause whose relation ``base`` carries
    ``x`` and whose 1-row CTE ``b0r`` holds the seed (b0, b1).

    `w` and `z` are SQL over the base columns and the previous round's
    coefficients ``p.b0``/``p.b1``; `terms`, when given, is a select
    list of intermediate columns (``... AS eta, ... AS mu``) computed
    first, which `w` and `z` may then name instead of ``p``. Returns
    the chain and the name of the CTE holding the final coefficients.
    """
    chain, prev = [], "b0r"
    for r in range(1, rounds + 1):
        src = f"base, {prev} p"
        if terms:
            src = f"(SELECT *, {terms}\n          FROM {src})"
        chain.append(f""",
s{r} AS MATERIALIZED (
  SELECT sum(CAST(round(w, 9) AS DECIMAL(38,9))) AS sw,
         sum(CAST(round(w * x, 9) AS DECIMAL(38,9))) AS swx,
         sum(CAST(round(w * x * x, 9) AS DECIMAL(38,9))) AS swxx,
         sum(CAST(round(w * z, 9) AS DECIMAL(38,9))) AS swz,
         sum(CAST(round(w * x * z, 9) AS DECIMAL(38,9))) AS swxz
  FROM (
    SELECT x, {w} AS w,
           {z} AS z
    FROM {src}
  )
),
b{r} AS MATERIALIZED (
  SELECT (CAST(swxx AS DOUBLE) * CAST(swz AS DOUBLE)
          - CAST(swx AS DOUBLE) * CAST(swxz AS DOUBLE))
         / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
            - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b0,
         (CAST(sw AS DOUBLE) * CAST(swxz AS DOUBLE)
          - CAST(swx AS DOUBLE) * CAST(swz AS DOUBLE))
         / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
            - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b1
  FROM s{r}
)""")
        prev = f"b{r}"
    return "".join(chain), prev
