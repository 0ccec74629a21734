"""Proportional-fair budget allocation by water-filling — how a
crawl scheduler splits a global fetch budget across hosts: every
host has a demand (URLs waiting) and a weight (authority, priority
tier); allocation is ``min(demand, λ·weight)`` at the common water
level λ that spends the budget. Hosts with little demand are served
fully; the rest share the remainder proportionally to weight — the
max-min-fair allocator of networking (RFC 970 lineage), applied to
politeness budgets.

Determinism / oracle: λ is found as the LARGEST INTEGER micro-level
with ``Σ min(d, λ·w div 10⁶) ≤ B`` by bisection on integers — the
allocation function is a monotone step function, every probe is an
exact BIGINT aggregate, and a DuckDB oracle replays the identical
(lo, hi) trajectory with a recursive CTE. The ≤ one-λ-step residual
(budget not spendable at any integer level) is reported per row as
``leftover`` rather than smeared by a float division.

Scale shape: the host table is vocabulary-sized but the operator
never assumes so — each bisection probe is one partial-aggregated
1-row scan (≈ log₂(max demand·10⁶/min weight) ≤ ~60 probes), and the
final allocation is a narrow projection. Driver state: two BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def waterfill_budget(
    hosts: DataFrame,
    budget: int,
    key_col: str = "host",
    demand_col: str = "demand",
    weight_col: str = "weight",
) -> DataFrame:
    """Per-host allocations: ``(key, demand, weight, alloc,
    lambda_micro, leftover)`` with ``alloc = min(demand, λ·weight div
    10⁶)``, λ the largest feasible integer micro-level (when total
    demand fits the budget λ is the saturation cap and every host
    gets its demand). ``leftover = budget − Σ alloc`` (same value on
    every row; 0 in the demand-fits case). Raises on negative
    demands/budget or non-positive weights — corrupt inputs fail
    fast, they don't vanish (NULLs included: the guards are
    null-safe)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    h = hosts.select(
        F.col(key_col).alias("_k"),
        F.col(demand_col).cast("long").alias("_d"),
        F.col(weight_col).cast("long").alias("_w"),
    ).localCheckpoint(eager=True)
    bad = h.filter(
        F.col("_d").isNull()
        | (F.col("_d") < 0)
        | F.col("_w").isNull()
        | (F.col("_w") <= 0)
    )
    if bad.limit(1).count():
        raise ValueError(
            "waterfill_budget: negative/NULL demand or non-positive weight"
        )
    stats = h.agg(
        F.coalesce(F.sum("_d"), F.lit(0)).alias("td"),
        F.coalesce(
            F.max(F.expr(f"(_d * {MICRO} + _w - 1) div _w")), F.lit(0)
        ).alias("cap"),
    ).collect()[0]
    total_d, cap = int(stats["td"]), int(stats["cap"]) + 1
    if total_d <= budget:
        lam = cap
    else:
        lo, hi = 0, cap  # f(0)=0 <= B feasible; f(cap)=total_d > B infeasible
        while lo + 1 < hi:
            mid = (lo + hi) // 2
            f = h.agg(
                F.sum(F.least("_d", F.expr(f"({mid} * _w) div {MICRO}")))
            ).collect()[0][0]
            if int(f) <= budget:
                lo = mid
            else:
                hi = mid
        lam = lo
    out = h.select(
        F.col("_k").alias(key_col),
        F.col("_d").alias(demand_col),
        F.col("_w").alias(weight_col),
        F.least("_d", F.expr(f"({lam} * _w) div {MICRO}"))
        .cast("long")
        .alias("alloc"),
        F.lit(lam).cast("long").alias("lambda_micro"),
    )
    spent = out.agg(F.coalesce(F.sum("alloc"), F.lit(0))).collect()[0][0]
    return out.withColumn(
        "leftover", F.lit(int(budget - int(spent))).cast("long")
    )
