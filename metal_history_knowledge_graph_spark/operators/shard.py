"""Rendezvous (highest-random-weight, HRW) sharding — the standard
way a crawl fleet pins hosts to crawler shards (Thaler & Ravishankar
1996; the scheme behind Akamai-style cache selection and most
distributed crawler host-partitioners): every (key, shard) pair gets
an independent hash score and the key lives on the argmax shard.
Properties the tests pin:

- **deterministic, coordination-free**: any worker computes the same
  assignment from the shard list alone — no directory service;
- **minimal movement**: adding a shard moves only the keys that now
  score highest on the NEW shard (≈ 1/(n+1) of them, each moving TO
  it); removing a shard moves exactly the keys that lived on it.
  That is what makes recrawl schedules stable across fleet resizes —
  a modulo partitioner reshuffles nearly everything.

Scale shape: the shard list is fleet-sized (vocabulary) → broadcast
cross join, then one partial-aggregated ``max(struct(score, shard))``
per key — no window over the key space, no shuffle beyond the
key-grouped agg (and none at all when keys are already distinct: the
agg is a narrow per-row argmax via HOF over the shard array... kept
as the grouped form so duplicate keys cost one row each downstream).

Scores use the repo's cross-engine hash idiom (first 15 hex chars of
``md5('hrw:' || shard || '|' || key)`` as BIGINT) so a DuckDB oracle
replays assignments bit-exactly; ties (2⁻⁶⁰) break by shard name.

Reference parity note: the reference is a single-process pipeline
(src/pipeline/*) with no sharding surface; this family is part of the
beyond-reference crawl-infrastructure tier (SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hrw_score(key: Column, shard: Column) -> Column:
    """60-bit HRW score of (key, shard): first 15 hex chars of
    md5('hrw:' || shard || '|' || key) as BIGINT. DuckDB:
    ``CAST(('0x' || substr(md5('hrw:' || shard || '|' || key), 1,
    15))::UBIGINT AS BIGINT)``."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hrw:"), shard, F.lit("|"), key)), 1, 15
        ),
        16,
        10,
    ).cast("bigint")


def _shard_df(df: DataFrame, shards) -> DataFrame:
    if isinstance(shards, DataFrame):
        return shards.select(F.col(shards.columns[0]).alias("_shard"))
    return df.sparkSession.createDataFrame(
        [(s,) for s in shards], "_shard string"
    )


def hrw_assign(
    df: DataFrame,
    key_col: str,
    shards,
    shard_col: str = "shard",
) -> DataFrame:
    """One row per distinct non-NULL ``key_col`` value with its HRW
    shard: ``(key, shard)``. ``shards`` is a list of shard names or a
    1-column DataFrame (first column used)."""
    keys = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("_key"))
        .distinct()
    )
    scored = keys.crossJoin(F.broadcast(_shard_df(df, shards))).select(
        "_key",
        F.struct(
            _hrw_score(F.col("_key"), F.col("_shard")).alias("s"),
            F.col("_shard").alias("shard"),
        ).alias("_sc"),
    )
    return (
        scored.groupBy("_key")
        .agg(F.max("_sc").alias("_top"))
        .select(
            F.col("_key").alias(key_col),
            F.col("_top.shard").alias(shard_col),
        )
    )


def shard_moves(
    df: DataFrame,
    key_col: str,
    old_shards,
    new_shards,
) -> DataFrame:
    """Keys whose HRW assignment changes between two fleet
    configurations: ``(key, old_shard, new_shard)``. By the HRW
    minimal-movement property, growing the fleet yields rows whose
    ``new_shard`` is always one of the added shards, and shrinking it
    yields rows whose ``old_shard`` is always one of the removed —
    pinned in tests, and the reason a resize never perturbs the
    politeness state of unmoved hosts."""
    old = hrw_assign(df, key_col, old_shards, "old_shard")
    new = hrw_assign(df, key_col, new_shards, "new_shard")
    return old.join(new, key_col).filter(
        F.col("old_shard") != F.col("new_shard")
    )


def shard_load(
    df: DataFrame,
    key_col: str,
    shards,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-shard load report: ``(shard, n_keys, load)`` where ``load``
    sums ``weight_col`` over the shard's keys (page counts, crawl
    budgets — defaults to key count). Duplicate key rows contribute
    each weight: the input here is the workload table, not the key
    dictionary."""
    w = (
        F.coalesce(F.col(weight_col), F.lit(0)).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    rows = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("_key"), w.alias("_w")
    )
    assign = hrw_assign(rows, "_key", shards)
    return (
        rows.groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_w").alias("_load"))
        .join(assign, "_key")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("_load").alias("load"),
        )
    )
