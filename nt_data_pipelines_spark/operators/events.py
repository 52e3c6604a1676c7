"""Event analytics: funnels, cohort retention, transition matrices.

The product-analytics tier over an append-only event stream — the
queries a warehouse team runs daily on clickstream-shaped data. All
three operators are pure DataFrame compositions whose shuffles are
linear in the event count:

- funnel: one groupBy per step chain (map-side min), step joins on
  the user key;
- cohort retention: two date-truncated aggs joined on the user key;
- transitions: one lag window per user + one pair count agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nt_data_pipelines_spark.pin import pin


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: users reaching step i must have done step i-1
    strictly earlier.

    For each user the reach time of step i is the earliest step-i
    event AFTER their step-(i-1) reach time (the standard
    strictly-ordered funnel, computed as a chain of min-aggregates —
    one linear shuffle per step on the user key, no per-user
    sequence materialization). Returns one row per step with the
    surviving user count and the conversion rate vs step 1.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    # each tier is pinned: tier i feeds BOTH tier i+1's join and the
    # survivor-count union below — unpinned, tier i's lineage
    # re-executes once per downstream step (O(steps^2) scans of the
    # event table for one funnel)
    reach = pin(
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    )
    tiers = [reach]
    for step in steps[1:]:
        reach = pin(
            events.filter(F.col(type_col) == step)
            .join(reach.select(user_col, "__t"), user_col)
            .filter(F.col(ts_col) > F.col("__t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t"))
        )
        tiers.append(reach)
    # one lazy plan: per-step survivor counts unioned, conversion vs
    # the first step via a window over the (tiny) per-step table
    counted = None
    for i, (step, tier) in enumerate(zip(steps, tiers)):
        c = tier.agg(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(step).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
        )
        counted = c if counted is None else counted.unionByName(c)
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, 0)
    # int/int rational: integer half-up round-6 (registry rule 3)
    return (
        counted.withColumn("__first", F.first("n_users").over(w))
        .withColumn(
            "conversion",
            F.when(
                F.col("__first") > 0,
                F.expr(
                    "CAST((2 * n_users * 1000000 + __first) "
                    "DIV (2 * __first) AS DOUBLE)"
                )
                / 1000000.0,
            ),
        )
        .drop("__first")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort x age retention counts.

    Users are cohorted by the period of their FIRST event; for each
    (cohort, age-in-periods) the count of distinct cohort users active
    in that period. Two shuffles: first-seen per user, then the
    (cohort, age) distinct-user count.
    """
    first = events.groupBy(user_col).agg(
        F.date_trunc(period, F.min(ts_col)).alias("cohort")
    )
    active = events.select(
        F.col(user_col), F.date_trunc(period, F.col(ts_col)).alias("__p")
    ).distinct()
    unit_days = {"week": 7, "day": 1}.get(period)
    if unit_days is None:
        raise ValueError(f"period must be week|day, got {period!r}")
    # age in DAYS, not epoch seconds: date_trunc boundaries sit on
    # local midnights, so an epoch delta is off by an hour across a
    # DST transition in non-UTC sessions and the truncating division
    # would misbucket the age; datediff counts calendar days exactly
    age = (F.datediff(F.col("__p"), F.col("cohort")) / unit_days).cast("long")
    return (
        active.join(first, user_col)
        # date_trunc returns a timestamp in Spark but a DATE in DuckDB
        # (and a date is what a cohort IS) — emit date
        .select(F.col("cohort").cast("date").alias("cohort"), age.alias("age"))
        .groupBy("cohort", "age")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n): counts of consecutive event-type pairs
    per user — the Markov transition table path analysis starts from.
    One window sort per user (tie-broken for determinism) and one
    pair-count agg; both shuffle on keys linear in the event count.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
