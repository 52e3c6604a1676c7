"""Point-in-time universe reconstruction (reference: universe_flow.py:82-134).

Start from the *current* constituent set, walk the trading calendar
backwards, and invert each Added/Removed change to recover historical
membership; snapshot per date.

The input is tiny (~500 tickers, ~few hundred change rows), so like
the reference this runs the backward walk driver-side and hands the
snapshots to Spark as (date, [tickers]) rows that ``explode`` into
the (date, ticker) rows of the universe table (SURVEY.md §2.10 U5). The Spark-native
alternative — turning the change log into validity intervals and
range-joining the calendar — only pays off when membership data is
itself large.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_changes(changes: DataFrame) -> DataFrame:
    """Raw change log with '%B %d, %Y' string dates -> typed rows
    (universe_flow.py:76 strptime).

    ``try_to_date``, not ``to_date``: under ANSI mode an unparseable
    source string (footnote markers etc.) would crash the whole job
    with a raw DateTimeException mid-scan; the NULL surfaces instead
    and :func:`construct_universe` rejects it with a useful error."""
    return changes.select(
        F.try_to_date(F.col("effective_date"), "MMMM d, yyyy").alias("effective_date"),
        "ticker",
        "action",
    ).filter(F.col("ticker").isNotNull())


def construct_universe(
    spark: SparkSession,
    current_tickers: list[str],
    changes: DataFrame,
    calendar: DataFrame,
) -> DataFrame:
    """-> (date, ticker) per-date membership snapshots.

    A change takes effect at the FIRST TRADING DATE at or after its
    effective date — weekend/holiday effective dates (common in the
    source change log) land on the next open day instead of silently
    matching no snapshot and corrupting every earlier one. Change rows
    whose date string failed to parse are rejected loudly: a silently
    dropped inversion poisons the whole history.
    """
    import bisect

    change_rows = parse_changes(changes).collect()
    bad = [r for r in change_rows if r["effective_date"] is None]
    if bad:
        raise ValueError(
            "change log has unparseable effective_date rows (expected "
            f"'MMMM d, yyyy'): e.g. {[(r['ticker'], r['action']) for r in bad[:3]]}"
        )
    asc = sorted(r["date"] for r in calendar.select("date").distinct().collect())
    by_date: dict[dt.date, list[tuple[dt.date, str, str]]] = defaultdict(list)
    for r in change_rows:
        i = bisect.bisect_left(asc, r["effective_date"])
        if i < len(asc):
            by_date[asc[i]].append((r["effective_date"], r["ticker"], r["action"]))
        # else: effective after the calendar horizon — not yet visible

    dates = list(reversed(asc))
    members = set(current_tickers)
    snapshots: list[tuple[dt.date, list[str]]] = []
    for d in dates:
        snapshots.append((d, sorted(members)))
        # a bucket can hold changes with DIFFERENT effective dates
        # (Saturday + Sunday both snap to Monday); backward inversion
        # must apply inverses newest-effective first, deterministically
        for _, ticker, action in sorted(by_date.get(d, ()), reverse=True):
            if action == "Added":
                members.discard(ticker)
            elif action == "Removed":
                members.add(ticker)

    schema = T.StructType(
        [
            T.StructField("date", T.DateType()),
            T.StructField("tickers", T.ArrayType(T.StringType())),
        ]
    )
    snaps = spark.createDataFrame(snapshots, schema)
    return snaps.select("date", F.explode("tickers").alias("ticker"))
