"""Event-time window operators over the events table, batch only.

Extension scope (the reference has no streaming — SURVEY.md §2.9):
tumbling, sliding and session windows as batch DataFrame plans, each
checked against a DuckDB oracle by the ``st_*`` registry rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tumbling_window_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per event-type tumbling-window counts/sums.  Output keys are epoch
    seconds (engine-portable for the oracle)."""
    w = F.window("ts", width)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_agg(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    w = F.window("ts", width, slide)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start"), "event_type", "n")
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessionization via lag + cumulative gap counting."""
    gap = gap_minutes * 60
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = events.withColumn(
        "new_session",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user)),
                F.lit(gap + 1),
            )
            > gap
        ).cast("int"),
    )
    with_sess = with_gap.withColumn(
        "session_id", F.sum("new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("session_start"),
            F.unix_timestamp(F.max("ts")).alias("session_end"),
        )
    )
