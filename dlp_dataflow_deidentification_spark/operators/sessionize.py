"""Sessionization + turn correlation (batch forms of the streaming semantics).

The reference approximates sessions by parsing one whole chat log per record
(/root/reference/src/main/java/com/google/swarm/tokenization/txt/ParseTextLogDoFn.java:41-107);
our input is already turn-structured, so sessions are event-time gap sessions
keyed by conv_id (north_rule). Batch forms here are pure window-function
plans (one shuffle on conv_id, reused across lag/cumsum/rank); streaming forms
live in ``streaming/windows.py`` (session_window + watermark).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def epoch_seconds(col: Column) -> Column:
    """Event-time → epoch seconds, tolerant of TIMESTAMP vs TIMESTAMP_NTZ
    (Spark 4 reads non-UTC-adjusted parquet timestamps as NTZ, which cannot
    cast directly to long); session timezone is pinned to UTC."""
    return col.cast("timestamp").cast("long")


def sessionize(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Assign a per-conversation session index by event-time gap.

    A new session starts when ts - lag(ts) > gap. One hash partition per
    conv_id; both window specs share the same (partition, ordering) so
    Catalyst plans a single Exchange + one Sort.
    """
    w = W.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap = epoch_seconds(F.col("ts")) - F.lag(epoch_seconds(F.col("ts")), 1).over(w)
    new_session = F.when(gap.isNull() | (gap <= gap_seconds), F.lit(0)).otherwise(F.lit(1))
    running = F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, 0))
    return df.withColumn("session_id", running.cast("int"))


def session_stats(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per (conv_id, session_id) aggregates: turn count, role mix, span."""
    s = sessionize(df, gap_seconds)
    return s.groupBy("conv_id", "session_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("role") == "agent", 1).otherwise(0)).alias("n_agent"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool"),
        F.min(epoch_seconds(F.col("ts"))).alias("start_epoch"),
        F.max(epoch_seconds(F.col("ts"))).alias("end_epoch"),
    )


def time_bucket_keys(
    agent_ts_col: str, tool_ts_col: str, max_lag_seconds: int
) -> tuple[Column, Column]:
    """Time-bucket join keys for an interval equi-join (guide §2.5: AQE
    cannot split a single enormous key, so a hot conversation makes the
    plain conv_id join one quadratic straggler task). Bucket width =
    ``max_lag_seconds``: every matching pair has
    tool_ts ∈ [agent_ts, agent_ts + L], hence
    bucket(tool) ∈ {bucket(agent), bucket(agent)+1} — exploding the agent
    side into those two buckets and equi-joining on (conv_id, bucket) is
    EXACTLY equivalent to the range join (each tool row owns one bucket,
    so no pair can match twice) while a hot key spreads over
    span/max_lag bucket-keys. Returns (agent-side 2-bucket array to
    explode, tool-side bucket)."""
    ab = F.floor(epoch_seconds(F.col(agent_ts_col)) / F.lit(max_lag_seconds)).cast("long")
    tb = F.floor(epoch_seconds(F.col(tool_ts_col)) / F.lit(max_lag_seconds)).cast("long")
    return F.array(ab, ab + F.lit(1)), tb


def agent_tool_correlate(df: DataFrame, max_lag_seconds: int = 120) -> DataFrame:
    """Correlate each agent turn with tool turns that follow it within
    ``max_lag_seconds`` in the same conversation (batch analogue of the
    north_rule stream-stream join; streaming form in streaming/joins.py).

    Equi-join on (conv_id, time bucket) + the exact time-range predicate:
    the bucket key (``time_bucket_keys``) splits a skewed conversation
    across its time span, so the per-task work is bounded by rows-per-
    (conv, max_lag window) instead of rows-per-conversation squared.
    """
    agents = df.filter(F.col("role") == "agent").select(
        "conv_id",
        F.col("turn_idx").alias("agent_turn_idx"),
        F.col("ts").alias("agent_ts"),
    )
    tools = df.filter(F.col("role") == "tool").select(
        F.col("conv_id").alias("tool_conv_id"),
        F.col("turn_idx").alias("tool_turn_idx"),
        F.col("tool").alias("tool_name"),
        F.col("ts").alias("tool_ts"),
    )
    a_buckets, t_bucket = time_bucket_keys("agent_ts", "tool_ts", max_lag_seconds)
    agents = agents.withColumn("__bkt", F.explode(a_buckets))
    tools = tools.withColumn("__bkt", t_bucket)
    cond = (
        (F.col("conv_id") == F.col("tool_conv_id"))
        & (agents["__bkt"] == tools["__bkt"])
        & (F.col("tool_ts") >= F.col("agent_ts"))
        & (
            F.col("tool_ts")
            <= F.timestamp_add("SECOND", F.lit(max_lag_seconds), F.col("agent_ts"))
        )
    )
    return agents.join(tools, cond, "inner").select(
        "conv_id",
        "agent_turn_idx",
        "tool_turn_idx",
        "tool_name",
        (epoch_seconds(F.col("tool_ts")) - epoch_seconds(F.col("agent_ts"))).alias(
            "lag_seconds"
        ),
    )
