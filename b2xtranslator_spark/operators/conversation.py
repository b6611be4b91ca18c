"""Conversation-level operators over multi-turn transcript tables.

The north rule's input is an Iceberg table of (conv_id, turn_idx, role,
text, tool, ts) turns at 10^12 rows; after per-turn extraction the
training-data pipeline needs CONVERSATION-shaped outputs: one assembled
document per conversation (for doc-level dedup/quality/packing) and
sliding turn-context windows (the sample shape for supervised turns with
history). Both are pure Catalyst plans:

- assemble_conversations: ONE hash-partition shuffle on conv_id; the
  per-conversation ordering happens inside the aggregate via array_sort
  over (turn_idx, line) structs — no global sort, no window, no second
  shuffle. At 10^12 turns the plan is scan -> partial collect_list ->
  shuffle by conv_id -> final sort+join, and a conversation's turns are
  the only thing that must co-reside (bounded by the longest conversation,
  the same invariant the write path already assumes).
- turn_windows: one window over (conv_id, turn_idx) — a single shuffle on
  conv_id, rows stay streaming within the frame (no whole-partition
  buffering; the frame is ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW).

Skew posture: a pathological million-turn conversation concentrates on
one task in both plans. assemble_conversations guards with an optional
``max_turns`` cap (drop-and-report beats a straggler at scale, same
policy as banding.bucket_pairs); turn_windows carries O(k) state per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["assemble_conversations", "sessionize_events", "turn_windows"]


def assemble_conversations(
    turns: DataFrame,
    role_tags: bool = True,
    sep: str = "\n",
    max_turns: int | None = None,
) -> DataFrame:
    """Turns -> one row per conversation: (conv_id, text, n_turns), with
    ``role: text`` lines joined in stable turn_idx order.

    ``max_turns`` (optional) truncates oversized conversations AFTER the
    sort — deterministic head-of-conversation semantics, reported via
    n_turns_total so the truncation is observable, never silent."""
    line = (
        F.concat_ws(": ", F.col("role"), F.col("text"))
        if role_tags
        else F.col("text")
    )
    grouped = (
        turns.select(
            "conv_id",
            F.struct(F.col("turn_idx").alias("turn_idx"), line.alias("line")).alias(
                "t"
            ),
        )
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("t")).alias("ts"))
    )
    kept = (
        F.slice(F.col("ts"), 1, max_turns) if max_turns is not None else F.col("ts")
    )
    return grouped.select(
        "conv_id",
        F.array_join(
            F.transform(kept, lambda s: s.getField("line")), sep
        ).alias("text"),
        F.size(kept).alias("n_turns"),
        F.size("ts").alias("n_turns_total"),
    )


def turn_windows(turns: DataFrame, k: int = 3, role_tags: bool = True) -> DataFrame:
    """Sliding turn-context windows: for every turn, the concatenation of
    the last ``k`` turns (inclusive) of its conversation in turn_idx order
    — the supervised-sample shape (current turn + bounded history).

    One shuffle (window partition on conv_id); the ROWS frame keeps state
    at O(k) per row, so a million-turn conversation streams instead of
    buffering."""
    line = (
        F.concat_ws(": ", F.col("role"), F.col("text"))
        if role_tags
        else F.col("text")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    return turns.select(
        "conv_id",
        "turn_idx",
        F.array_join(F.collect_list(line).over(w), "\n").alias("context"),
        F.count(F.lit(1)).over(w).alias("n_context_turns"),
    )


def sessionize_events(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch gap-based sessionization: a session boundary wherever the gap
    from the user's previous event exceeds ``gap_seconds``; session index
    via a running sum of boundary flags. Returns per-session stats.

    One shuffle (window partition on the user); timestamps compared as
    integer MICROSECONDS (unix_micros) so the boundary arithmetic is
    exact and portable — epoch-seconds truncation would mis-classify
    sub-second gaps differently per engine. Ties on ts break by
    ``id_col`` for total determinism. TIMESTAMP_NTZ inputs are
    interpreted in the Spark session time zone (build_session pins it to
    UTC, matching DuckDB's epoch_us treat-as-UTC semantics)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_us = int(gap_seconds) * 1_000_000
    flagged = events.select(
        user_col,
        us.alias("us"),
        F.col(id_col).alias("_id"),
    ).select(
        user_col,
        "us",
        F.when(
            F.coalesce(
                F.col("us")
                - F.lag("us").over(
                    Window.partitionBy(user_col).orderBy("us", "_id")
                ),
                F.lit(gap_us + 1),
            )
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
        "_id",
    )
    w2 = (
        Window.partitionBy(user_col)
        .orderBy("us", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.select(
        user_col,
        "us",
        F.sum("new_session").over(w2).alias("session_idx"),
    )
    return sessions.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.round((F.max("us") - F.min("us")) / 1_000_000.0, 6).alias(
            "duration_s"
        ),
    )
