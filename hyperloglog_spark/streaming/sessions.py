"""Event-time sessionization for Structured Streaming (and batch).

The streaming counterpart of ``transcripts.sessionize``: instead of a
window-function replay over a static table, sessions are Spark's native
merging ``session_window`` groups — state the engine itself maintains,
merges, and expires, with a watermark bounding state growth (late rows
beyond the delay are dropped; sessions are emitted in append mode exactly
once, when the watermark proves they can no longer grow).

Boundary semantics match the batch operator: Spark's session window spans
``[t, t + gap)`` and merges TOUCHING windows (a row exactly ``gap``
seconds after the previous one continues the session), the same
strictly-greater-than-gap split as ``transcripts.sessionize`` — pinned by
a parity test.

Scale notes: per-session state is one (key, window, partial-agg) row in
the state store, merged in-place; the per-micro-batch shuffle moves raw
rows once to co-locate keys (the same single exchange as the batch window).
A hot key's sessions still distribute across time, so no single task
absorbs a key's full history the way a batch sort does — streaming is the
friendlier plan for hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["session_window_stats"]


def _needs_aqe_session_pin(spark) -> bool:
    """Whether the batch-mode repartition pin (below) is required: whenever
    AQE is on, on every Spark version.

    Round 3 observed (first-hand, Spark 4.1.2 local mode) AQE's coalesced
    shuffle read feeding MergingSessions ZERO rows — every session lost,
    even on a 3-row input; correct with AQE off. Round 5 could NOT
    re-reproduce on the same build across seven shapes (local relation,
    parquet scan, cached, coalesce(1), NTZ, shuffle partitions 4/32/200),
    so the trigger is narrower than first diagnosed. No upstream fix is
    known, so no Spark version is exempt: the pin costs one explicit
    fixed-count shuffle and the failure mode is silent total data loss.
    ``tests/test_io_streaming.py::test_session_window_aqe_upstream_repro``
    is the canary on the raw (unpinned) plan."""
    return str(
        spark.conf.get("spark.sql.adaptive.enabled", "true")
    ).lower() == "true"


def session_window_stats(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    gap_s: int,
    watermark_delay: str | None = "30 minutes",
) -> DataFrame:
    """Per-session aggregate via native merging session windows.

    Output: one row per (key, session) with ``session_start`` /
    ``session_end`` (timestamps; end = last event + gap, Spark's
    convention), ``n_events``, and ``duration_ms`` (bigint, first event to
    last event — comparable to the batch operator's duration, not the
    gap-padded window length).

    Works on a streaming DataFrame (append mode; ``watermark_delay``
    required, bounds state) and on a batch DataFrame (pass
    ``watermark_delay=None``; the same expression tree runs as a regular
    aggregation). The aggregation is a single exchange on the group keys;
    partial aggregation applies map-side as usual.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    src = df
    if watermark_delay is not None:
        src = src.withWatermark(ts_col, watermark_delay)
    elif _needs_aqe_session_pin(df.sparkSession):
        # Batch-mode workaround: AQE's coalesced shuffle read feeds
        # MergingSessions ZERO rows (reproduced on Spark 4.1.2, local[4],
        # even on a 3-row input — the AQEShuffleRead-coalesced Exchange
        # under Sort+MergingSessions loses every session). An explicit
        # fixed-count repartition pins the exchange so AQE leaves it
        # alone; plan-local, no session config mutated. Streaming plans
        # disable AQE themselves, so only batch needs this. Guarded by
        # _needs_aqe_session_pin (AQE on, any Spark version).
        try:
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n = 200
        src = src.repartition(n, *key_cols)
    win = F.session_window(F.col(ts_col), f"{int(gap_s)} seconds")
    return (
        src.groupBy(*key_cols, win)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("__first"),
            F.max(ts_col).alias("__last"),
        )
        .select(
            *key_cols,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            F.floor(
                (
                    F.col("__last").cast("timestamp").cast("double")
                    - F.col("__first").cast("timestamp").cast("double")
                )
                * F.lit(1000.0)
            )
            .cast("long")
            .alias("duration_ms"),
        )
    )
