"""Structured Streaming surface — windowed rollups and streaming URL dedup.

The crawl loop itself is deliberately batch-iterative (SURVEY.md §7 decision
1: the frontier is self-feeding, and a Structured Streaming query cannot read
its own sink), but two reference dataflows ARE stream-shaped and map cleanly
onto Structured Streaming:

- the hourly activity rollup (A7, storage/database.py:470-500) becomes a
  tumbling event-time window with a watermark for late rows — the streaming
  twin of queries.q_hourly_activity;
- URL-seen dedup within a stream of discovered URLs (J1) becomes
  ``dropDuplicates`` on the canonical hash under the same watermark — exact
  within the watermark horizon, which is the politeness-round horizon in a
  live deployment (the authoritative cross-round dedup stays the url_seen
  anti-join at commit time).

Tests drive these with ``trigger(availableNow=True)`` over the driver's
events parquet and assert equality with the batch twins, so the streaming
plans share the batch plans' oracle coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_rollup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time window with late-data watermark (A7 twin).

    Output: (hour_epoch, event_type, n_events, sum_value) per closed window;
    sum_value uses the same exact-decimal trick as the batch twin so values
    match it bit-for-bit.
    """
    return (
        # watermarks require TIMESTAMP (with zone); parquet NTZ columns cast
        # losslessly under the UTC session zone
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_url_dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """First occurrence per canonical URL hash within the watermark horizon.

    Input needs (canonical:string, discovered_ts:timestamp); state is bounded
    by the watermark (expired keys are dropped), which is what makes this
    viable at frontier scale — the unbounded exact set lives in the url_seen
    table, not in stream state.
    """
    return (
        stream.withColumn("url_hash", F.xxhash64("canonical"))
        .withWatermark("discovered_ts", watermark)
        # key on the STRING alone: exact by itself (the hash is a pure
        # function of canonical, so adding it to the key changes nothing
        # except +8 state bytes per entry); url_hash stays as an OUTPUT
        # column for downstream partitioning.
        # dropDuplicatesWithinWatermark, NOT dropDuplicates: plain
        # dropDuplicates only evicts state when the event-time column is in
        # the key subset — without it state grows one entry per distinct URL
        # forever, the exact failure this design must avoid
        .dropDuplicatesWithinWatermark(["canonical"])
    )


_UNITS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
          "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}


def _duration_seconds(spec: str) -> float:
    """'1 hour' / '30 seconds' -> seconds (the watermark-spec subset used here)."""
    amount, unit = spec.split()
    return float(amount) * _UNITS[unit]


def session_rollup(
    stream: DataFrame, gap_sec: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Native ``session_window`` sessionization — the STREAMING twin of
    operators/events.sessionize, on Spark's built-in merging session state
    instead of a batch lag window.

    Output: (user_id, n_events, start_s, end_s) per closed session, epoch
    seconds as int64, matching the batch operator's values column-for-column
    (session_idx excepted — a stream has no stable per-user ordinal until
    sessions are re-ranked downstream).

    Boundary contract: although ``session_window`` documents half-open
    ``[start, start+gap)`` ranges, the merging-state operator joins a new
    event whose start EQUALS the current session end (merge on
    ``sessionStart <= curSessionEnd``), so the effective predicate is
    ``diff <= gap`` — exactly the batch operator's split-on-
    ``diff > gap_sec`` rule. The native gap is therefore ``gap_sec``
    verbatim; timestamps are truncated to whole seconds same as the batch
    operator. An off-by-one here (gap_sec+1) survives small corpora and
    only breaks on a pair exactly gap_sec+1 apart — the equality test in
    tests/test_sources_streaming.py and the ``stream_sessions`` oracle
    entry (which caught it at sf0.01) pin the boundary.

    State is bounded by the watermark: a session's state is dropped once
    the watermark passes its close, the same horizon story as the other
    streaming twins.
    """
    return (
        stream.withColumn(
            "ts", F.date_trunc("second", F.col("ts").cast("timestamp"))
        )
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_sec} seconds").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("_mn"),
            F.max("ts").alias("_mx"),
        )
        .select(
            "user_id",
            "n_events",
            F.unix_timestamp("_mn").cast("long").alias("start_s"),
            F.unix_timestamp("_mx").cast("long").alias("end_s"),
        )
    )


def politeness_gate(
    stream: DataFrame,
    default_delay: float = 1.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator (X2/X3 streaming twin): per-host virtual-time
    fetch slots over a stream of discovered candidates.

    Input: (host:string, canonical:string, event_ts:timestamp[, crawl_delay:
    double]). For each host the operator assigns ``fetch_ts`` = max(arrival,
    last_fetch + delay) — the same slotting rule the batch round plan applies
    inside one round (plans/round.py J2/X2), but with the per-host
    ``last_fetch`` carried ACROSS micro-batches in keyed state via
    ``applyInPandasWithState`` (Arrow-batched; the per-host loop is python,
    but groups arrive as whole pandas frames, never row-at-a-time UDF calls).

    State is one double per host and is evicted by event-time timeout once a
    host has been idle past the watermark — bounded state at web scale
    (active hosts only), which is what makes this operator viable where a
    naive global window would accrete every host ever seen.

    Output: (host, canonical, fetch_ts:double epoch seconds), append mode.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    has_delay = "crawl_delay" in stream.columns
    timeout_s = _duration_seconds(watermark)

    def gate(key, pdfs, state):
        import pandas as pd

        (host,) = key
        if state.hasTimedOut:
            state.remove()
            return
        last = state.get[0] if state.exists else None
        frames = list(pdfs)
        out = []
        if frames:
            # within the batch: (event_ts, canonical) order, then
            # eff = max(ts, last + delay) per row
            rows = pd.concat(frames).sort_values(["event_ts", "canonical"])
            for r in rows.itertuples(index=False):
                ts = r.event_ts.timestamp()
                delay = (
                    float(r.crawl_delay)
                    if has_delay and r.crawl_delay == r.crawl_delay  # not NaN
                    else default_delay
                )
                last = ts if last is None else max(ts, last + delay)
                out.append((host, r.canonical, last))
        if last is not None:
            state.update((float(last),))
            # evict once the host is idle past the watermark horizon
            state.setTimeoutTimestamp(int((last + timeout_s) * 1000))
        yield pd.DataFrame(out, columns=["host", "canonical", "fetch_ts"])

    return (
        stream.withColumn("event_ts", F.col("event_ts").cast("timestamp"))
        .withWatermark("event_ts", watermark)
        .groupBy("host")
        .applyInPandasWithState(
            gate,
            outputStructType="host string, canonical string, fetch_ts double",
            stateStructType="last_ts double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def hll_stream_registers(stream: DataFrame, key_col: str) -> DataFrame:
    """Streaming HyperLogLog: the mergeable register state over an unbounded
    key stream (operators/sketches.hll_registers on a streaming source).

    max() per register is the canonical streaming-sketch aggregation —
    monotone, so registers only tighten as batches arrive and the state is
    exactly HLL_M rows regardless of stream length (contrast the politeness
    gate's per-host state). Complete-mode output; equality with the batch
    registers over the same rows is pinned in tests. A production frontier
    would keep this query running beside the crawl to answer "distinct URLs
    seen so far" without ever scanning url_seen.
    """
    from crawler_spark.operators.sketches import hll_registers

    return hll_registers(stream, key_col)


def cms_stream_counters(stream: DataFrame, key_col: str) -> DataFrame:
    """Streaming count-min sketch: the live frequency state over an
    unbounded key stream (operators/sketches.cms_build on a streaming
    source).

    Counter sums are the other canonical streaming-sketch aggregation —
    additive and map-side combinable, state bounded at depth x width rows
    regardless of stream length. Complete-mode output; equality with the
    batch counters over the same rows is pinned in tests. Beside the
    crawl this answers "how hot is host X right now" (probe min over
    rows, sketches.cms_estimate) without a per-host counter table.
    """
    from crawler_spark.operators.sketches import cms_build

    return cms_build(stream, key_col)
