"""Streaming trip sessionization — a custom stateful operator.

The reference's trip-reconstruction state machine
(``src/AirportTripsRevenue.java:275-407``) is a batch reducer; this module
runs the *same* state machine incrementally over an unbounded position
stream with ``applyInPandasWithState``: per-taxi state (the reducer's
carrier — previous fix + open-trip accumulator) persists in the state
store across micro-batches, and a trip is emitted the moment the machine
closes it (gap split or M->E), exactly as the batch parity path would.

Semantics and their streaming caveats, explicitly:

- Within one micro-batch a taxi's new positions are sorted by (t,
  event_id) before replay. Across micro-batches the operator assumes
  per-taxi monotone arrival (the reference's input contract after the MR
  shuffle sort); a position older than the carrier's last-seen t cannot be
  replayed into already-consumed state and is dropped. The reference drops
  such input silently; an engine should count what it drops, so every
  entry point takes an optional ``dropped_acc`` Spark accumulator that
  tallies late-dropped positions (same observability stance as
  ``dedup.lsh_dropped_buckets``).
- Trailing open trips are never emitted by the default path (reference
  behavior: a trip still open at end-of-input is lost), so no timeout is
  needed for result parity. ``airport_trips_stream_timeout`` is the
  production extension: an event-time timeout force-closes any session
  idle longer than ``idle_gap_s``, emits the flushed trip (same M->E close
  as a gap split, bit-identical rounding via ``replay_core``), and evicts
  the taxi's state — bounding the state store by |recently active taxis|.
- State per taxi is O(1) — a handful of doubles — so the state store
  scales with |active taxis|, not with data volume.

``tests/test_streaming_trips.py`` replays the derived GPS stream with an
availableNow trigger and asserts output identical to the batch parity
path.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce_hadoop_spark import constants as C
from mapreduce_hadoop_spark.operators import gps
from mapreduce_hadoop_spark.operators.sessionize import (
    PARITY_COLUMNS,
    PARITY_SCHEMA,
    fresh_carrier,
    replay_core,
)

# The reducer carrier, flattened for the state store. `trip_date` rides as a
# string; `has_trip` discriminates the Optional open-trip accumulator.
STATE_SCHEMA = (
    "prev_status string, prev_lat double, prev_lon double, prev_t double, "
    "has_trip boolean, start_t double, start_lat double, start_lon double, "
    "airport boolean, dist double, trip_date string"
)


def _carrier_from_state(state: GroupState) -> dict:
    if not state.exists:
        return fresh_carrier()
    (ps, plat, plon, pt, has_trip, st, slat, slon, ap, dist, date) = state.get
    trip = (
        {
            "start_t": st,
            "start_lat": slat,
            "start_lon": slon,
            "airport": ap,
            "dist": dist,
            "date": date,
        }
        if has_trip
        else None
    )
    return {
        "prev_status": ps,
        "prev_lat": plat,
        "prev_lon": plon,
        "prev_t": pt,
        "trip": trip,
    }


def _carrier_to_state(carrier: dict, state: GroupState) -> None:
    trip = carrier["trip"]
    state.update(
        (
            carrier["prev_status"],
            carrier["prev_lat"],
            carrier["prev_lon"],
            carrier["prev_t"],
            trip is not None,
            trip["start_t"] if trip else 0.0,
            trip["start_lat"] if trip else 0.0,
            trip["start_lon"] if trip else 0.0,
            trip["airport"] if trip else False,
            trip["dist"] if trip else 0.0,
            str(trip["date"]) if trip else "",
        )
    )


def _drop_late(pdf: pd.DataFrame, carrier: dict, dropped_acc) -> pd.DataFrame:
    """Drop positions older than state already consumed (module docstring),
    counting them into ``dropped_acc`` when one is supplied."""
    late = pdf["t"] < carrier["prev_t"]
    n_late = int(late.sum())
    if n_late and dropped_acc is not None:
        dropped_acc.add(n_late)
    return pdf[~late]


def _make_fn(kwargs: dict, dropped_acc=None):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (taxi,) = key
        carrier = _carrier_from_state(state)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["t", "event_id"])
        pdf = _drop_late(pdf, carrier, dropped_acc)
        rows = pdf[["t", "lat", "lon", "status", "event_date"]].itertuples(
            index=False, name=None
        )
        out, carrier = replay_core(int(taxi), rows, carrier, **kwargs)
        _carrier_to_state(carrier, state)
        yield pd.DataFrame(out, columns=PARITY_COLUMNS)

    return fn


def positions_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The gps.positions derivation over a file stream of the events table."""
    from mapreduce_hadoop_spark.sources.tables import (
        ensure_confs,
        normalize_events,
        parquet_schema,
    )

    ensure_confs(spark)
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    # "events*" (like sessions._events_stream): a continuation file
    # (events2.parquet, e.g. the next ingest drop) joins the stream.
    reader = spark.readStream.schema(raw_schema).option(
        "pathGlobFilter", "events*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = normalize_events(reader.parquet(sf_dir))
    from pyspark.sql import functions as F

    return ev.select(
        F.col("user_id").alias("taxi"),
        (F.col("ts").cast("double") / F.lit(gps.TIME_COMPRESSION)).alias("t"),
        (F.lit(37.58) + gps.fold(F.col("value"), 0.1)).alias("lat"),
        (F.lit(-122.43) + gps.fold(F.col("value") * F.lit(0.618033), 0.1)).alias("lon"),
        F.when(F.col("event_type").isin("click", "view", "purchase"), F.lit("M"))
        .otherwise(F.lit("E"))
        .alias("status"),
        F.col("event_id"),
        F.col("ts").cast("date").alias("event_date"),
    )


def airport_trips_microbatch(
    spark: SparkSession, sf_dir: str, n_batches: int = 3, dropped_acc=None, **kwargs
) -> DataFrame:
    """Driver-checkable batch twin of ``airport_trips_stream``.

    Simulates the micro-batch execution in one batch job: positions are
    bucketed into ``n_batches`` global event-time windows (the stream's
    arrival order), and each taxi replays its buckets IN ORDER through
    ``replay_core``, carrying the reducer state across bucket boundaries
    exactly as the state store does across micro-batches — including the
    older-than-state drop guard. Because the carrier is the machine's
    complete state, the output is bit-identical to the single-pass parity
    replay (asserted against ``airport_trips_parity_query`` and the
    committed golden fixture in ``tests/test_streaming_trips.py``), which
    is what makes the cross-boundary carry verifiable by the driver.

    Not SQL-expressible (order-dependent stateful fold) -> rows-only row.
    """
    from pyspark.sql import functions as F

    kwargs.setdefault("airport_radius_km", gps.DEMO_AIRPORT_RADIUS_KM)
    pos = gps.positions(spark, sf_dir)
    bounds = pos.agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    width = (F.col("t1") - F.col("t0")) / F.lit(float(n_batches))
    batch = F.when(F.col("t1") > F.col("t0"),
                   F.least(
                       F.lit(n_batches - 1),
                       F.floor((F.col("t") - F.col("t0")) / width).cast("int"),
                   )).otherwise(F.lit(0))
    pos = (
        pos.crossJoin(F.broadcast(bounds))
        .withColumn("batch", batch)
        .drop("t0", "t1")
    )

    def fn(key: Any, pdf: pd.DataFrame) -> pd.DataFrame:
        (taxi,) = key
        carrier = fresh_carrier()
        outs: list[tuple] = []
        for b in sorted(pdf["batch"].unique()):
            chunk = pdf[pdf["batch"] == b].sort_values(["t", "event_id"])
            chunk = _drop_late(chunk, carrier, dropped_acc)
            rows = chunk[["t", "lat", "lon", "status", "event_date"]].itertuples(
                index=False, name=None
            )
            out, carrier = replay_core(int(taxi), rows, carrier, **kwargs)
            outs.extend(out)
        return pd.DataFrame(outs, columns=PARITY_COLUMNS)

    return pos.groupBy("taxi").applyInPandas(fn, PARITY_SCHEMA)


def airport_trips_stream(
    spark: SparkSession, sf_dir: str, dropped_acc=None, **kwargs
) -> DataFrame:
    """Streaming DataFrame of closed airport trips (append mode).

    ``kwargs`` override the reference thresholds, as in the batch parity
    path; the demo airport radius matches the batch parity query so the two
    are directly comparable. ``dropped_acc`` (optional Spark accumulator)
    counts late positions dropped at the state boundary.
    """
    kwargs.setdefault("airport_radius_km", gps.DEMO_AIRPORT_RADIUS_KM)
    pos = positions_stream(spark, sf_dir)
    return pos.groupBy("taxi").applyInPandasWithState(
        _make_fn(kwargs, dropped_acc),
        outputStructType=PARITY_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- event-time timeout variant -------------------------------------------


def _flush_carrier(taxi: int, carrier: dict, kwargs: dict) -> list[tuple]:
    """Force-close a carrier's open trip at its last-seen position.

    Reuses ``replay_core``'s own M->E close by feeding one synthetic E at
    (prev_t, prev_lat, prev_lon): delta is 0, so the machine closes the
    open trip exactly as a speed-legal M->E would — the emission test and
    6-dp rounding are bit-identical to the parity path, not re-implemented.
    A carrier with no open trip (prev_status E, or no qualifying trip)
    emits nothing, same as the machine itself.
    """
    synthetic = [
        (carrier["prev_t"], carrier["prev_lat"], carrier["prev_lon"], "E", "")
    ]
    out, _ = replay_core(taxi, synthetic, carrier, **kwargs)
    return out


def _make_timeout_fn(kwargs: dict, idle_gap_s: float, dropped_acc=None):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (taxi,) = key
        if state.hasTimedOut:
            # Watermark passed last-seen + idle gap with no new data:
            # flush the open trip and evict this taxi's state entirely.
            carrier = _carrier_from_state(state)
            out = _flush_carrier(int(taxi), carrier, kwargs)
            state.remove()
            yield pd.DataFrame(out, columns=PARITY_COLUMNS)
            return
        carrier = _carrier_from_state(state)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["t", "event_id"])
        pdf = _drop_late(pdf, carrier, dropped_acc)
        rows = pdf[["t", "lat", "lon", "status", "event_date"]].itertuples(
            index=False, name=None
        )
        out, carrier = replay_core(int(taxi), rows, carrier, **kwargs)
        _carrier_to_state(carrier, state)
        # Timeout fires once the event-time watermark passes last-seen +
        # idle gap. The timestamp must lie beyond the current watermark
        # (Spark requirement) — an all-late batch leaves prev_t behind the
        # watermark, so clamp forward.
        timeout_ms = max(
            int((carrier["prev_t"] + idle_gap_s) * 1000),
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(out, columns=PARITY_COLUMNS)

    return fn


def airport_trips_timeout_batch(
    spark: SparkSession,
    sf_dir: str,
    idle_gap_s: float = C.MAX_SEGMENT_DELTA_TIME_S,
    **kwargs,
) -> DataFrame:
    """Driver-checkable batch twin of ``airport_trips_stream_timeout`` —
    the PRODUCTION trip semantics (bounded state, trailing trips emitted),
    as a deterministic batch job.

    Models a finite run of the event-time-timeout stream at its
    end-of-input watermark: each taxi's positions replay in (t, event_id)
    order through ``replay_core`` (bit-identical machine to the parity
    path, ``AirportTripsRevenue.java:275-407`` semantics), then any taxi
    idle longer than ``idle_gap_s`` against the global end-of-input
    watermark (max t over ALL taxis — one broadcast scalar) has its open
    trip force-closed through the machine's own M->E flush
    (``_flush_carrier``), exactly what the stream's timeout does when the
    final watermark passes ``prev_t + idle_gap_s``. Taxis still active
    within the gap at end-of-input keep their trip open — same as the
    store would.

    Unlike the no-timeout paths, the output is NOT order-dependent across
    micro-batch splits (the flush decision depends only on the final
    watermark), so this twin is fully deterministic for the driver's
    rows-only check; the flush semantics are pinned against the real
    stream by ``tests/test_streaming_trips.py`` (fixture + equivalence).
    Not SQL-expressible (stateful fold) -> no oracle entry.
    """
    kwargs.setdefault("airport_radius_km", gps.DEMO_AIRPORT_RADIUS_KM)
    pos = gps.positions(spark, sf_dir)
    bounds = pos.agg(F.max("t").alias("wm_t"))
    pos = pos.crossJoin(F.broadcast(bounds))

    def fn(key: Any, pdf: pd.DataFrame) -> pd.DataFrame:
        (taxi,) = key
        wm_t = float(pdf["wm_t"].iloc[0])
        chunk = pdf.sort_values(["t", "event_id"])
        rows = chunk[["t", "lat", "lon", "status", "event_date"]].itertuples(
            index=False, name=None
        )
        out, carrier = replay_core(int(taxi), rows, fresh_carrier(), **kwargs)
        if wm_t > carrier["prev_t"] + idle_gap_s:
            out.extend(_flush_carrier(int(taxi), carrier, kwargs))
        return pd.DataFrame(out, columns=PARITY_COLUMNS)

    return pos.groupBy("taxi").applyInPandas(fn, PARITY_SCHEMA)


def airport_trips_stream_timeout(
    spark: SparkSession,
    sf_dir: str,
    idle_gap_s: float = C.MAX_SEGMENT_DELTA_TIME_S,
    watermark_delay: str = "0 seconds",
    dropped_acc=None,
    max_files_per_trigger: int | None = None,
    **kwargs,
) -> DataFrame:
    """``airport_trips_stream`` plus an event-time timeout: any taxi idle
    longer than ``idle_gap_s`` (in compressed stream seconds, i.e. the
    ``t`` timescale) is force-closed — its open trip is flushed through the
    machine's own M->E close and its state evicted from the store.

    This is the production shape the no-timeout parity path documents as
    missing: without it, idle taxis' carriers live forever and trailing
    trips are never emitted. With it, state is bounded by |taxis active
    within the idle gap| and every qualifying trip eventually emits. The
    default gap reuses the reference's 210 s session-split threshold
    (``AirportTripsRevenue.java:36-38``): a session the machine would have
    split on its next fix is exactly one the timeout may close in absentia.

    The watermark rides a synthetic ``timestamp_seconds(t)`` column so
    timeout arithmetic stays in the stream's own timescale.
    """
    kwargs.setdefault("airport_radius_km", gps.DEMO_AIRPORT_RADIUS_KM)
    pos = positions_stream(spark, sf_dir, max_files_per_trigger)
    pos = pos.withColumn(
        "t_event", F.timestamp_seconds(F.col("t"))
    ).withWatermark("t_event", watermark_delay)
    return pos.groupBy("taxi").applyInPandasWithState(
        _make_timeout_fn(kwargs, idle_gap_s, dropped_acc),
        outputStructType=PARITY_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
