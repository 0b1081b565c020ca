"""Structured Streaming extension (SURVEY.md §2.8: the reference's ADT
"real-time" section is batch; this module is the engine's streaming path
for the same shapes).

Design: every transformation here is expressed so the SAME function works
on a batch DataFrame and a streaming one (Structured Streaming's core
promise). Tests run with ``trigger(availableNow=True)`` against file
sources and assert equality with the batch result.

At scale: file-source ingestion with ``maxFilesPerTrigger`` backpressure,
watermarks bounding state, window aggregation state in the state store —
all stock Structured Streaming; no custom sinks required.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from interop_spark.operators.kernels import forget_zip_finders

EVENT_JSON_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def drain(stream: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run a streaming frame until its sources are drained and return
    what it emitted: an ``availableNow`` trigger into a memory sink
    under a fresh query name, whose table comes back as a batch frame.

    Stream width: a stateful operator (aggregation, dedup, stream-stream
    join, ``applyInPandasWithState``) runs ``spark.sql.shuffle.partitions``
    state-store tasks per micro-batch, and AQE never coalesces them. The
    stream therefore starts with that conf at min(session value,
    ``defaultParallelism``); the session's own value is restored right
    after ``start()``. A streaming query runs on a clone of the session
    taken at start, so it keeps the width it saw. Results do not depend
    on the width: every input is drained before the sink is read.
    """
    spark = stream.sparkSession
    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    name = "drain_" + uuid.uuid4().hex[:8]
    width = min(int(own), spark.sparkContext.defaultParallelism)
    spark.conf.set(key, str(width))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, own)
    q.awaitTermination()
    return spark.table(name)


def stream_bundles_from_directory(
    spark: SparkSession, path: str, schemas=None, include_other: bool = False
) -> DataFrame:
    """Streaming twin of ``fhir.read_from_directory(...).entry()``: new
    bundle JSON files appearing under ``path`` become bundle rows — the
    Auto-Loader-style incremental-ingest shape of SURVEY §2.8.

    Delegates to the batch parse core ``entry_from_json`` over a
    ``readStream`` text source (wholetext, one row per file): every
    transformation in that core is a stateless projection, so the SAME
    expression tree runs in both engines and stream==batch equality
    holds by construction — identical columns (bundleId/bundleType
    metadata, per-type arrays, ``_other``) and identical bundleUUIDs
    (both sides seed from ``_metadata.file_path``). Pinned by
    ``test_stream_bundles_equals_batch_entry`` on the reference's 4 ADT
    fixtures.

    At scale: the file source's incremental listing checkpoints which
    files were seen (maxFilesPerTrigger for backpressure); everything
    downstream is per-row projection — no state store, no watermark
    needed until an aggregation is stacked on top.
    """
    from interop_spark.fhir.reader import entry_from_json

    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(path)
        .select(F.col("value"), F.col("_metadata.file_path").alias("_file_path"))
    )
    return entry_from_json(raw, schemas=schemas, include_other=include_other)


def stream_events_json(spark: SparkSession, path: str) -> DataFrame:
    """Streaming event feed from a directory of JSON lines files."""
    return spark.readStream.schema(EVENT_JSON_SCHEMA).json(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data handling.
    Works identically on batch and streaming inputs (watermark is a no-op
    in batch)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", window).alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "events_in_session bigint, session_value double"
)
_SESSION_STATE_SCHEMA = (
    "session_start double, last_ts double, n bigint, value_sum double"
)
# event-time variant: state is the buffered (ts, value) events of OPEN
# sessions, so late-but-admissible arrivals re-derive sessions correctly
_SESSION_BUFFER_STATE_SCHEMA = "ts array<double>, value array<double>"


def sessionize_stream(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: gap-based
    sessionization. A session CLOSES when a later event for the same user
    arrives more than ``gap_seconds`` after the previous one (emitting the
    closed session), or when the state times out.

    This is the streaming twin of the batch ``sessionize`` query (lag +
    cumulative flag-sum); state per user is one open session (bounded).
    """
    import pandas as pd  # noqa: F401 (documents the worker dependency)

    gap = float(gap_seconds)

    def _fn(key, pdfs, state):
        forget_zip_finders()
        import pandas as pd

        user_id = key[0]
        if state.hasTimedOut:
            if state.exists:
                s0, last, n, vsum = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(round(s0 * 1e6), unit="us")],
                        "session_end": [pd.Timestamp(round(last * 1e6), unit="us")],
                        "events_in_session": [n],
                        "session_value": [round(vsum, 2)],
                    }
                )
            return

        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out = []
        if state.exists:
            s0, last, n, vsum = state.get
        else:
            s0 = last = None
            n, vsum = 0, 0.0
        for ts, value in zip(rows["ts"], rows["value"]):
            t = ts.timestamp()
            if last is not None and t - last > gap:
                out.append((s0, last, n, vsum))
                s0, n, vsum = t, 0, 0.0
            if s0 is None:
                s0 = t
            last = t
            n += 1
            vsum += float(value)
        state.update((s0, last, n, vsum))
        state.setTimeoutDuration(int(gap * 1000))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [pd.Timestamp(round(o[0] * 1e6), unit="us") for o in out],
                    "session_end": [pd.Timestamp(round(o[1] * 1e6), unit="us") for o in out],
                    "events_in_session": [o[2] for o in out],
                    "session_value": [round(o[3], 2) for o in out],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_stream_event_time(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time-timeout sessionization: a session closes when the
    WATERMARK passes its last event plus the gap
    (``GroupStateTimeout.EventTimeTimeout``), not when wall-clock elapses.

    The state is the BUFFER of events belonging to still-open sessions,
    and sessions are re-derived from the ordered merge of that buffer on
    every invocation — so out-of-order arrival ACROSS micro-batches
    (exactly the case event-time + watermark exists for) lands in the
    right place: a late event inside the watermark extends/backfills its
    session instead of regressing ``session_end`` or being merged without
    updating ``session_start``. A session is emitted only once its
    ``last + gap`` deadline is STRICTLY behind the watermark, at which
    point no admissible future event can join it. Admission semantics,
    measured on this Spark build (see
    ``test_sessionize_event_time_boundary_joiner_at_watermark``): with
    ``EventTimeTimeout``, Spark's late-row filter drops events unless
    ``ts > previous batch's watermark`` — an event at exactly
    ``ts == watermark`` is NOT delivered, so even the non-strict close
    (``<=``) could never lose an on-the-boundary joiner. The strict
    close is kept as defense-in-depth: under either admission boundary
    (``>`` or ``>=`` the late watermark) every event that Spark can
    still deliver finds its session open, at the cost of holding a
    deadline==watermark session one extra batch — the
    emitted session SET is therefore a deterministic function of the
    data, independent of batch boundaries, which is what makes backfills
    reproducible. Sessions still inside the watermark horizon stay open
    (and unemitted) when the stream stops.

    State is bounded: only events of open sessions are buffered, i.e.
    events newer than roughly ``watermark − gap`` per user — the same
    bound Spark's built-in ``session_window`` state carries.
    """
    import pandas as pd  # noqa: F401 (documents the worker dependency)

    gap = float(gap_seconds)

    def _fn(key, pdfs, state):
        forget_zip_finders()
        import pandas as pd

        user_id = key[0]
        wm_sec = state.getCurrentWatermarkMs() / 1000.0

        buf_ts: list = []
        buf_val: list = []
        if state.exists:
            ts0, val0 = state.get
            buf_ts, buf_val = list(ts0), list(val0)
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf_ts.extend(t.timestamp() for t in pdf["ts"])
                buf_val.extend(float(v) for v in pdf["value"])

        # ordered merge of buffered + new events; (ts, value) is a
        # deterministic sort key, so replay order never changes sessions
        events_sorted = sorted(zip(buf_ts, buf_val))
        sessions: list[list] = []  # [s0, last, n, vsum, [(t, v), ...]]
        for t, v in events_sorted:
            if sessions and t - sessions[-1][1] <= gap:
                s = sessions[-1]
                s[1] = t
                s[2] += 1
                s[3] += v
                s[4].append((t, v))
            else:
                sessions.append([t, t, 1, v, [(t, v)]])

        # strict <: keeps a deadline==watermark session open one more
        # batch. On this Spark build the late filter already drops a
        # ts==watermark joiner (admission requires ts > the previous
        # batch's watermark), so <= would also be safe — strict is
        # version-robust should admission ever become inclusive.
        closed = [s for s in sessions if s[1] + gap < wm_sec]
        open_ = [s for s in sessions if s[1] + gap >= wm_sec]

        if open_:
            keep = [p for s in open_ for p in s[4]]
            state.update((
                [p[0] for p in keep],
                [p[1] for p in keep],
            ))
            # wake when the earliest open deadline falls behind the
            # watermark; must be strictly ahead of the current watermark
            # or Spark rejects the timestamp
            deadline_ms = int(min(s[1] + gap for s in open_) * 1000)
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()

        for s0, last, n, vsum, _ in closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(round(s0 * 1e6), unit="us")],
                    "session_end": [pd.Timestamp(round(last * 1e6), unit="us")],
                    "events_in_session": [n],
                    "session_value": [round(vsum, 2)],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_BUFFER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_dedupe(
    events: DataFrame, watermark: str | None = "1 hour"
) -> DataFrame:
    """Exactly-once event feed: drop duplicate event_ids within the
    watermark horizon (bounded state — the streaming form of the
    reference's J3 dedupe flags). ``watermark=None`` keeps state for
    the whole run — the bounded-backfill (availableNow) configuration,
    where a horizon would make results depend on the order the source
    lists its files (a replayed file processed after the watermark
    advanced past its timestamps would be dropped as late wholesale);
    a continuous deployment always sets a horizon."""
    src = (
        events.withWatermark("ts", watermark)
        if events.isStreaming and watermark is not None
        else events
    )
    return src.dropDuplicates(["event_id"])


def enrich_events(
    events: DataFrame,
    dim: DataFrame,
    dim_key: str = "c_custkey",
    event_key: str = "user_id",
) -> DataFrame:
    """Stream-static enrichment: join the (streaming) event feed to a
    static dimension — the standard lookup-table pattern. The static
    side is explicitly ``broadcast()``: stream-static joins re-execute
    the static side per micro-batch, so a shuffled dim would pay a full
    exchange every trigger, while a broadcast ships once per executor
    and the stream side never shuffles. Left join: an event with no dim
    row must survive (NULL-enriched), not vanish from the feed.

    Works identically on batch and streaming inputs, which is what the
    stream==batch equality test asserts.
    """
    d = F.broadcast(
        dim.select(
            F.col(dim_key).alias(event_key),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
    )
    return events.join(d, event_key, "left").select(
        "event_id", "ts", event_key, "event_type", "value",
        "customer_name", "mktsegment",
    )


def stream_ndjson_resources(
    spark: SparkSession, path: str, resource_type: str, schemas=None
) -> DataFrame:
    """Streaming twin of ``FhirNdjson.resource`` (round-10): new NDJSON
    bulk-export files (or part files a bulk exporter keeps appending)
    landing under ``path`` become typed resource rows incrementally —
    line-per-resource, so unlike the wholetext bundle stream each
    micro-batch splits by bytes, not files.

    Delegates to the batch parse core ``ndjson_resource_from_lines``
    (the ``entry_from_json`` pattern): the tag filter + typed
    ``variant_get`` are the SAME stateless projections the batch reader
    runs, so stream==batch holds by construction.
    """
    from interop_spark.fhir.reader import ndjson_resource_from_lines

    raw = (
        spark.readStream.format("text")
        .load(path)
        .select(
            F.col("value"), F.col("_metadata.file_path").alias("_file_path")
        )
    )
    return ndjson_resource_from_lines(raw, resource_type, schemas=schemas)


def stream_neardup_pairs(
    stream_docs: DataFrame,
    history_index: tuple[DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """CONTINUOUS-CRAWL near-dup screening: the streaming twin of
    ``dedup.minhash_incremental_dedup``. New documents arrive as a
    STREAM and probe a STATIC prebuilt MinHash index
    (``dedup.build_minhash_index`` — yesterday's corpus build), which is
    Structured Streaming's native STREAM-STATIC join shape: per
    micro-batch the stream side computes shingles, signature and band
    keys as STATELESS projections, inner-joins the static band table,
    re-joins the static shingle table for exact-Jaccard verification,
    and de-duplicates the (new, hist) pair across bands with streaming
    ``dropDuplicates`` — the only stateful operator in the plan, keyed
    by the pair, so state is bounded by the matches within the
    deduplication horizon (unbounded here = the bounded-backfill
    availableNow contract, same as ``streaming_dedupe(watermark=None)``;
    a continuous deployment adds ``withWatermark`` + a key TTL).

    One deliberate divergence from the batch plan: the stream side
    CARRIES its shingle array through the band explode instead of
    re-joining it per candidate — a batch self-re-join would make the
    stream side join ITSELF (stream-stream state on every row); carrying
    ~shingle-sized rows through a stateless projection is the right
    trade in a micro-batch. Emits (new_id, hist_id, jaccard_sim) pairs
    in append mode. The stream's band keys come from ``dedup.band_table``,
    the code that built the index's, so probe and index always agree.
    """
    from interop_spark.operators.dedup import (
        band_table,
        jaccard,
        minhash_signature,
        word_shingles,
    )

    h_sh, h_band = history_index
    sig = stream_docs.select(
        F.col(id_col).alias("new_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh_n"),
    ).select(
        "new_id",
        "_sh_n",
        minhash_signature("_sh_n", k).alias("sig"),
    )
    banded = band_table(sig, k, bands, rows, "new_id", "_sh_n")
    return (
        banded.join(
            h_band.select(
                F.col("doc_id").alias("hist_id"), "band_key"
            ),
            "band_key",
        )
        .join(
            h_sh.select(
                F.col("doc_id").alias("hist_id"),
                F.col("shingles").alias("_sh_h"),
            ),
            "hist_id",
        )
        .select(
            "new_id",
            "hist_id",
            jaccard(F.col("_sh_n"), F.col("_sh_h")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
        .dropDuplicates(["new_id", "hist_id"])
    )
