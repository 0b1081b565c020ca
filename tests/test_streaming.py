"""Structured Streaming extension: file-source ingestion with
availableNow trigger, checked for equality against the batch result."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def event_json_dir(spark, sf_dir, tmp_path_factory):
    """Events fixture re-serialized as JSON-lines files (streaming source)."""
    from interop_spark.io import load

    d = tmp_path_factory.mktemp("events_json")
    rows = load(spark, sf_dir, "events").limit(300).collect()
    for chunk in range(3):
        with open(d / f"part{chunk}.json", "w") as f:
            for r in rows[chunk * 100 : (chunk + 1) * 100]:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
    return str(d)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name == "win" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()  # deterministic barrier (no fixed-clock race)
    q.stop()
    q.awaitTermination()
    return q


def test_windowed_counts_stream_equals_batch(spark, event_json_dir):
    from interop_spark.streaming import stream_events_json, windowed_event_counts

    stream = windowed_event_counts(stream_events_json(spark, event_json_dir))
    _run_stream(stream, "win")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("win").collect()
    }

    batch_src = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        "value double, props string"
    ).json(event_json_dir)
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_counts(batch_src).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_dedupe(spark, event_json_dir, tmp_path):
    from interop_spark.streaming import stream_events_json, streaming_dedupe

    # duplicate every file's contents into a second file
    import shutil, os

    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    for f in os.listdir(event_json_dir):
        shutil.copy(f"{event_json_dir}/{f}", dup_dir / f)
        shutil.copy(f"{event_json_dir}/{f}", dup_dir / f"copy_{f}")

    deduped = streaming_dedupe(stream_events_json(spark, str(dup_dir)))
    _run_stream(deduped, "dedup")
    n = spark.table("dedup").count()
    assert n == 300  # duplicates dropped


def test_streaming_dedupe_no_watermark(spark, event_json_dir, tmp_path):
    """watermark=None (the bounded-backfill configuration the
    stream_dedup_counts driver row uses): state persists for the whole
    run, so replays dedupe regardless of source file order."""
    import os
    import shutil

    from interop_spark.streaming import stream_events_json, streaming_dedupe

    dup_dir = tmp_path / "dup_nowm"
    dup_dir.mkdir()
    for f in os.listdir(event_json_dir):
        shutil.copy(f"{event_json_dir}/{f}", dup_dir / f)
        shutil.copy(f"{event_json_dir}/{f}", dup_dir / f"copy_{f}")

    deduped = streaming_dedupe(
        stream_events_json(spark, str(dup_dir)), watermark=None
    )
    _run_stream(deduped, "dedup_nowm")
    assert spark.table("dedup_nowm").count() == 300


def test_enrich_events_stream_equals_batch(spark, sf_dir, event_json_dir):
    """Stream-static broadcast enrichment: the streamed left join to the
    customer dim equals the batch join, and events without a dim row
    survive NULL-enriched."""
    from interop_spark.io import load
    from interop_spark.streaming import stream_events_json
    from interop_spark.streaming.streams import enrich_events

    dim = load(spark, sf_dir, "customer")
    enriched = enrich_events(stream_events_json(spark, event_json_dir), dim)
    _run_stream(enriched, "enriched")
    key = lambda r: (r.event_id, r.user_id, r.customer_name, r.mktsegment)
    got = sorted(key(r) for r in spark.table("enriched").collect())

    batch_src = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        "value double, props string"
    ).json(event_json_dir)
    expected = sorted(
        key(r) for r in enrich_events(batch_src, dim).collect()
    )
    assert got == expected and len(got) == 300
    # the plan must broadcast the dim (stream side never shuffles)
    plan = enrich_events(batch_src, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stream_bundles(spark, tmp_path):
    from interop_spark.streaming import stream_bundles_from_directory

    d = tmp_path / "stream_bundles"
    d.mkdir()
    import shutil, os

    src = "/root/reference/sampledata/adt_records"
    for f in os.listdir(src):
        shutil.copy(f"{src}/{f}", d / f)
    entry = stream_bundles_from_directory(spark, str(d))
    assert entry.isStreaming
    q = (
        entry.selectExpr("bundleUUID", "size(Patient) AS np", "timestamp")
        .writeStream.format("memory")
        .queryName("bundles")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()  # deterministic barrier (no fixed-clock race)
    q.stop()
    q.awaitTermination()
    rows = spark.table("bundles").collect()
    assert len(rows) == 4
    assert all(r.np == 1 for r in rows)
    assert all(r.timestamp is not None for r in rows)


def test_sessionize_stream_closed_sessions_match_batch(spark, event_json_dir):
    """Sessions that CLOSE within the data (a later event arrives past the
    gap) must match the batch sessionization exactly."""
    from interop_spark.streaming import stream_events_json
    from interop_spark.streaming.streams import sessionize_stream

    GAP = 1800
    q = (
        sessionize_stream(stream_events_json(spark, event_json_dir), GAP)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # A ProcessingTimeTimeout query never self-terminates under
    # availableNow: every batch re-arms wall-clock timeouts, so the
    # engine keeps scheduling batches and processAllAvailable never sees
    # noNewData (measured: ~1,500 micro-batch jobs in 25 min before this
    # fix; the leaked query then starved every later streaming test).
    # All closed sessions come from the files' single data batch, so
    # poll the sink to stability, then STOP the query — no leak.
    import time as _time

    last, stable, t0 = -1, 0, _time.time()
    while _time.time() - t0 < 180:
        n = spark.table("sess_stream").count()
        stable = stable + 1 if n == last and n > 0 else 0
        last = n
        if stable >= 3:
            break
        _time.sleep(2.0)
    q.stop()
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.events_in_session, r.session_value)
        for r in spark.table("sess_stream").collect()
    }

    # batch twin: closed sessions only (a later event exists past the gap)
    import pandas as pd

    src = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        "value double, props string"
    ).json(event_json_dir).toPandas()
    expected = set()
    for uid, g in src.sort_values(["ts", "event_id"]).groupby("user_id"):
        s0 = last = None
        n, vsum = 0, 0.0
        for ts, value in zip(g["ts"], g["value"]):
            t = ts.timestamp()
            if last is not None and t - last > GAP:
                expected.add((uid, pd.Timestamp(round(s0 * 1e6), unit="us"), n, round(vsum, 2)))
                s0, n, vsum = t, 0, 0.0
            if s0 is None:
                s0 = t
            last = t
            n += 1
            vsum += float(value)
        # open tail session not emitted by the stream without timeout
    assert expected, "fixture must contain closed sessions"
    assert got == expected


def test_sessionize_event_time_timeout(spark, tmp_path):
    """Event-time-timeout sessionization is a deterministic function of
    the data: sessions whose (last event + gap) falls behind the final
    watermark are emitted via timeout (u1), gap-closed sessions emit as
    usual (u2's first), and sessions still inside the watermark horizon
    stay open and unemitted (u2's second, u3)."""
    import json as _json

    from interop_spark.streaming.streams import (
        sessionize_stream_event_time,
        stream_events_json,
    )

    d = tmp_path / "ev"
    d.mkdir()
    t0 = 1700000000  # 2023-11-14T22:13:20Z
    HOUR = 3600

    def ev(eid, ts, uid, value):
        return _json.dumps(
            {
                "event_id": eid,
                "ts": __import__("datetime").datetime.fromtimestamp(
                    ts, __import__("datetime").timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "user_id": uid,
                "event_type": "x",
                "value": value,
                "props": "{}",
            }
        )

    lines = [
        ev(1, t0, 1, 1.0),
        ev(2, t0 + 300, 1, 2.0),
        ev(3, t0 + 600, 1, 3.0),   # u1: last=t0+600, deadline t0+2400
        ev(4, t0, 2, 5.0),          # u2 first session
        ev(5, t0 + 3 * HOUR, 2, 7.0),  # gap-closes u2's first; open tail
        ev(6, t0 + 3 * HOUR, 3, 9.0),  # u3: open tail
    ]
    (d / "events.json").write_text("\n".join(lines))

    q = (
        sessionize_stream_event_time(
            stream_events_json(spark, str(d)), gap_seconds=1800,
            watermark="10 minutes",
        )
        .writeStream.format("memory")
        .queryName("sess_et")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()  # deterministic barrier (no fixed-clock race)
    q.stop()
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp()),
         int(r.session_end.timestamp()), r.events_in_session,
         r.session_value)
        for r in spark.table("sess_et").collect()
    }
    # final watermark = (t0+3h) - 10min; u1's deadline t0+2400 is behind
    # it -> timeout-emitted; u2's first closed by the gap in-batch; the
    # two tails (deadline t0+3h+30min) are ahead of it -> stay open
    assert got == {
        (1, t0, t0 + 600, 3, 6.0),
        (2, t0, t0, 1, 5.0),
    }


def test_sessionize_event_time_out_of_order_across_batches(spark, tmp_path):
    """Out-of-order arrival ACROSS micro-batches, inside the watermark —
    the case event-time sessionization exists for. A late event that
    precedes the stored session must backfill session_start (not be
    merged without it) and must never regress session_end; the emitted
    session is identical to what an in-order replay yields."""
    import datetime as _dt
    import json as _json
    import os as _os

    from interop_spark.streaming.streams import (
        EVENT_JSON_SCHEMA,
        sessionize_stream_event_time,
    )

    d = tmp_path / "ev_ooo"
    d.mkdir()
    t0 = 1700000000
    HOUR = 3600

    def ev(eid, ts, uid, value):
        return _json.dumps(
            {
                "event_id": eid,
                "ts": _dt.datetime.fromtimestamp(
                    ts, _dt.timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "user_id": uid,
                "event_type": "x",
                "value": value,
                "props": "{}",
            }
        )

    # batch 1: the session's LATEST event arrives first
    (d / "f1.json").write_text(ev(1, t0 + 600, 1, 3.0))
    # batch 2: two OLDER events for the same session — admissible, since
    # the watermark after batch 1 is (t0+600) - 10min = t0 < t0+300;
    # one even precedes the stored first event (start must backfill)
    (d / "f2.json").write_text(
        "\n".join([ev(2, t0 + 300, 1, 2.0), ev(3, t0, 1, 1.0)])
    )
    # batch 3: a far-future event pushes the watermark past the deadline
    (d / "f3.json").write_text(ev(4, t0 + 3 * HOUR, 2, 9.0))
    # force discovery order = f1, f2, f3 (file source orders by mod time)
    for i, name in enumerate(("f1.json", "f2.json", "f3.json")):
        _os.utime(d / name, (t0 + i * 100, t0 + i * 100))

    src = (
        spark.readStream.schema(EVENT_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .json(str(d))
    )
    q = (
        sessionize_stream_event_time(
            src, gap_seconds=1800, watermark="10 minutes",
        )
        .writeStream.format("memory")
        .queryName("sess_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow honors maxFilesPerTrigger=1 → 3 separate micro-batches
    q.processAllAvailable()  # deterministic barrier (no fixed-clock race)
    q.stop()
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp()),
         int(r.session_end.timestamp()), r.events_in_session,
         r.session_value)
        for r in spark.table("sess_ooo").collect()
    }
    # u1's merged session: start at the LATE-arriving earliest event t0,
    # end at t0+600 (never regressed), all 3 events, value 1+2+3;
    # u2's tail is still ahead of the final watermark → unemitted
    assert got == {(1, t0, t0 + 600, 3, 6.0)}


def test_sessionize_event_time_boundary_joiner_at_watermark(spark, tmp_path):
    """Pins the watermark-boundary admission semantics the closure rule
    depends on (measured on this Spark build with an invocation-logging
    probe): with EventTimeTimeout, the late-row filter delivers an event
    only if ts > the PREVIOUS batch's watermark — a joiner at exactly
    ts == watermark is dropped before the state function ever sees it.
    Consequently a session whose deadline sits exactly on the watermark
    can never be extended, the emitted set below is identical under the
    strict (<) and non-strict (<=) closes, and the in-order replay that
    WOULD have merged all three u1 events into one session is
    unreachable through this stream. If a Spark upgrade makes admission
    inclusive (ts >= late watermark), this test fails with u1's events
    merged into (t0, t0+2400, 3, 6.0) — exactly the case the strict
    close is kept for."""
    import datetime as _dt
    import json as _json
    import os as _os

    from interop_spark.streaming.streams import (
        EVENT_JSON_SCHEMA,
        sessionize_stream_event_time,
    )

    d = tmp_path / "ev_bnd"
    d.mkdir()
    t0 = 1700000000
    HOUR = 3600

    def ev(eid, ts, uid, value):
        return _json.dumps(
            {
                "event_id": eid,
                "ts": _dt.datetime.fromtimestamp(
                    ts, _dt.timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "user_id": uid,
                "event_type": "x",
                "value": value,
                "props": "{}",
            }
        )

    # b1: u1's first event; session deadline = t0+1800
    (d / "f1.json").write_text(ev(1, t0, 1, 1.0))
    # b2: u2 @ t0+2400 pushes the NEXT batch's watermark to exactly
    # t0+1800 == u1's deadline
    (d / "f2.json").write_text(ev(2, t0 + 2400, 2, 5.0))
    # b3: a LATER u1 event (new-session distance) triggers u1's group at
    # wm == deadline; strict close keeps the t0 session open one more
    # batch. Max event time unchanged, wm stays t0+1800.
    (d / "f3.json").write_text(ev(3, t0 + 2400, 1, 3.0))
    # b4: the boundary joiner at exactly ts == wm == t0+1800 — would
    # bridge u1's two events into ONE session, but the late filter drops
    # it (t0+1800 is not > the previous batch's watermark t0+1800)
    (d / "f4.json").write_text(ev(4, t0 + 1800, 1, 2.0))
    # b5: far-future u2 event advances the watermark past every deadline
    (d / "f5.json").write_text(ev(5, t0 + 3 * HOUR, 2, 9.0))
    for i, name in enumerate(("f1.json", "f2.json", "f3.json", "f4.json",
                              "f5.json")):
        _os.utime(d / name, (t0 + i * 100, t0 + i * 100))

    src = (
        spark.readStream.schema(EVENT_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        sessionize_stream_event_time(
            src, gap_seconds=1800, watermark="10 minutes",
        )
        .writeStream.format("memory")
        .queryName("sess_bnd")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()  # deterministic barrier (no fixed-clock race)
    q.stop()
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp()),
         int(r.session_end.timestamp()), r.events_in_session,
         r.session_value)
        for r in spark.table("sess_bnd").collect()
    }
    # the boundary joiner never reaches the operator, so u1's two events
    # finalize as separate singleton sessions; u2's first session closes
    # under the final watermark, its tail stays open
    assert got == {
        (1, t0, t0, 1, 1.0),
        (1, t0 + 2400, t0 + 2400, 1, 3.0),
        (2, t0 + 2400, t0 + 2400, 1, 5.0),
    }


def test_stream_windowed_counts_driver_query_equals_batch(spark, sf_dir):
    """The driver-gate streaming row: load_stream parquet source →
    availableNow → memory sink must equal the batch tumbling aggregate
    (same epoch-bucket shape as the tumbling_window oracle)."""
    from pyspark.sql import functions as F

    from interop_spark.io import load
    from interop_spark.queries.temporal_q import q_stream_windowed_counts

    got = {
        (r["window_epoch"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in q_stream_windowed_counts(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    bucket = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("bigint")
    exp = {
        (r["b"], r["event_type"]): (r["n"], r["v"])
        for r in ev.groupBy(bucket.alias("b"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .collect()
    }
    assert got == exp and len(got) > 0


def test_stream_bundles_equals_batch_entry(spark, tmp_path):
    """Document-source streaming ingest parity (SURVEY §2.8): the
    streaming bundle source must produce EXACTLY the batch entry() rows
    for the reference's 4 ADT fixtures — same schema (bundleId/
    bundleType metadata included), same bundleUUIDs, same nested
    resource arrays."""
    import os
    import shutil

    from interop_spark.fhir import read_from_directory
    from interop_spark.streaming import stream_bundles_from_directory

    d = tmp_path / "parity_bundles"
    d.mkdir()
    src = "/root/reference/sampledata/adt_records"
    for f in os.listdir(src):
        shutil.copy(f"{src}/{f}", d / f)

    batch = read_from_directory(str(d), spark=spark).entry()
    stream = stream_bundles_from_directory(spark, str(d))
    assert stream.isStreaming
    assert stream.schema == batch.schema

    q = (
        stream.writeStream.format("memory")
        .queryName("parity_bundles")
        .trigger(availableNow=True)
        .start()
    )
    # deterministic completion barrier: awaitTermination(timeout) returns
    # False when the clock runs out and the old fixed 120 s budget raced
    # the 59-type catalog's stream-side codegen on a loaded host (the
    # memory table then read back EMPTY — r19 opt round inherited flake);
    # processAllAvailable blocks until every available file is committed.
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = {
        r.bundleUUID: r
        for r in spark.table("parity_bundles").collect()
    }
    want = {r.bundleUUID: r for r in batch.collect()}
    assert set(got) == set(want) and len(want) == 4
    for u in want:
        assert got[u] == want[u]


def test_stream_ndjson_equals_batch_resource(spark, tmp_path):
    """NDJSON-source streaming ingest parity (round-10): the streaming
    resource source must produce EXACTLY the batch
    FhirNdjson.resource() rows — same schema, same typed values — for a
    mixed-type export directory; both sides delegate to
    ndjson_resource_from_lines."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.streaming import stream_ndjson_resources

    d = tmp_path / "parity_ndjson"
    d.mkdir()
    (d / "mixed.ndjson").write_text(
        '{"resourceType":"Patient","id":"p-1","gender":"male"}\n'
        '{"resourceType":"Observation","id":"o-1","status":"final"}\n'
        '{"resourceType":"Patient","id":"p-2","gender":"female"}\n'
        "garbage line\n"
    )

    batch = read_from_ndjson(str(d), spark=spark).resource("Patient")
    stream = stream_ndjson_resources(spark, str(d), "Patient")
    assert stream.isStreaming
    assert stream.schema == batch.schema

    q = (
        stream.writeStream.format("memory")
        .queryName("parity_ndjson")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()  # deterministic barrier (no fixed-clock race)
    q.stop()
    q.awaitTermination()
    got = {
        (r.id, r.gender)
        for r in spark.sql("SELECT * FROM parity_ndjson").collect()
    }
    want = {(r.id, r.gender) for r in batch.collect()}
    assert got == want == {("p-1", "male"), ("p-2", "female")}


def test_stream_ndjson_counts_partitioning_invariant(spark, sf_dir):
    """The round-11 driver row sums doubles per status group; summation
    order changes with the partition count, and the rounded contract
    must absorb it (the driver runs at whatever parallelism it likes).
    Identical output required under very different shuffle.partitions."""
    from interop_spark.queries.temporal_q import q_stream_ndjson_counts

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("2", "31"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                sorted(map(tuple, q_stream_ndjson_counts(spark, sf_dir).collect()))
            )
        assert results[0] == results[1]
        assert len(results[0]) == 3  # final / amended / preliminary
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_stream_join_pairs_equals_batch_join(spark, sf_dir):
    """Stream-stream inner interval join (no watermark, availableNow)
    must emit EXACTLY the batch join's pairs — the bounded-backfill
    guarantee the driver row relies on."""
    from pyspark.sql import functions as F

    from interop_spark.io import load
    from interop_spark.queries.temporal_q import q_stream_join_pairs

    streamed = sorted(
        map(tuple, q_stream_join_pairs(spark, sf_dir).collect())
    )
    ev = load(spark, sf_dir, "events")
    p = ev.where((F.col("event_type") == "purchase") & (F.col("user_id") < 40)).select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    c = ev.where((F.col("event_type") == "click") & (F.col("user_id") < 40)).select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 14400 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "user_id", "purchase_id", "click_id",
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000").alias(
            "gap_seconds"
        ),
    )
    assert streamed == sorted(map(tuple, batch.collect()))
    assert len(streamed) > 0


def test_stream_join_watermarked_driver_query_equals_batch(spark, sf_dir):
    """The watermarked driver row's determinism argument, pinned: on the
    single-file events fixture availableNow runs ONE micro-batch whose
    starting watermark is epoch 0, so the watermarked interval join
    emits exactly the no-watermark variant's pairs."""
    from interop_spark.queries.temporal_q import (
        q_stream_join_pairs,
        q_stream_join_pairs_watermarked,
    )

    wm = sorted(map(tuple, q_stream_join_pairs_watermarked(spark, sf_dir).collect()))
    plain = sorted(map(tuple, q_stream_join_pairs(spark, sf_dir).collect()))
    assert wm == plain
    assert len(wm) > 0


def test_stream_join_watermark_evicts_state(spark, tmp_path):
    """Watermarked stream-stream join MUST evict join state once the
    watermark passes it (r11 verdict item 3 — the configuration the
    oracle row can't exercise because a multi-batch replay would depend
    on file order): three files an hour apart, maxFilesPerTrigger=1 so
    availableNow runs one micro-batch per file, watermark 10s and a 60s
    interval — by the later batches the engine must REMOVE the earlier
    hours' state rows (numRowsRemoved > 0) and finish holding fewer
    rows than it ingested, while still emitting every in-window pair
    (one click 30s before each purchase; nothing is ever late, so
    eviction costs no output)."""
    import datetime as dt
    import json
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    base = dt.datetime(2024, 1, 1, 1, 0, 0)
    src = tmp_path / "ev"
    src.mkdir()
    for h in range(3):  # sequential writes: mtime order == hour order
        rows = [
            (1, "purchase", base + dt.timedelta(hours=h), 10 * h + 1),
            (
                1,
                "click",
                base + dt.timedelta(hours=h, seconds=-30),
                10 * h + 2,
            ),
        ]
        # flat single files (the source does not recurse into
        # write.parquet's output directories): stage, then move the
        # lone part-file up as <h>.parquet
        stage = tmp_path / f"stage{h}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = [f for f in stage.iterdir() if f.name.endswith(".parquet")]
        part.rename(src / f"{h}.parquet")

    def side(event_type, ts_name, id_name, key_name):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(key_name),
                F.col("ts").alias(ts_name),
                F.col("event_id").alias(id_name),
            )
            .withWatermark(ts_name, "10 seconds")
        )

    p = side("purchase", "p_ts", "purchase_id", "user_id")
    c = side("click", "c_ts", "click_id", "c_user")
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "user_id",
        "purchase_id",
        "click_id",
        F.expr(
            "(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000"
        ).alias("gap_seconds"),
    )
    name = "wm_evict_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(map(tuple, spark.table(name).collect()))
    assert got == [(1, 10 * h + 1, 10 * h + 2, 30) for h in range(3)]

    progs = [
        pr if isinstance(pr, dict) else json.loads(pr.json)
        for pr in q.recentProgress
    ]
    state = [
        op
        for pr in progs
        for op in pr.get("stateOperators", [])
        if pr.get("stateOperators")
    ]
    assert state, "no stateOperators metrics reported"
    removed = sum(op.get("numRowsRemoved", 0) for op in state)
    assert removed > 0, f"watermark never evicted state: {state}"
    # the final batch holds strictly less than everything ingested
    assert state[-1]["numRowsTotal"] < 6


def test_stream_neardup_pairs_equals_batch_candidates(spark, sf_dir):
    """The streaming incremental near-dup screen (stream-static join
    against the prebuilt MinHash index) must emit EXACTLY the batch
    construction's verified candidate pairs: same fixture, every
    planted mutation pairs with its source, and the streaming
    dropDuplicates leaves no cross-band duplicate pair."""
    from interop_spark.queries import all_queries

    q = all_queries()
    got = q["stream_neardup_pairs"](spark, sf_dir).collect()
    pairs = {(r["new_id"], r["hist_id"]) for r in got}
    assert len(pairs) == len(got), "cross-band duplicate pairs leaked"
    # every planted mutation (doc_id + 1M) matches its source doc
    from interop_spark.queries.pipeline import DUP_OFFSET, INC_MUT_N

    planted = {(i + DUP_OFFSET, i) for i in range(INC_MUT_N)}
    assert planted <= pairs
    # and the batch operator confirms the same verdict set
    batch = q["minhash_incremental_dedup"](spark, sf_dir).collect()
    dup_ids = {r["doc_id"] for r in batch if r["is_dup"]}
    assert {n for n, _ in pairs} == dup_ids


def test_stream_merge_upsert_runs_multiple_batches(spark, sf_dir):
    """The CDC upsert row's value-hash oracle would pass trivially if
    the stream collapsed into ONE micro-batch (a single merge of
    everything) — this pins that maxFilesPerTrigger=1 really yields
    multiple batches, i.e. the conditional-merge guard is actually
    exercised across batch boundaries, that the final table equals the
    batch argmax, and that the marker-idempotent landing skips the
    write on a second invocation (no per-run /tmp accumulation)."""
    import os

    from pyspark.sql import functions as F

    from interop_spark.io import load
    from interop_spark.streaming.cdc import (
        fold_events,
        land_event_chunks,
        lww_merge,
        lww_winners,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    flat = land_event_chunks(ev, 4, key)
    # idempotency: the second call finds the _COMPLETE marker and
    # returns the SAME directory without re-landing (mtimes unchanged)
    mtimes = {f: os.path.getmtime(os.path.join(flat, f)) for f in os.listdir(flat)}
    assert land_event_chunks(ev, 4, key) == flat
    assert mtimes == {
        f: os.path.getmtime(os.path.join(flat, f)) for f in os.listdir(flat)
    }

    calls = []

    def _winners(batch_df):
        calls.append(1)
        return lww_winners(batch_df)

    tgt = fold_events(spark, sf_dir, _winners, lww_merge)
    assert len(calls) == 4, f"expected 4 micro-batches, got {len(calls)}"

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        (r["user_id"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    got = {(r["user_id"], r["event_id"]) for r in tgt.collect()}
    assert got == want


def test_stream_hll_register_merge_multiple_batches(spark, sf_dir):
    """The streaming HLL row's oracle would pass trivially if the
    stream collapsed into one micro-batch — this pins that 4 real
    batches fold through hll_merge, and that the merged registers
    (and thus the estimate) EQUAL the one-pass batch sketch: the
    mergeability contract that makes HLL a streaming citizen."""
    from pyspark.sql import functions as F

    from interop_spark.io import load
    from interop_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from interop_spark.streaming.cdc import fold_events

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    calls = []

    def _registers(batch_df):
        calls.append(1)
        return hll_registers(batch_df, F.col("user_id"))

    regs = fold_events(spark, sf_dir, _registers, hll_merge)
    assert len(calls) == 4, len(calls)

    streamed = {(r.bucket, r.reg) for r in regs.collect()}
    one_pass = {
        (r.bucket, r.reg)
        for r in hll_registers(ev, F.col("user_id")).collect()
    }
    assert streamed == one_pass
    got = hll_estimate(regs).first()
    want = hll_estimate(hll_registers(ev, F.col("user_id"))).first()
    assert got.hll_estimate == want.hll_estimate
    assert got.n_empty_buckets == want.n_empty_buckets


def test_land_event_chunks_rejects_null_event_ids(spark, tmp_path):
    """The ADVICE r12 invariant, pinned: pmod chunk assignment silently
    drops NULL event_ids, so the landing must FAIL LOUDLY (landed-count
    check) instead of corrupting the parity row."""
    import pytest as _pytest

    from interop_spark.streaming.cdc import land_event_chunks

    df = spark.createDataFrame(
        [(1, 1.0), (None, 2.0), (3, 3.0)],
        "event_id bigint, value double",
    )
    with _pytest.raises(ValueError, match="dropped rows"):
        land_event_chunks(df, 2, "nulltest")


def test_land_event_chunks_content_fingerprint(spark):
    """Two fixtures with the SAME cache key and row count but different
    content must land in DIFFERENT directories — the ADVICE r13 hole
    (a regenerated fixture silently reusing the stale landing) is
    closed by folding a content fingerprint into the key."""
    from interop_spark.streaming.cdc import land_event_chunks

    a = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "event_id bigint, value double"
    )
    b = spark.createDataFrame(
        [(1, 10.0), (2, 99.0)], "event_id bigint, value double"
    )
    flat_a = land_event_chunks(a, 2, "fptest")
    flat_b = land_event_chunks(b, 2, "fptest")
    assert flat_a != flat_b
    got_b = {
        (r.event_id, r.value) for r in spark.read.parquet(flat_b).collect()
    }
    assert got_b == {(1, 10.0), (2, 99.0)}


def test_stream_rank_sketch_merge_multiple_batches(spark, sf_dir):
    """The streaming quantile row's oracle would pass trivially if the
    stream collapsed into one micro-batch — this pins that 4 real
    batches fold through rank_sketch_merge and that the merged sketch
    frame (histogram AND survivor multiset) EQUALS the one-pass batch
    sketch: the exact-mergeability contract that makes the rank sketch
    a streaming citizen."""
    from pyspark.sql import functions as F

    from interop_spark.io import load
    from interop_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_merge,
    )
    from interop_spark.streaming.cdc import fold_events

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    calls = []

    def _sketch(batch_df):
        calls.append(1)
        return rank_sketch_build(batch_df, F.col("value"), F.col("event_id"))

    sk = fold_events(spark, sf_dir, _sketch, rank_sketch_merge)
    assert len(calls) == 4, len(calls)

    one_pass = rank_sketch_build(ev, F.col("value"), F.col("event_id"))
    as_ms = lambda df: sorted(  # noqa: E731 - comparator
        (r.kind, r.level, r.v, r.cnt) for r in df.collect()
    )
    assert as_ms(sk) == as_ms(one_pass)


def test_drain_runs_state_at_default_parallelism(spark, sf_dir):
    """``drain`` starts a stateful stream at min(session width,
    defaultParallelism) state partitions and leaves the session's own
    ``spark.sql.shuffle.partitions`` as it found it (a plain session's
    200 made every micro-batch run 200 state-store tasks)."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from interop_spark.queries.temporal_q import q_stream_windowed_counts

    class _Widths(StreamingQueryListener):
        def __init__(self):
            self.widths = {}
            self.ended = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.widths.setdefault(p.id, set()).update(
                op.numShufflePartitions for op in p.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.ended.add(event.id)

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    listener = _Widths()
    spark.streams.addListener(listener)
    try:
        spark.conf.set(key, "200")
        rows = q_stream_windowed_counts(spark, sf_dir).collect()
        assert spark.conf.get(key) == "200"
        deadline = time.time() + 30
        while not set(listener.widths) & listener.ended:
            assert time.time() < deadline, "no progress event arrived"
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, old)
    done = set(listener.widths) & listener.ended
    widths = set().union(*(listener.widths[i] for i in done))
    assert widths == {min(200, spark.sparkContext.defaultParallelism)}
    assert rows
