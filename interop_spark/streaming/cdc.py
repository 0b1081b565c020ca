"""The events fixture as a stream, and the folds run over it.

``fold_events`` is the one place that knows how the events fixture is
landed, replayed as micro-batches and folded into state; every
streaming query passes it a partial/merge pair. ``lww_winners`` +
``lww_merge`` are the last-writer-wins CDC upsert (``stream_merge_upsert``).

Reference surface: the foreachBatch-MERGE pattern the reference's Delta
sinks run in production (`01_dbignite_sample.py:72,112` write Delta
tables; a streaming consumer upserts change records into them).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LAND_VERSION = "v1"

#: Delta's ``WHEN MATCHED AND <cond> THEN UPDATE SET *`` guard that makes
#: the upsert batch-split independent: per-key max-by-(ts, event_id) is
#: associative and commutative, so any grouping of files into
#: micro-batches converges to the same target.
LWW_GUARD = "s.ts > t.ts OR (s.ts = t.ts AND s.event_id > t.event_id)"


def streamed_events(spark, sf_dir: str):
    """The events-as-stream source: select the canonical 5-column
    frame, land it as the 4-chunk marker-idempotent fixture (one /tmp
    copy per fixture content, shared by every streaming query), and
    return a ``readStream`` source that replays it as 4 real
    micro-batches (``maxFilesPerTrigger=1``)."""
    from interop_spark.io import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    flat = land_event_chunks(ev, 4, key)
    schema = spark.read.parquet(flat).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )


def fold_events(
    spark,
    sf_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Fold the streamed events into state and return the final state:
    ``partial(batch)`` for the first micro-batch, then
    ``merge(state, partial(batch))`` for each later one. Each new state
    is localCheckpoint-ed, so plan depth stays O(1) in the number of
    batches and state between batches is whatever ``partial`` keeps,
    never event rows. For any batch split the result equals
    ``partial`` over all events whenever ``merge(partial(a),
    partial(b))`` equals ``partial(a ∪ b)`` — true of every streaming
    fold in the registry."""
    state = None

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        nonlocal state
        part = partial(batch_df)
        state = (part if state is None else merge(state, part)).localCheckpoint()

    q = (
        streamed_events(spark, sf_dir)
        .writeStream.foreachBatch(_fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if state is None:
        raise ValueError("the events stream delivered no micro-batch")
    return state


def land_event_chunks(df: DataFrame, n: int, cache_key: str) -> str:
    """Land ``df`` as ``n`` single-file parquet chunks under a
    DETERMINISTIC directory and return the flat dir the file stream
    reads. Marker-idempotent (same staging + atomic-rename pattern as
    ``fhir.gen.write_corpus``): a repeated bench/driver invocation finds
    the ``_COMPLETE`` marker and skips the write entirely, so runs no
    longer accumulate unbounded per-run /tmp copies.

    Chunk assignment uses ``pmod(event_id, n)`` — sign-safe, unlike
    ``%`` which preserves sign — and the landed row count is verified
    against the input count so a fixture change introducing NULL or
    missing event_ids fails loudly instead of silently diverging from
    the all-rows oracle. The cache key folds in BOTH the row count and
    an order-independent content fingerprint (summed crc32 over every
    column, stringified), so a regenerated fixture of the same size but
    different content never reuses a stale landing (ADVICE r13).
    Fixture tooling: a real CDC source is a change feed (Kafka / CDF),
    not a re-land of the table.
    """
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.crc32(
                F.concat_ws(
                    "|", *[F.col(c).cast("string") for c in df.columns]
                )
            )
        ).alias("fp"),
    ).first()
    total, fp = stats["n"], stats["fp"] or 0
    out = os.path.join(
        "/tmp/interop_spark_fixtures",
        f"cdc-{cache_key}-r{total}-f{fp:x}-n{n}-{_LAND_VERSION}",
    )
    flat = os.path.join(out, "flat")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return flat
    tmp = f"{out}.tmp.{os.getpid()}"
    tmp_flat = os.path.join(tmp, "flat")
    os.makedirs(tmp_flat)
    for i in range(n):
        part = os.path.join(tmp, f"c{i}")
        df.where(F.pmod(F.col("event_id"), F.lit(n)) == i).coalesce(
            1
        ).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        os.rename(
            os.path.join(part, pf), os.path.join(tmp_flat, f"chunk{i}.parquet")
        )
        shutil.rmtree(part)
    landed = df.sparkSession.read.parquet(tmp_flat).count()
    if landed != total:
        shutil.rmtree(tmp, ignore_errors=True)
        raise ValueError(
            f"chunk landing dropped rows ({landed} landed vs {total} input):"
            " event_id must be a non-null integral column for pmod"
            " chunk assignment"
        )
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(f"{total}\n")
    try:
        os.rename(tmp, out)
    except OSError:  # lost the race: a complete landing already exists
        shutil.rmtree(tmp, ignore_errors=True)
    return flat


def lww_winners(batch_df: DataFrame) -> DataFrame:
    """Per-user latest change of one batch by (ts, event_id): ONE
    partial-aggregated shuffle on user_id (map tasks emit at most one
    row per user)."""
    return (
        batch_df.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                "m"
            )
        )
        .select("user_id", "m.ts", "m.event_id", "m.event_type", "m.value")
    )


def lww_merge(target: DataFrame, winners: DataFrame) -> DataFrame:
    """Conditional MERGE of a batch's winners into the target under
    :data:`LWW_GUARD` (equi-joins on user_id; the parquet-table analog
    of Delta's transactional rewrite)."""
    from interop_spark.operators.merge import merge_into_conditional

    return merge_into_conditional(
        target,
        winners,
        ["user_id"],
        matched_condition=LWW_GUARD,
        source_unique=True,
    )
