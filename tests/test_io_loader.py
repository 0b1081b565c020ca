"""Pin the type-adaptive events loader against both fixture encodings.

The driver's events.parquet has shipped with `ts` as INT64 TIMESTAMP(NANOS)
(early rounds) and as timestamp[us] (current). ``interop_spark.io.load`` must
yield a plain TimestampType column with identical instants either way.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from interop_spark.io import load

_INSTANTS_US = [1704067200_000000, 1704067260_500000, 1704153599_999999]


def _write_events(path, ts_array):
    table = pa.table(
        {
            "event_id": pa.array([0, 1, 2], type=pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([1, 2, 1], type=pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(['{"k": 1}', '{"k": 2}', '{"k": 3}']),
        }
    )
    pq.write_table(table, str(path))


def _load_instants(spark, sf_dir):
    df = load(spark, str(sf_dir), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    rows = df.orderBy("event_id").select("ts").collect()
    return [r["ts"] for r in rows]


@pytest.fixture()
def fixture_dir(tmp_path):
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_load_events_micros_encoding(spark, fixture_dir):
    _write_events(
        fixture_dir / "events.parquet",
        pa.array(_INSTANTS_US, type=pa.timestamp("us")),
    )
    got = _load_instants(spark, fixture_dir)
    want = [
        dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
        for us in _INSTANTS_US
    ]
    assert got == want


def test_load_events_nanos_encoding(spark, fixture_dir):
    _write_events(
        fixture_dir / "events.parquet",
        pa.array([us * 1000 for us in _INSTANTS_US], type=pa.timestamp("ns")),
    )
    got = _load_instants(spark, fixture_dir)
    want = [
        dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
        for us in _INSTANTS_US
    ]
    assert got == want


def test_load_events_current_driver_fixture(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.count() > 0


def test_load_stream_reuses_its_shim_directory(spark, sf_dir):
    """The file-to-directory shim of ``load_stream`` is made once per
    source file: a second stream over the same table creates no new
    directory."""
    import os
    import tempfile

    from interop_spark.io import load_stream

    def stream_dirs():
        roots = (tempfile.gettempdir(), "/tmp/interop_spark_fixtures")
        return {
            os.path.join(root, d)
            for root in roots
            if os.path.isdir(root)
            for d in os.listdir(root)
            if d.startswith("stream")
        }

    load_stream(spark, sf_dir, "documents")
    before = stream_dirs()
    again = load_stream(spark, sf_dir, "documents")
    assert again.isStreaming
    assert stream_dirs() == before
