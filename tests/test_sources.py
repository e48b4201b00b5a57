"""Table-loader contracts: the normalized ``events.ts`` column must be
session-timezone TIMESTAMP_LTZ regardless of how the parquet was
written AND regardless of session configuration — every oracle
comparison depends on it."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from flink_cep_examples_spark.sources.tables import load_table


def test_events_ts_is_ltz_under_ntz_session_conf(spark, sf_small):
    """ADVICE r2: ``cast("timestamp")`` resolves via
    spark.sql.timestampType, so a caller setting that conf to
    TIMESTAMP_NTZ silently made the normalization a no-op. The loader
    must pin the concrete LTZ type independent of the conf."""
    saved = spark.conf.get("spark.sql.timestampType")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        df = load_table(spark, sf_small, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        # and the values still read under the pinned UTC session tz
        assert df.limit(1).collect()[0].ts is not None
    finally:
        spark.conf.set("spark.sql.timestampType", saved)


@pytest.mark.parametrize("name", ["events", "documents", "embeddings"])
def test_loader_self_heals_plain_session(spark, sf_small, name):
    """load_table must work (and set its required confs) even when the
    session was created externally without engine configs — the driver
    harness passes its own SparkSession."""
    df = load_table(spark, sf_small, name)
    assert df.count() > 0
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_schema_memo_is_keyed_on_file_identity(spark, tmp_path):
    """The footer-schema memo must not serve a stale schema for a file
    rewritten at the same path in one session, and an unchanged file
    must still hit the memo: no footer-read job at construction."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]

    sc = spark.sparkContext
    sc.setJobGroup("schema-memo-hit", "memo hit")
    try:
        assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("schema-memo-hit") == []

    st = os.stat(path)
    pq.write_table(pa.table({"b": ["x"], "c": [3.5]}), path)
    # a same-second rewrite must still count: pin a distinct mtime
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 3.5)]
