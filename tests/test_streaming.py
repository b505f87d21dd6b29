"""Streaming operators: windowed counts and dedup driven to completion on the
sf0.001 events data; results cross-checked against the batch data."""

import shutil

import pytest
from pyspark.sql import functions as F

from engine import streaming
from engine.queries import _cents
from tests.conftest import SF_SMOKE


def test_windowed_counts_matches_batch(spark):
    stream = streaming.read_event_stream(spark, SF_SMOKE)
    agg = streaming.windowed_counts(stream)
    table = streaming.run_aggregation_to_memory(agg)
    got = {(r.w_start, r.event_type): (r.n, r.sum_value_c)
           for r in spark.table(table).collect()}
    assert got

    batch = (spark.read.parquet(f"{SF_SMOKE}/events.parquet")
             .withColumn("ts", F.col("ts").cast("timestamp")))
    expect = {(r["window"].start, r.event_type): (r.n, r.s)
              for r in (batch.groupBy(F.window("ts", "6 hours"), "event_type")
                        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents("value")).alias("s"))
                        .collect())}
    assert got == expect


@pytest.mark.parametrize("provider", ["HDFSBackedStateStoreProvider", "RocksDBStateStoreProvider"],
                         ids=["hdfs", "rocksdb"])
def test_stream_dedup(spark, tmp_path, provider):
    """A stream of two copies of the sf0.001 events dedups to the source rows,
    under the default state store and under RocksDB."""
    for copy in ("a", "b"):
        shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / f"events_{copy}.parquet")
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(key, f"org.apache.spark.sql.execution.streaming.state.{provider}")
    try:
        stream = streaming.read_event_stream(spark, str(tmp_path))
        table = streaming.run_to_memory(streaming.stream_dedup(stream))
    finally:
        spark.conf.set(key, old)
    n_source = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert spark.table(table).count() == n_source
