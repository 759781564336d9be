"""Structured Streaming + incremental merge semantics."""

import pytest
from pyspark.sql import functions as F

from osm2garmin_spark.streaming import (
    apply_changes, compact_changes, stream_hourly_counts, stream_sessionize,
)
from osm2garmin_spark.streaming.stream_ops import run_stream_to_memory

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def test_compact_changes_latest_wins(spark):
    rows = [(1, "create", 1, "a"), (1, "modify", 2, "b"), (1, "modify", 3, "c"),
            (2, "create", 1, "x"), (2, "delete", 1, "y")]
    df = spark.createDataFrame(rows, "id long, action string, version int, v string")
    out = {r["id"]: (r["action"], r["v"]) for r in compact_changes(df, "id").collect()}
    assert out[1] == ("modify", "c")
    assert out[2] == ("delete", "y")  # delete wins at equal version


def test_apply_changes_merge(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    changes = spark.createDataFrame(
        [(2, "B", "modify", 1), (3, "c", "delete", 1), (4, "d", "create", 1)],
        "id long, v string, action string, version int")
    out = {r["id"]: r["v"] for r in apply_changes(base, changes, "id").collect()}
    assert out == {1: "a", 2: "B", 4: "d"}


def test_gate_changes_by_age(spark):
    """planet_minimum_age semantics: only changes aged >= min_age at the
    as-of instant are admitted."""
    from osm2garmin_spark.streaming.incremental import gate_changes_by_age

    rows = [(1, "modify", 1, "2024-01-15 10:00:00"),   # 14h old → admitted
            (2, "modify", 1, "2024-01-15 16:00:00"),   # exactly 8h → admitted
            (3, "modify", 1, "2024-01-15 20:00:00")]   # 4h old → gated out
    df = spark.createDataFrame(rows, "id long, action string, version int, t string") \
        .withColumn("ts", F.to_timestamp("t"))
    got = {r["id"] for r in gate_changes_by_age(
        df, "2024-01-16 00:00:00", min_age_hours=8.0).collect()}
    assert got == {1, 2}


def test_compact_batches_thirty_to_one(spark):
    """PlanetUpdateDownloader merges each 30 hourly diffs into one batch
    named after its first sequence; latest version per id wins within."""
    from osm2garmin_spark.streaming.incremental import compact_batches

    rows = []
    for seq in range(60):                      # two batches: 0-29, 30-59
        rows.append((seq % 5, "modify", seq, seq, f"v{seq}"))
    df = spark.createDataFrame(
        rows, "id long, action string, version int, seq int, v string")
    out = compact_batches(df, "id", batch_size=30).collect()
    assert {r["batch_seq"] for r in out} == {0, 30}
    by = {(r["batch_seq"], r["id"]): r["v"] for r in out}
    assert len(by) == 10                       # 5 ids × 2 batches
    # id 0 appears at seq 0,5,...,25 in batch 0 → latest version 25 wins
    assert by[(0, 0)] == "v25"
    assert by[(0, 30 % 5)] == "v25"
    assert by[(30, 0)] == "v55"


def test_apply_gated_differs_from_ungated(spark, events):
    """The gate must change the merge result when young changes exist."""
    import __spark_entry__ as e
    qs = e.queries()
    gated = qs["apply_changes_gated"](spark, SF).count()
    full = qs["apply_changes_events"](spark, SF).count()
    assert gated != full


def test_stream_hourly_matches_batch(spark, events, tmp_path):
    src_dir = str(tmp_path / "stream_src")
    events.write.parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)

    name = run_stream_to_memory(stream_hourly_counts(stream), "hourly_t")
    got = {(r["window_start"], r["event_type"]): r["n_events"]
           for r in spark.sql(f"select * from {name}").collect()}
    want = {(r["window_start"], r["event_type"]): r["n_events"]
            for r in stream_hourly_counts(events).collect()}
    assert got == want
    assert len(want) > 10


def test_stream_sessionize_batch_mode(spark, events):
    out = stream_sessionize(events).collect()
    assert len(out) > 0
    for r in out:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_stream_first_seen_dedup(spark, tmp_path):
    """stateful streaming dedup: duplicate keys across micro-batches are
    emitted exactly once"""
    import pandas as pd
    from osm2garmin_spark.streaming.stream_ops import stream_first_seen_native

    src_dir = str(tmp_path / "b")
    # two files → two micro-batches with overlapping keys
    spark.createDataFrame(pd.DataFrame(
        {"bucket": [0, 0, 1], "key": ["a", "b", "x"]})) \
        .coalesce(1).write.parquet(src_dir)
    spark.createDataFrame(pd.DataFrame(
        {"bucket": [0, 0, 1], "key": ["b", "c", "x"]})) \
        .coalesce(1).write.mode("append").parquet(src_dir)

    stream = (spark.readStream
              .schema("bucket long, key string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src_dir))
    q = (stream_first_seen_native(stream).writeStream
         .format("memory").queryName("firstseen")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = [(r["bucket"], r["key"])
            for r in spark.sql("select * from firstseen").collect()]
    assert sorted(rows) == [(0, "a"), (0, "b"), (0, "c"), (1, "x")]


def test_stream_first_seen_state_is_per_key(spark, tmp_path):
    """Scale-shape regression (VERDICT round 1, item 3): many keys across
    micro-batches, duplicates in later batches. The per-key state must
    admit each key exactly once; batch 2 (all duplicates) emits
    nothing."""
    import pandas as pd
    from osm2garmin_spark.streaming.stream_ops import stream_first_seen_native

    n = 3000
    src_dir = str(tmp_path / "many")
    keys = [f"k{i}" for i in range(n)]
    spark.createDataFrame(pd.DataFrame(
        {"bucket": [i % 7 for i in range(n)], "key": keys})) \
        .coalesce(1).write.parquet(src_dir)
    # batch 2: pure duplicates; batch 3: half dup, half novel
    spark.createDataFrame(pd.DataFrame(
        {"bucket": [i % 7 for i in range(n)], "key": keys})) \
        .coalesce(1).write.mode("append").parquet(src_dir)
    spark.createDataFrame(pd.DataFrame(
        {"bucket": [(i + n // 2) % 7 for i in range(n)],
         "key": [f"k{i + n // 2}" for i in range(n)]})) \
        .coalesce(1).write.mode("append").parquet(src_dir)

    stream = (spark.readStream.schema("bucket long, key string")
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_first_seen_native(stream).writeStream
         .format("memory").queryName("firstseen_many")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [r["key"] for r in spark.sql(
        "select key from firstseen_many").collect()]
    assert sorted(got) == sorted(f"k{i}" for i in range(n + n // 2))


def test_compact_batches_tie_discipline(spark):
    """Equal versions within a batch: delete outranks modify; then the
    higher sequence wins (deterministic)."""
    from osm2garmin_spark.streaming.incremental import compact_batches

    rows = [(1, "modify", 5, 3, "m3"), (1, "delete", 5, 7, "d7"),
            (1, "modify", 5, 9, "m9"),
            (2, "modify", 5, 2, "m2"), (2, "modify", 5, 8, "m8")]
    df = spark.createDataFrame(
        rows, "id long, action string, version int, seq int, v string")
    out = {r["id"]: (r["action"], r["v"]) for r in
           compact_batches(df, "id", batch_size=30).collect()}
    assert out[1] == ("delete", "d7")   # delete wins the version tie
    assert out[2] == ("modify", "m8")   # higher seq wins among modifies
