"""Storage/catalog + ingest: lake round-trips, partition pruning,
materialized-feature short-circuit, ingest normalization + ledger dedup."""

import datetime
import glob
import os
from zoneinfo import ZoneInfo

import pytest
from conftest import session_time_zone
from pyspark.sql import functions as F

from svoe_spark.queries import ticks
from svoe_spark.sources.catalog import FeatureStore, read_time_range, write_partitioned
from svoe_spark.sources.ingest import IngestLedger, ingest_csv
from svoe_spark.sources.tables import load_table


def test_lake_roundtrip_and_pruning(spark, sf_small, tmp_path):
    t = ticks(spark, sf_small)
    path = str(tmp_path / "lake")
    write_partitioned(t, path, ts_col="ts")

    # day-partitioned layout on disk
    days = [d for d in os.listdir(path) if d.startswith("day=")]
    assert len(days) == 30

    full = read_time_range(spark, path)
    assert full.count() == t.count()
    assert set(full.columns) == set(t.columns)

    start, end = "2024-01-10 00:00:00", "2024-01-12 23:59:59"
    sub = read_time_range(spark, path, start, end)
    want = t.filter(F.col("ts").between(start, end)).count()
    assert sub.count() == want > 0
    # partition pruning visible in the physical plan
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan


@pytest.mark.parametrize("write_zone,read_zone", [("America/New_York", "UTC"), ("UTC", "America/New_York")])
def test_lake_day_is_the_utc_date_in_any_session_zone(spark, tmp_path, write_zone, read_zone):
    """An event at 2024-01-03 03:00Z, written in one session zone, lands
    in ``day=2024-01-03`` (New York's date is still 01-02), and a read
    in the other zone with bounds an hour either side finds it."""
    at = datetime.datetime(2024, 1, 3, 3, tzinfo=datetime.timezone.utc)
    path = str(tmp_path / "lake")
    with session_time_zone(spark, write_zone):
        write_partitioned(spark.createDataFrame([(at, 1.0)], "ts timestamp, v double"), path)
    assert [d for d in os.listdir(path) if d.startswith("day=")] == ["day=2024-01-03"]
    start, end = ((at + datetime.timedelta(hours=h)).astimezone(ZoneInfo(read_zone)).strftime("%Y-%m-%d %H:%M:%S")
                  for h in (-1, 1))
    with session_time_zone(spark, read_zone):
        exact = spark.read.parquet(path).where(F.col("ts").between(start, end)).count()
        assert read_time_range(spark, path, start, end).count() == exact == 1


def test_feature_store_short_circuit(spark, sf_small, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "features"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return ticks(spark, sf_small).select("ts", "event_type", "value")

    a = store.get_or_compute("mid-abc123", compute)
    assert calls["n"] == 1 and a.count() == 1000
    b = store.get_or_compute("mid-abc123", compute)
    assert calls["n"] == 1  # second call read the materialization
    assert b.count() == 1000
    assert store.meta("mid-abc123")["rows"] == 1000


@pytest.mark.heavy  # round-10 quick-tier trim (slowest cases -> sharded tier)
def test_compact_and_sortedness(spark, sf_small, tmp_path):
    import pyarrow.parquet as pq

    from svoe_spark.sources.catalog import compact

    t = ticks(spark, sf_small)
    path = str(tmp_path / "lake2")
    # write fragmented: many small files
    (
        t.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition(24)
        .write.partitionBy("day")
        .parquet(path)
    )
    before = sum(
        1 for _, _, fs in __import__("os").walk(path) for f in fs if f.endswith(".parquet")
    )
    n_after = compact(spark, path, target_mb=128, ts_col="ts")
    assert n_after < before
    out = spark.read.parquet(path)
    assert out.count() == 1000
    assert set(out.drop("day").columns) == set(t.columns)

    # every compacted file is ts-sorted
    for f in glob.glob(os.path.join(path, "day=*", "*.parquet")):
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts), f


def test_ingest_csv_normalize_and_ledger(spark, sf_small, tmp_path):
    # fabricate a provider CSV from events (provider-style column names,
    # ISO timestamps, boolean side) — the cryptotick renames shape
    events = load_table(spark, "events", sf_small)
    raw = events.select(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("time_exchange"),
        F.col("value").alias("base_amount"),
        (F.col("event_id") % 2 == 0).alias("taker_side"),
        F.col("event_id").alias("guid"),
    )
    src_dir = tmp_path / "raw"
    raw.coalesce(1).write.option("header", "true").csv(str(src_dir))
    csv_file = glob.glob(str(src_dir / "*.csv"))[0]

    dest = str(tmp_path / "ingested")
    ledger = IngestLedger(str(tmp_path / "ledger.json"))
    n = ingest_csv(
        spark,
        csv_file,
        dest,
        renames={
            "time_exchange": "timestamp",
            "base_amount": "amount",
            "taker_side": "side",
            "guid": "id",
        },
        side_col="side",
        ledger=ledger,
    )
    assert n == 1
    out = spark.read.parquet(dest)
    assert out.count() == 1000
    assert set(out.columns) == {"timestamp", "amount", "side", "id", "day"}
    assert dict(out.dtypes)["timestamp"] == "timestamp"
    assert set(r["side"] for r in out.select("side").distinct().collect()) == {"bid", "ask"}

    # ledger dedup: second ingest of the same file is a no-op
    assert ingest_csv(spark, csv_file, dest, ledger=ledger) == 0
    assert spark.read.parquet(dest).count() == 1000


def test_write_clustered_row_group_stats(spark, sf_small, tmp_path):
    """The clustered layout's two structural promises, asserted in a
    session-parallelism-independent form (the old min==max single-key
    row-group count measured how often distinct keys hash-collide into
    one write task, so it flipped with the task count): (a) rows
    inside every file are key-contiguous — one run per key, the
    ordering the dynamic-partition writer silently destroyed before
    `day` led the sort — so row-group stats tighten as files grow; and
    (b) key -> task co-location: every key's rows land in at most ONE
    file per day, so a per-key scan reads ~1/parallelism of the lake.
    The key filter must also reach the scan (PushedFilters)."""
    import collections
    import glob
    import itertools

    import pyarrow.parquet as pq

    from svoe_spark.queries import ticks
    from svoe_spark.sources.catalog import write_clustered

    t = ticks(spark, sf_small).select("event_type", "ts", "value")
    path = str(tmp_path / "clustered")
    spark.conf.set("spark.hadoop.parquet.block.size", 64 * 1024)
    try:
        write_clustered(t, path, cluster_cols="event_type")
    finally:
        spark.conf.unset("spark.hadoop.parquet.block.size")

    files_with_key = collections.Counter()
    n_days = len(glob.glob(path + "/day=*"))
    n_files = 0
    for f in glob.glob(path + "/day=*/*.parquet"):
        n_files += 1
        et = pq.ParquetFile(f).read(columns=["event_type"]).to_pandas()[
            "event_type"
        ]
        # (a) key-contiguity: as many runs as distinct keys in the file
        assert len([k for k, _ in itertools.groupby(et)]) == et.nunique(), f
        for k in et.unique():
            files_with_key[k] += 1
    assert n_days > 4 and n_files >= n_days
    # (b) co-location: each key touches at most one file per day
    for k, n in files_with_key.items():
        assert n <= n_days, (k, n, n_days)

    p_lines = (
        spark.read.parquet(path)
        .where(F.col("event_type") == "purchase")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in p_lines and "event_type" in p_lines, p_lines
