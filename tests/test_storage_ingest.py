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
