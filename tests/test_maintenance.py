"""Store maintenance: compaction, retention trim, type-widening migration.

Parity targets: reference XTRIM retention (writer.py:35-37,293-297) and
opportunistic schema migration (sql_db.py:69-173); compaction is the
parquet-native need their SQLite store never has (micro-batch file litter).
Retention runs through the scheduler's ``maintain_store`` command shape.
"""

from __future__ import annotations

import datetime
import os

import pytest

from stock_ops_spark import schemas as S
from stock_ops_spark.sources import services
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.maintenance import (
    _data_files,
    _widened,
    scan_type_conflicts,
)

# three months across a year boundary, exchange tz America/New_York
# 1734705000 = 2024-12-20 09:30 EST, 1736951400 = 2025-01-15 09:30 EST,
# 1739629800 = 2025-02-15 09:30 EST
ROWS_BY_MONTH = [
    ("SPY", 1734705000, 600.0, 601.0, 599.0, 600.5, 1000, "1h"),
    ("SPY", 1736951400, 610.0, 611.0, 609.0, 610.5, 1100, "1h"),
    ("VOO", 1736951400, 550.0, 551.0, 549.0, 550.5, 500, "1h"),
    ("SPY", 1739629800, 620.0, 621.0, 619.0, 620.5, 1200, "1h"),
]


@pytest.fixture()
def store(spark, tmp_path):
    # no auto-compaction: each test decides when the dirs fold
    return ManifestStore(spark, str(tmp_path / "store"), auto_compact_every=0)


def _live_files(store, mode):
    """Data files of the dirs the current snapshot references (replaced
    dirs stay on disk until orphan GC)."""
    root = store.data_path(mode)
    return [
        f
        for d in store.log(mode).state()["dirs"]
        for f in _data_files(os.path.join(root, d))
    ]


def _ingest_many_small_batches(spark, store, n_batches=4):
    base = 1736951400
    for i in range(n_batches):
        rows = [("SPY", base + 3600 * i, 1.0 * i, 2.0, 0.5, 1.5, 10 + i, "1h")]
        df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
        assert store.ingest_batch(df, "historical_intraday") == 1


def test_compact_reduces_files_preserves_rows_and_stats(spark, store):
    _ingest_many_small_batches(spark, store, n_batches=4)
    assert len(_live_files(store, "historical_intraday")) == 4  # one per commit

    before_rows = sorted(map(tuple, store.read_all("historical_intraday").collect()))
    before_stats = sorted(map(tuple, store.table_stats("historical_intraday").collect()))

    res = store.compact("historical_intraday")
    assert res == {"rewritten": 4, "dirs_before": 4}
    # single partition (2025-01) → exactly one file
    assert len(_live_files(store, "historical_intraday")) == 1

    after_rows = sorted(map(tuple, store.read_all("historical_intraday").collect()))
    assert after_rows == before_rows
    after_stats = sorted(map(tuple, store.table_stats("historical_intraday").collect()))
    assert after_stats == before_stats

    # ingest still works post-compaction (dedup probe sees compacted files)
    df = spark.createDataFrame(
        [("SPY", 1736951400, 0.0, 2.0, 0.5, 1.5, 10, "1h")], schema=S.HISTORICAL_INTRADAY
    )
    assert store.ingest_batch(df, "historical_intraday") == 0  # exact dup


def test_compact_preserves_ticker_ts_clustering(spark, store):
    for rows in (ROWS_BY_MONTH[2:], ROWS_BY_MONTH[:2]):  # out of order
        df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
        store.ingest_batch(df, "historical_intraday")
    assert store.compact("historical_intraday")["rewritten"] == 2

    import pyarrow.parquet as pq

    for f in _live_files(store, "historical_intraday"):
        t = pq.read_table(f, columns=["ticker", "timestamp_UTC_s"]).to_pandas()
        key = list(zip(t["ticker"], t["timestamp_UTC_s"]))
        assert key == sorted(key)  # rows clustered for min/max pruning


def test_retain_drops_old_partitions_metadata_only(spark, store):
    mode = "historical_intraday"
    for row in ROWS_BY_MONTH:  # one commit per row: Dec 2024 in its own dir
        df = spark.createDataFrame([row], schema=S.HISTORICAL_INTRADAY)
        store.ingest_batch(df, mode)
    before = set(store.log(mode).state()["dirs"])
    (dec_dir,) = [
        d for d, m in store.log(mode).state()["meta"].items()
        if m["timestamp_UTC_s"][1] < 1735707600  # 2025-01-01 00:00 EST
    ]

    n = services.run_command(
        spark, store, "maintain_store",
        {"op": "retain", "mode": mode, "keep_from": [2025, 1]},
    )
    assert n == 1  # the Dec 2024 dir dropped whole, no straddler rewritten
    assert set(store.log(mode).state()["dirs"]) == before - {dec_dir}
    # metadata-only: the dropped dir's files were not touched (time travel
    # and in-flight readers still see them until vacuum / orphan GC)
    assert os.path.isdir(os.path.join(store.data_path(mode), dec_dir))

    left = store.read_all(mode)
    assert left.count() == 3
    assert {r.year for r in left.select("year").distinct().collect()} == {2025}
    st = {r.ticker: r for r in store.table_stats(mode).collect()}
    assert st["SPY"].row_count == 2 and st["SPY"].min_ts == 1736951400

    # keep_from is exchange-local Y[, M[, D]]: local midnight in the
    # ts column's own domain
    cut = services._retain_cutoff
    assert cut(mode, [2025, 1], "America/New_York") == 1735707600
    assert cut("streaming", [2025], "America/New_York") == 1735707600_000
    assert cut("historical_interday", [2025, 1, 2], "UTC") == datetime.date(2025, 1, 2)
    with pytest.raises(ValueError):
        cut(mode, [2025, 1, 1, 0], "America/New_York")


def test_widen_types_fixes_conflicting_files(spark, store):
    # batch 1 carries an extra int column; batch 2 the same column as double
    # (the reference's NONE→REAL affinity-learned-later case) — a merged
    # read of the files fails until the int files are cast-rewritten
    from pyspark.sql import types as T

    def plus_score(t: str) -> T.StructType:  # .add() mutates; build fresh
        return T.StructType(
            list(S.HISTORICAL_INTRADAY.fields) + [T.StructField("score", t, True)]
        )

    b1 = spark.createDataFrame(
        [("SPY", 1736951400, 1.0, 2.0, 0.5, 1.5, 10, "1h", 7)],
        schema=plus_score(T.LongType()),
    )
    store.ingest_batch(b1, "historical_intraday")
    b2 = spark.createDataFrame(
        [("SPY", 1736955000, 1.0, 2.0, 0.5, 1.5, 10, "1h", 7.5)],
        schema=plus_score(T.DoubleType()),
    )
    store.ingest_batch(b2, "historical_intraday")

    conflicts = scan_type_conflicts(store, "historical_intraday")
    assert conflicts["score"]["widened"] == "double"

    def merged_file_read():  # one mergeSchema relation over every file
        files = _live_files(store, "historical_intraday")
        return spark.read.option("mergeSchema", "true").parquet(*files).collect()

    with pytest.raises(Exception):  # conflicting physical types break it
        merged_file_read()

    res = store.widen_types("historical_intraday")
    assert res["columns"] == {"score": "double"}
    assert res["files_rewritten"] >= 1
    assert scan_type_conflicts(store, "historical_intraday") == {}

    rows = {
        (r.timestamp_UTC_s, r.score)
        for r in store.read_all("historical_intraday").collect()
    }
    assert rows == {(1736951400, 7.0), (1736955000, 7.5)}
    assert len(merged_file_read()) == 2

    # idempotent: second run touches nothing
    assert store.widen_types("historical_intraday")["files_rewritten"] == 0


def test_widened_rules():
    assert _widened({"int64", "double"}) == "double"
    assert _widened({"int32", "int64"}) == "int64"
    assert _widened({"int64", "float"}) == "double"  # float32 can't hold int64
    assert _widened({"null", "int64"}) == "int64"
    with pytest.raises(TypeError):
        _widened({"string", "int64"})


def test_compact_unpartitioned_mode(spark, store):
    # interday mode is unpartitioned: compaction coalesces the whole
    # dataset's dirs into one file
    import datetime as _dt

    rows = [
        ("SPY", _dt.date(2024, 10, d), 1.0, 2.0, 0.5, 1.5, 1.2, 100, "d")
        for d in range(1, 5)
    ]
    for r in rows:
        df = spark.createDataFrame([r], schema=S.HISTORICAL_INTERDAY)
        assert store.ingest_batch(df, "historical_interday") == 1
    assert len(_live_files(store, "historical_interday")) == 4

    before = sorted(map(tuple, store.read_all("historical_interday").collect()))
    assert store.compact("historical_interday")["rewritten"] == 4
    assert len(_live_files(store, "historical_interday")) == 1
    after = sorted(map(tuple, store.read_all("historical_interday").collect()))
    assert after == before


def test_compact_preserves_evolved_schema_reads(spark, store):
    # older file lacks the evolved column; compaction must keep the
    # merged-read results identical (old rows surface NULL before and
    # after, physically NULL-filled after the rewrite)
    from pyspark.sql import types as T

    b1 = spark.createDataFrame(
        [("SPY", 1736951400, 1.0, 2.0, 0.5, 1.5, 10, "1h")],
        schema=S.HISTORICAL_INTRADAY,
    )
    store.ingest_batch(b1, "historical_intraday")
    evolved = T.StructType(
        list(S.HISTORICAL_INTRADAY.fields) + [T.StructField("vwap", T.DoubleType(), True)]
    )
    b2 = spark.createDataFrame(
        [("SPY", 1736955000, 1.0, 2.0, 0.5, 1.5, 10, "1h", 1.25)], schema=evolved
    )
    store.ingest_batch(b2, "historical_intraday")

    def snapshot():
        return sorted(
            (r.timestamp_UTC_s, r.vwap)
            for r in store.read_all("historical_intraday").collect()
        )

    before = snapshot()
    store.compact("historical_intraday")
    assert len(_live_files(store, "historical_intraday")) == 1
    after = snapshot()
    assert after == before == [(1736951400, None), (1736955000, 1.25)]
