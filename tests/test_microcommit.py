"""Pins for the r12 micro-commit fast path (sources/microcommit.py):
the driver-side twins must be value-identical to the Spark operators
they replace, the written layout must be Spark-reader-compatible, and
uncovered domains must decline (fall back) rather than mis-encode.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from stock_ops_spark.sources import microcommit as MC
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.layout import PARTITION_COLS, with_partition_cols


def _batch(spark, extra_rows=()):
    rows = [
        ("AAPL", 1700000000000, 100.0, 10, None, None, None, None),
        ("AAPL", 1700086400000, 101.0, 11, None, None, None, None),
        ("MSFT", 1700000000000, 200.0, None, None, None, None, None),
        ("MSFT", 1702592000000, 201.0, 20, None, None, None, None),
        *extra_rows,
    ]
    return spark.createDataFrame(
        rows,
        "ticker string, timestamp_UTC_ms bigint, price double, "
        "volume bigint, ask_price double, bid_price double, "
        "ask_size bigint, bid_size bigint",
    )


def test_stat_rows_micro_matches_spark_aggregate(spark):
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    # NULL-ts row exercises the nts/min/max NULL handling
    routed = routed.withColumn(
        "timestamp_UTC_ms",
        F.when(F.col("price") == 200.0, F.lit(None)).otherwise(
            F.col("timestamp_UTC_ms")
        ),
    )
    gb = ["ticker"]
    parts = PARTITION_COLS["streaming"]
    tbl = MC.collect_micro(routed)
    assert tbl is not None
    got = {
        r["ticker"]: (r["rc"], r["nts"], r["lo"], r["hi"], set(r["tp"]))
        for r in MC.stat_rows_micro(tbl, gb, "timestamp_UTC_ms", parts, 256)
    }
    want_rows = (
        routed.groupBy("ticker")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.count("timestamp_UTC_ms").alias("nts"),
            F.min("timestamp_UTC_ms").alias("lo"),
            F.max("timestamp_UTC_ms").alias("hi"),
            F.collect_set(F.struct(*parts)).alias("tp"),
        )
        .collect()
    )
    want = {
        r["ticker"]: (
            r["rc"], r["nts"], r["lo"], r["hi"],
            {tuple(t) for t in r["tp"]},
        )
        for r in want_rows
    }
    assert got == want


def test_write_micro_layout_readable_and_clustered(spark, tmp_path):
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    tbl = MC.collect_micro(routed)
    dest = str(tmp_path / "micro")
    assert MC.write_micro(
        tbl, ["year", "month", "day"], ["ticker", "timestamp_UTC_ms"], dest
    )
    files = glob.glob(os.path.join(dest, "**", "*.parquet"), recursive=True)
    # one file per distinct (y, m, d); Spark-style dir names, no padding
    n_parts = routed.select("year", "month", "day").distinct().count()
    assert len(files) == n_parts
    assert all("/year=" in f and "/month=" in f and "/day=" in f for f in files)
    back = spark.read.parquet(dest)
    assert set(back.columns) == set(routed.columns)
    # partition discovery infers the int partition columns back as int
    assert dict(back.dtypes) == dict(routed.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, routed.collect())
    )


def test_collect_micro_declines_over_bound(spark):
    df = spark.range(0, 50, 1, 2).select(F.col("id"))
    assert MC.collect_micro(df, bound=49) is None
    t = MC.collect_micro(df, bound=50)
    assert t is not None and t.num_rows == 50


def test_write_micro_declines_uncovered_domains(spark, tmp_path):
    # NULL partition value
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    nulled = routed.withColumn(
        "day", F.when(F.col("ticker") == "AAPL", None).otherwise(F.col("day"))
    )
    t = MC.collect_micro(nulled)
    assert not MC.write_micro(
        t, ["year", "month", "day"], ["ticker"], str(tmp_path / "a")
    )
    assert not os.path.exists(str(tmp_path / "a"))
    # decimal column: outside the identical-encoding allowlist
    dec = routed.withColumn("d", F.lit("1.5").cast("decimal(10,2)"))
    t2 = MC.collect_micro(dec)
    assert not MC.write_micro(
        t2, ["year", "month", "day"], ["ticker"], str(tmp_path / "b")
    )


def test_ingest_falls_back_and_stays_correct_on_decimal_payload(
    spark, tmp_path
):
    # extra decimal payload column: write_micro declines, the Spark write
    # path takes over, and the store contents are identical either way
    batch = _batch(spark).withColumn(
        "fee", F.lit("0.25").cast("decimal(6,4)")
    )
    store = ManifestStore(spark, str(tmp_path / "store"))
    n = store.ingest_batch(batch, "streaming")
    assert n == 4
    back = store.read_all("streaming")
    assert back.count() == 4
    assert dict(back.dtypes)["fee"] == "decimal(6,4)"
    # replay dedups to zero through the same path
    assert store.ingest_batch(batch, "streaming") == 0


def test_ingest_null_and_dated_ts_for_one_ticker(spark, tmp_path):
    # one ticker holds a NULL-ts row next to dated rows: its group in the
    # micro stats path carries the all-NULL partition tuple beside real
    # ones, which must sort (NULL first, as Spark's ascending sort does)
    null_ts = ("AAPL", None, 99.0, 9, None, None, None, None)
    routed = with_partition_cols(
        _batch(spark, [null_ts]), "streaming", "America/New_York"
    )
    rows = MC.stat_rows_micro(
        MC.collect_micro(routed), ["ticker"], "timestamp_UTC_ms",
        PARTITION_COLS["streaming"], 256,
    )
    aapl = next(r for r in rows if r["ticker"] == "AAPL")
    assert aapl["tp"][0] == (None, None, None) and len(aapl["tp"]) == 3

    store = ManifestStore(spark, str(tmp_path / "store"))
    assert store.ingest_batch(_batch(spark, [null_ts]), "streaming") == 5
    assert store.read_all("streaming").count() == 5
    stats = {
        r["ticker"]: (r["row_count"], r["min_ts"], r["max_ts"])
        for r in store.table_stats("streaming").collect()
    }
    assert stats["AAPL"] == (3, 1700000000000, 1700086400000)


def test_dir_meta_micro_matches_spark_meta(spark):
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    tbl = MC.collect_micro(routed)
    got = MC.dir_meta_micro(tbl, ["ticker", "timestamp_UTC_ms"])
    row = routed.agg(
        F.min("ticker"), F.max("ticker"),
        F.min("timestamp_UTC_ms"), F.max("timestamp_UTC_ms"),
        F.count(F.lit(1)),
    ).collect()[0]
    assert got == {
        "ticker": [row[0], row[1]],
        "timestamp_UTC_ms": [row[2], row[3]],
        "n": row[4],
    }


def test_materialize_micro_counts_and_parallelism(spark):
    from pyspark.sql import functions as F2

    df = spark.range(0, 100, 1, 4).select(
        F2.col("id"), (F2.col("id") % 3).alias("k")
    )
    ck, n, tbl = MC.materialize_micro(df, bound=200)
    assert n == 100 and tbl is not None and tbl.num_rows == 100
    # the returned frame keeps the checkpoint's partitioning — the
    # downstream re-dedup must not collapse onto one partition
    assert ck.rdd.getNumPartitions() == 4
    assert sorted(tbl.column("id").to_pylist()) == list(range(100))
    # over the bound: no Arrow table, but the count is still known
    ck2, n2, tbl2 = MC.materialize_micro(df, bound=99)
    assert n2 == 100 and tbl2 is None
    assert ck2.count() == 100
