"""The four workloads.  Each takes a ``Ctx`` and returns a ``Result``.

``setup`` ends right before the first timed operation; the timed region
lasts ``ctx.seconds`` (a closed loop finishes the operation in flight).
Every operation's output is checked against the generator's expectation,
and each failed operation or failed check counts in ``failed``.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os
import random
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

import numpy as np

import harness
import marketgen as mg
from spans import Tracer

TZ = "America/New_York"


@dataclass
class Ctx:
    workload: str
    spark: object
    wd: harness.Workdir
    seed: int
    seconds: float
    tracer: Tracer | None
    t_start: float  # process-level start of set-up
    max_ops: int | None = None  # fixed operation count (tests)


@dataclass
class Result:
    setup_s: float = 0.0
    op_lat: list = field(default_factory=list)  # headline op latencies
    work: float = 0.0  # units of work done in the timed region
    work_s: float = 0.0  # seconds the work is divided by
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)  # the workload's own metrics
    layers: dict = field(default_factory=dict)  # workload-specific per-layer values
    store: object = None
    store_mode: str | None = None
    gen_bytes: int = 0  # Arrow bytes of every row ingested into store_mode

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED: {what}", flush=True)


def _op(ctx: Ctx, kind: str):
    """One operation: traced per the tracer's alternation; nothing when
    the run is untraced."""
    return ctx.tracer.op(kind) if ctx.tracer is not None else nullcontext()


def _span(ctx: Ctx, name: str):
    return ctx.tracer.span(name) if ctx.tracer is not None else nullcontext()


def _recording(ctx: Ctx, on: bool) -> None:
    """Record spans only in the timed region (set-up and checks are not
    part of any operation)."""
    if ctx.tracer is not None:
        ctx.tracer.active = on


def _loop_done(ctx: Ctx, t0: float, n_ops: int) -> bool:
    if ctx.max_ops is not None:
        return n_ops >= ctx.max_ops
    return time.perf_counter() - t0 >= ctx.seconds


def _df(spark, tbl, schema):
    return spark.createDataFrame(tbl.to_pandas(), schema=schema)


def _check_store(res: Result, store, mode: str, want: dict, versions: int) -> None:
    """Store ``table_stats``, row count and highest version against
    ``{ticker: (n, lo, hi)}`` and the expected version count."""
    from pyspark.sql import functions as F

    got = {
        r["ticker"]: (r["row_count"], r["min_ts"], r["max_ts"])
        for r in store.table_stats(mode).collect()
    }
    res.check(got == want, f"{mode} table_stats: {len(got)} tickers vs {len(want)}")
    n, vmax = store.read_all(mode).agg(F.count("*"), F.max("version")).first()
    res.check(n == sum(v[0] for v in want.values()), f"{mode} rows {n}")
    res.check(vmax == versions, f"{mode} max version {vmax} != {versions}")


def _bars_stats(tables) -> dict:
    import pyarrow as pa

    t = pa.concat_tables(tables).group_by("ticker").aggregate([
        ("timestamp_UTC_s", "count"), ("timestamp_UTC_s", "min"),
        ("timestamp_UTC_s", "max"),
    ])
    return {
        r["ticker"]: (r["timestamp_UTC_s_count"], r["timestamp_UTC_s_min"],
                      r["timestamp_UTC_s_max"])
        for r in t.to_pylist()
    }


# ---------------------------------------------------------------------------
# stream_ingest: open loop of JSON files into a streaming query
# ---------------------------------------------------------------------------

#: Offered load: one file every 1/FILES_PER_S seconds, ROWS_PER_FILE rows
#: each: 400 rows/s, inside the reference's 50-5,000 rows/s envelope.
FILES_PER_S = 8
ROWS_PER_FILE = 50
#: A micro-batch commit takes about 2 s on local[4] (3.3 s seen).  With a
#: 1 s trigger the batches ran back to back and a run's freshness hung on
#: where its few batch boundaries and the compaction fell (0.25-0.41
#: spread of the median over seeds).  A trigger longer than a commit, with
#: the generator started just after a trigger instant (Spark aligns them
#: to multiples of the interval), gives every 10 s run the same schedule:
#: three micro-batches of about 27 files.
TRIGGER_S = 3.4
#: Commits of earlier history before the stream starts; they warm the
#: commit and store-probe paths.  The store keeps its default compaction
#: cadence (every 8th commit or more), which a 10 s run does not reach:
#: pinning it to put a compaction on the last timed micro-batch made that
#: batch take 3.9-5.5 s and spread the p90 freshness 0.30 over seeds.
PREFILL_COMMITS = 2
DRAIN_TIMEOUT_S = 30.0


def _committed_files(ckpt: str) -> dict[str, int]:
    """File path -> batch id for every batch whose commit is logged."""
    done = {
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if os.path.basename(p).isdigit()
    }
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(p)
        if not (base.isdigit() or base.endswith(".compact")):
            continue
        try:
            with open(p) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue  # being written: picked up on the next poll
        for line in lines:
            e = json.loads(line)
            if e["batchId"] in done:
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def stream_ingest(ctx: Ctx) -> Result:
    from stock_ops_spark.schemas import STREAMING
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.streaming.ingest import file_trade_source
    from stock_ops_spark.streaming.ingest import stream_ingest as start_stream

    spark, res = ctx.spark, Result()
    _recording(ctx, False)
    gen = mg.MarketGen(ctx.seed, n_tickers=16)
    exp = mg.Expected()
    n_files = int(ctx.seconds * FILES_PER_S)
    period_ms = 1000 // FILES_PER_S
    # event time runs at the offered rate from a fixed instant
    t_ev = mg.T0_S * 1000
    files = [
        gen.stream_rows(ROWS_PER_FILE, t_ev + k * period_ms, period_ms)
        for k in range(n_files)
    ]
    blobs = [mg.MarketGen.json_lines(rows) for rows in files]
    res.gen_bytes = sum(mg.MarketGen.arrow_bytes(rows) for rows in files)

    src, stage, ckpt = ctx.wd.fresh("in"), ctx.wd.fresh("stage"), ctx.wd.fresh("ckpt")
    store = ManifestStore(spark, ctx.wd.fresh("store"))
    res.store, res.store_mode = store, "streaming"
    # earlier days' trades and quotes; their late and replayed rows make
    # each commit after the first probe the store
    hist = mg.MarketGen(ctx.seed + 1, n_tickers=16)
    for k in range(PREFILL_COMMITS):
        rows = hist.stream_rows(
            10 * ROWS_PER_FILE, t_ev - (PREFILL_COMMITS + 2 - k) * mg.DAY_S * 1000,
            mg.DAY_S * 1000)
        exp.add(rows)
        res.gen_bytes += mg.MarketGen.arrow_bytes(rows)
        store.ingest_batch(spark.createDataFrame(rows, schema=STREAMING), "streaming")
    query = start_stream(
        file_trade_source(spark, src, max_files_per_trigger=100_000),
        store, trigger_seconds=TRIGGER_S, checkpoint=ckpt,
    )
    try:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while query.lastProgress is None and time.time() < deadline:
            time.sleep(0.05)
        res.setup_s = time.perf_counter() - ctx.t_start
        t0 = (time.time() // TRIGGER_S + 1) * TRIGGER_S + 0.05
        time.sleep(t0 - time.time())

        due: list[float] = []
        late: list[float] = []

        def generate():
            for k, blob in enumerate(blobs):
                d = t0 + k / FILES_PER_S
                pause = d - time.time()
                if pause > 0:
                    time.sleep(pause)
                tmp = os.path.join(stage, f"f{k:06d}.json")
                with open(tmp, "wb") as f:
                    f.write(blob)
                os.rename(tmp, os.path.join(src, f"f{k:06d}.json"))
                due.append(d)
                late.append(time.time() - d)

        g = threading.Thread(target=generate, name="perfbench-generator")
        _recording(ctx, True)
        g.start()
        # pending files (written, not yet in a committed batch) just before
        # each trigger instant up to the one that takes the last file: a
        # run that keeps up sees one interval's files every time
        backlog: list[int] = []
        trigger = t0 - 0.05 + TRIGGER_S
        while trigger - t0 < ctx.seconds + TRIGGER_S:
            time.sleep(max(0.0, trigger - 0.1 - time.time()))
            backlog.append(len(due) - len(_committed_files(ckpt)))
            trigger += TRIGGER_S
        g.join()
        deadline = time.time() + DRAIN_TIMEOUT_S
        committed = _committed_files(ckpt)
        progress = list(query.recentProgress)
        # a batch's progress record is posted just after its commit
        while time.time() < deadline and query.exception() is None and (
            len(committed) < n_files
            or max(committed.values(), default=-1)
            > max((p["batchId"] for p in progress), default=-1)
        ):
            time.sleep(0.1)
            committed = _committed_files(ckpt)
            progress = list(query.recentProgress)
    finally:
        query.stop()
        _recording(ctx, False)

    backlog_mid, backlog_end = backlog[len(backlog) // 2], backlog[-1]

    done_at = {}
    for p in progress:
        ts = _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        done_at[p["batchId"]] = ts.timestamp() + p["durationMs"]["triggerExecution"] / 1000
    for k in range(n_files):
        b = committed.get(f"f{k:06d}.json")
        res.attempted += 1
        if b is None or b not in done_at:
            res.failed += 1
            continue
        res.op_lat.append(done_at[b] - due[k])
        exp.add(files[k])
    if res.op_lat:
        res.work = ROWS_PER_FILE * len(res.op_lat)
        res.work_s = max(done_at.values()) - t0
    _check_store(res, store, "streaming", exp.table_stats(), exp.max_versions())

    busy = [p for p in progress if p["numInputRows"]]
    res.layers.update({
        "streaming.ingest.trigger_s": harness.median(
            [p["durationMs"]["triggerExecution"] / 1000 for p in busy]),
        "streaming.ingest.add_batch_s": harness.median(
            [p["durationMs"].get("addBatch", 0) / 1000 for p in busy]),
        "streaming.ingest.rows_per_batch_p50": harness.median(
            [p["numInputRows"] for p in busy]),
        "streaming.ingest.gen_late_s_max": max(late, default=0.0),
        "streaming.ingest.backlog_mid_files": backlog_mid,
        "streaming.ingest.backlog_end_files": backlog_end,
    })
    res.detail.update({
        "freshness_s_p50": (harness.median(res.op_lat), "s"),
        "freshness_s_p90": (harness.quantile(res.op_lat, 0.9), "s"),
        "offered_rows_per_s": (FILES_PER_S * ROWS_PER_FILE, "1/s"),
        "backlog_mid_files": (backlog_mid, "count"),
        "backlog_end_files": (backlog_end, "count"),
    })
    return res


# ---------------------------------------------------------------------------
# backfill: closed loop of large historical_intraday batches
# ---------------------------------------------------------------------------

#: Batch sizes cycle through this fixed schedule of pairs, one under and
#: one over ``MICRO_COMMIT_ROWS`` (131,072), so both commit paths run;
#: the loop stops only after a whole pair, keeping the mix of the two
#: paths the same in every run.
BATCH_ROWS = (65_536, 163_840, 98_304, 147_456, 114_688, 155_648, 81_920, 139_264)
BACKFILL_TICKERS = 200


def backfill(ctx: Ctx) -> Result:
    from stock_ops_spark.schemas import HISTORICAL_INTRADAY as SCHEMA
    from stock_ops_spark.sources.commitlog import ManifestStore

    spark, res = ctx.spark, Result()
    _recording(ctx, False)
    gen = mg.MarketGen(ctx.seed)
    days = mg.trading_days(0, 10)
    bars = gen.bars(BACKFILL_TICKERS, days)

    def batch(i: int, off: int):
        n = BATCH_ROWS[i % len(BATCH_ROWS)]
        return bars.slice(off, n)

    # warm the commit path on a throwaway store
    warm = ManifestStore(spark, ctx.wd.fresh("warm-store"))
    wbars = mg.MarketGen(ctx.seed + 1).bars(BACKFILL_TICKERS, [-3])
    warm.ingest_batch(_df(spark, wbars.slice(0, 20_000), SCHEMA), "historical_intraday")

    store = ManifestStore(spark, ctx.wd.fresh("store"))
    res.store, res.store_mode = store, "historical_intraday"
    first = _df(spark, batch(0, 0), SCHEMA)
    res.setup_s = time.perf_counter() - ctx.t_start

    _recording(ctx, True)
    t0 = time.perf_counter()
    done: list = []
    off, i, df = 0, 0, first
    while i % 2 or not _loop_done(ctx, t0, i):
        tbl = batch(i, off)
        if tbl.num_rows < BATCH_ROWS[i % len(BATCH_ROWS)]:
            break  # generated history exhausted
        if df is None:
            df = _df(spark, tbl, SCHEMA)
        with _op(ctx, f"batch{tbl.num_rows}"):
            ts = time.perf_counter()
            try:
                n = store.ingest_batch(df, "historical_intraday")
            except Exception as ex:  # noqa: BLE001 — counted, run goes on
                print(f"# backfill batch {i} failed: {ex!r}", flush=True)
                n = None
            dt = time.perf_counter() - ts
        res.attempted += 1
        if n != tbl.num_rows:
            res.failed += 1
        res.op_lat.append(dt)
        res.work += tbl.num_rows
        res.work_s += dt
        done.append(tbl)
        off += tbl.num_rows
        i += 1
        df = None
    # the last batch replays the first one in full: nothing to append
    replay = _df(spark, done[0], SCHEMA)
    with _op(ctx, "replay"):
        ts = time.perf_counter()
        n = store.ingest_batch(replay, "historical_intraday")
        replay_s = time.perf_counter() - ts
    _recording(ctx, False)
    res.check(n == 0, f"replay appended {n}")
    res.gen_bytes = sum(t.nbytes for t in done) + done[0].nbytes
    _check_store(res, store, "historical_intraday", _bars_stats(done), 1)
    res.detail.update({
        "backfill_rows_per_s": (res.work / res.work_s if res.work_s else 0.0, "1/s"),
        "batches": (len(done), "count"),
        "replay_s": (replay_s, "s"),
    })
    return res


# ---------------------------------------------------------------------------
# read_mostly: range reads, analytics and small appends on one store
# ---------------------------------------------------------------------------

READ_TICKERS = 50
#: History: 1-minute bars on the four trading days from 2024-02-29, so
#: the store spans a month boundary and (year, month) pruning matters;
#: the appends add the dirs that commit-level skipping can skip.
READ_DAYS = mg.trading_days(-4, 4)
TRADE_DAYS = mg.trading_days(0, 2)
#: One cycle of operations: R = range read, A = analytics, W = append;
#: 90% reads, 5% analytics, 5% appends.  A and W sit early and mid-cycle,
#: so a 10 s run (about 20 operations) holds one of each.
MIX = "RRRRARRRRRRRRRWRRRRR"
APPEND_ROWS = 500


def _local(epoch_s: int) -> str:
    """Epoch seconds -> exchange-local 'YYYY-MM-DD HH:MM' (minute floor)."""
    return _dt.datetime.fromtimestamp(epoch_s, ZoneInfo(TZ)).strftime("%Y-%m-%d %H:%M")


def _epoch(local: str) -> int:
    """Exchange-local 'YYYY-MM-DD HH:MM' -> epoch seconds."""
    naive = _dt.datetime.strptime(local, "%Y-%m-%d %H:%M")
    return int(naive.replace(tzinfo=ZoneInfo(TZ)).timestamp())


def read_mostly(ctx: Ctx) -> Result:
    import pyarrow as pa
    from pyspark.sql import functions as F

    from stock_ops_spark.operators.asof import asof_join_nearest
    from stock_ops_spark.operators.ohlc import session_ohlc
    from stock_ops_spark.schemas import HISTORICAL_INTRADAY, STREAMING
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.sources.reader import ReadProcess

    spark, res = ctx.spark, Result()
    _recording(ctx, False)
    rng = random.Random(ctx.seed)
    gen = mg.MarketGen(ctx.seed, n_tickers=READ_TICKERS)
    store = ManifestStore(spark, ctx.wd.fresh("store"))
    res.store, res.store_mode = store, "historical_intraday"
    bar_tables = [gen.bars(READ_TICKERS, READ_DAYS)]
    store.ingest_batch(_df(spark, bar_tables[0], HISTORICAL_INTRADAY), "historical_intraday")
    grid = np.unique(bar_tables[0].column("timestamp_UTC_s").to_numpy())
    appended: dict[str, list[int]] = {}

    tgen = mg.MarketGen(ctx.seed + 1, n_tickers=16)
    texp = mg.Expected()
    rows = []
    for d in TRADE_DAYS:
        t = (mg.T0_S + d * mg.DAY_S) * 1000
        rows += tgen.stream_rows(6_000, t, 390 * 60_000)
    texp.add(rows)
    store.ingest_batch(spark.createDataFrame(rows, schema=STREAMING), "streaming")
    # (ticker, epoch ms, local time) of every stored trade, for the
    # analytics checks
    trades = sorted(
        (r[0], r[1], _local(r[1] // 1000)) for r in texp.rows if r[2] is not None
    )
    rp = ReadProcess(store)
    next_ts = {t: int(grid[-1]) + 86_400 for t in gen.tickers}
    read_rows: list[int] = []

    def do_read(lat: list) -> None:
        tk = gen.ticker()
        lo = int(grid[rng.randrange(len(grid))])
        span_s = int(3600 * (24 * 7) ** rng.random())  # 1 h .. 1 week
        lo_str, hi_str = _local(lo), _local(lo + span_s)
        lo_e, hi_e = _epoch(lo_str), _epoch(hi_str)
        want = int(np.searchsorted(grid, hi_e, "right") - np.searchsorted(grid, lo_e, "left"))
        want += sum(lo_e <= t <= hi_e for t in appended.get(tk, ()))
        ts = time.perf_counter()
        pdf = rp.to_pandas(
            rp.read_dt_range("historical_intraday", tk, lo_str, hi_str, interval="1m"),
            "historical_intraday",
        )
        lat.append(time.perf_counter() - ts)
        res.check(len(pdf) == want, f"read {tk} {lo_str}..{hi_str}: {len(pdf)} != {want}")
        read_rows.append(len(pdf))

    def do_analytics(lat: list) -> None:
        tk, _, when = trades[rng.randrange(len(trades))]
        day = _dt.date.fromisoformat(when[:10])
        month = day.replace(day=1)
        next_month = (month + _dt.timedelta(days=31)).replace(day=1)
        # the reader's bounds are inclusive, to the minute
        m_lo, m_hi = f"{month} 00:00", f"{next_month} 00:00"
        d_lo, d_hi = f"{day} 00:00", f"{day + _dt.timedelta(days=1)} 00:00"

        (mlo, mhi), (dlo, dhi) = (
            (_epoch(a) * 1000, _epoch(b) * 1000) for a, b in ((m_lo, m_hi), (d_lo, d_hi)))
        want_days = {
            t[:10] for k, ms, t in trades
            if k == tk and mlo <= ms <= mhi and "09:30" <= t[11:] <= "16:00"
        }
        want_trades = sum(1 for k, ms, _ in trades if k == tk and dlo <= ms <= dhi)
        ts = time.perf_counter()
        mdf = rp.read_dt_range("streaming", tk, m_lo, m_hi)
        tdf = mdf.where(F.col("price").isNotNull())
        ohlc = session_ohlc(tdf, F.timestamp_millis("timestamp_UTC_ms"), F.col("price"), tz=TZ)
        with _span(ctx, "operators.ohlc.session_ohlc.act"):
            n_ohlc = len(ohlc.collect())
        ddf = rp.read_dt_range("streaming", tk, d_lo, d_hi)
        left = ddf.where(F.col("price").isNotNull()).select("ticker", "timestamp_UTC_ms", "price")
        right = ddf.where(F.col("bid_price").isNotNull()).select(
            "ticker", "timestamp_UTC_ms", "bid_price", "ask_price")
        joined = asof_join_nearest(left, right, on="timestamp_UTC_ms", by=["ticker"])
        with _span(ctx, "operators.asof.asof_join_nearest.act"):
            n_asof = len(joined.collect())
        lat.append(time.perf_counter() - ts)
        res.check(n_ohlc == len(want_days), f"ohlc {tk} {month}: {n_ohlc}")
        res.check(n_asof == want_trades, f"asof {tk} {day}: {n_asof} != {want_trades}")

    def do_append(lat: list) -> None:
        tk = gen.ticker()
        t = next_ts[tk]
        ts_col = np.arange(t, t + APPEND_ROWS * 60, 60)
        next_ts[tk] = t + APPEND_ROWS * 60
        px = np.round(100 + np.arange(APPEND_ROWS) * 0.01, 2)
        tbl = pa.table({
            "ticker": [tk] * APPEND_ROWS, "timestamp_UTC_s": ts_col,
            "open": px, "high": px, "low": px, "close": px,
            "volume": np.full(APPEND_ROWS, 100), "interval": ["1m"] * APPEND_ROWS,
        })
        df = _df(spark, tbl, HISTORICAL_INTRADAY)
        ts = time.perf_counter()
        n = store.ingest_batch(df, "historical_intraday")
        lat.append(time.perf_counter() - ts)
        appended.setdefault(tk, []).extend(int(x) for x in ts_col)
        bar_tables.append(tbl)
        res.check(n == APPEND_ROWS, f"append {tk}: {n}")

    # warm-up: one operation of each kind, untimed
    for fn in (do_read, do_analytics, do_append):
        fn([])
    read_rows.clear()
    res.setup_s = time.perf_counter() - ctx.t_start

    lat = {"R": [], "A": [], "W": []}
    kinds = {"R": ("read", do_read), "A": ("analytics", do_analytics),
             "W": ("append", do_append)}
    _recording(ctx, True)
    t0 = time.perf_counter()
    n_ops = 0
    while not _loop_done(ctx, t0, n_ops):
        k = MIX[n_ops % len(MIX)]
        name, fn = kinds[k]
        with _op(ctx, name):
            try:
                fn(lat[k])
            except Exception as ex:  # noqa: BLE001 — counted, run goes on
                print(f"# {name} failed: {ex!r}", flush=True)
                res.attempted += 1
                res.failed += 1
        n_ops += 1
    wall = time.perf_counter() - t0
    _recording(ctx, False)
    res.op_lat = lat["R"]
    res.work, res.work_s = n_ops, wall
    res.gen_bytes = sum(t.nbytes for t in bar_tables)
    _check_store(res, store, "historical_intraday", _bars_stats(bar_tables), 1)
    res.layers["sources.reader.rows_per_read"] = (
        sum(read_rows) / len(read_rows) if read_rows else 0.0)
    res.detail.update({
        "read_s_p50": (harness.median(lat["R"]), "s"),
        "read_s_p90": (harness.quantile(lat["R"], 0.9), "s"),
        "analytics_s_p50": (harness.median(lat["A"]), "s"),
        "append_s_p50": (harness.median(lat["W"]), "s"),
        "ops_per_s": (n_ops / wall, "1/s"),
    })
    return res


# ---------------------------------------------------------------------------
# registry: the query sample, one query at a time
# ---------------------------------------------------------------------------

#: Whole passes over the sample until the run length is reached, and at
#: least this many: with one sample per query the p90 is the second
#: slowest query's single execution, and it spread 0.15-0.34 over seeds.
MIN_PASSES = 2


def registry(ctx: Ctx) -> Result:
    import __spark_entry__ as E
    from tools.check_oracle import canon

    spark, res = ctx.spark, Result()
    _recording(ctx, False)
    with open(os.path.join(harness.HERE, "registry_expected.json")) as f:
        expected = json.load(f)["queries"]
    qs = E.queries()
    names = sorted(expected)
    random.Random(ctx.seed).shuffle(names)

    # untimed warm-up pass: every sampled query's output against the
    # oracle's row count, columns and value hash
    for name in names:
        want = expected[name]
        try:
            rows, cols, h = canon(qs[name](spark, harness.SF_DIR).toPandas())
        except Exception as ex:  # noqa: BLE001 — counted, run goes on
            print(f"# warm-up {name} failed: {ex!r}", flush=True)
            rows = cols = h = None
        res.check(
            (rows, cols, h) == (want["rows"], want["cols"], want["hash"]),
            f"{name}: {rows} rows, hash {h}",
        )
    res.setup_s = time.perf_counter() - ctx.t_start

    _recording(ctx, True)
    # whole passes over the sample, so every run times the same queries
    t0 = time.perf_counter()
    n = 0
    while (n % len(names) or n < MIN_PASSES * len(names)
           or not _loop_done(ctx, t0, n)):
        name = names[n % len(names)]
        mod = qs[name].__module__.removeprefix("stock_ops_spark.")
        with _op(ctx, "query"):
            ts = time.perf_counter()
            try:
                with _span(ctx, mod):
                    with _span(ctx, f"{mod}.build"):
                        df = qs[name](spark, harness.SF_DIR)
                    with _span(ctx, f"{mod}.act"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 — counted, run goes on
                print(f"# {name} failed: {ex!r}", flush=True)
                res.failed += 1
            dt = time.perf_counter() - ts
        res.attempted += 1
        res.op_lat.append(dt)
        n += 1
    _recording(ctx, False)
    res.work, res.work_s = n, sum(res.op_lat)
    res.detail.update({
        "registry_s": (res.work_s * len(names) / n, "s"),
        "query_s_p50": (harness.median(res.op_lat), "s"),
        "query_s_p90": (harness.quantile(res.op_lat, 0.9), "s"),
        "queries_run": (n, "count"),
        "sample_size": (len(names), "count"),
    })
    return res


WORKLOADS = {
    "stream_ingest": stream_ingest,
    "backfill": backfill,
    "read_mostly": read_mostly,
    "registry": registry,
}
