"""Driver-side micro-commit fast path for tiny ingest deltas (r12, §1/§5/§6).

The e2e replay floor is per-commit Spark FIXED cost, not data volume: a
~8k-row delta (≈1 MB) pays an eager localCheckpoint job, a grouped-stats
collect, and a repartition+write job whose 31 dynamic-partition file
creates ride the committer's rename path on a `discard`-mounted ext4 —
measured 1.5-2.5 s per commit while the napkin floor (guide §1.3) for
1 MB of I/O is milliseconds.  For a delta PROVEN small, the cheapest
correct execution is: run the dedup/version plan ONCE, pull the rows to
the driver as one Arrow table, and derive everything downstream — the
grouped stat rows, the partitioned batch-dir files, the stats
increment — in-process.

Boundedness is proven, not assumed: ``collect_micro`` collects through a
``limit(bound+1)`` and DECLINES (returns None) when the extra row shows
up, so an unbounded backfill never lands on the driver (guide §5) — it
keeps the distributed checkpoint/write path, where its cost is real work.
At 100 TB, production batches exceed the bound and take the Spark path;
the fast path covers exactly the micro-batch regime where per-job fixed
costs dominate the hardware floor.

Write-path crash model (matches the Spark committer it replaces):
``ManifestStore`` batch dirs are INVISIBLE until the manifest commit
publishes them, so files are written straight into the fresh batch dir;
a crash strands unreferenced debris, exactly like v2-committer partials.

File compatibility: zstd parquet, one file per partition value, rows
sorted by (partition cols, ticker, ts) — the exact layout
``cluster_for_write`` produces — with plain int partition-directory names
(``year=2024``); value domains outside what Spark's writer would encode
identically (nested/decimal columns, non-int or NULL partition values)
decline to the Spark path.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

#: Proven-size bound for pulling a delta to the driver: 128k rows of
#: ~100 B tick data ≈ 13 MB — far under driver collect budgets, far over
#: every micro-batch in the replay class (~2-8k rows).  Above it the
#: distributed path's fixed costs are amortized by real work.
MICRO_COMMIT_ROWS = 131_072

#: Partition-value cap for the driver-side write: up to this many files
#: a 16-wide thread pool beats a Spark write job's fixed cost; past it
#: the one-task-per-value distributed layout wins on this disk.
MICRO_WRITE_MAX_FILES = 128


def collect_micro(df: DataFrame, bound: int = MICRO_COMMIT_ROWS):
    """The delta as one Arrow table iff it provably fits ``bound`` rows,
    else None.  The ``limit(bound+1)`` sentinel makes truncation visible:
    a table that comes back with the extra row is incomplete and unusable,
    so the caller falls back to the distributed path.  Call this on
    frames that are cheap to (partially) re-evaluate — already
    checkpointed/local inputs — because a truncated probe's work is
    discarded; for raw plans use ``materialize_micro``."""
    try:
        tbl = df.limit(bound + 1).toArrow()
    except Exception:  # unsupported type/conversion: not this path's job
        return None
    if tbl.num_rows > bound:
        return None
    return tbl


def materialize_micro(df: DataFrame, bound: int = MICRO_COMMIT_ROWS):
    """(checkpointed df, n, Arrow table | None) — the safe micro
    materialization for a frame of UNKNOWN size: one eager
    localCheckpoint whose row count rides along as an Observation (no
    count job), then — only when the count proves the frame micro — one
    cheap Arrow collect *from the checkpointed blocks*.  The frame is
    never computed twice (the r12.1 lesson: a direct ``limit`` probe
    re-ran just-over-bound sf1 deltas in full before falling back), and
    the returned DataFrame keeps the checkpoint's parallel partitioning
    so downstream distributed consumers (overlap re-dedup, rewrites) do
    not collapse onto a single-partition local relation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n = int(obs.get["n"] or 0)
    tbl = None
    if 0 < n <= bound:
        try:
            tbl = ck.toArrow()
        except Exception:
            tbl = None
        if tbl is not None and tbl.num_rows != n:
            tbl = None  # should not happen; never trust a mismatch
    return ck, n, tbl


def _columns(tbl, names):
    return {c: tbl.column(c).to_pylist() for c in names}


def stat_rows_micro(
    tbl, gb: list[str], ts_col: str, parts: list[str], part_cap: int
) -> list[dict]:
    """Driver twin of ``ManifestStore._ingest_frame._stat_rows``: per
    group key — rc, non-null-ts count, min/max ts, and (when the mode is
    partitioned) the distinct partition tuples capped at ``part_cap + 1``
    (one over the cap is enough to signal "over cap", matching the Spark
    side's ``slice(collect_set(...), 1, cap+1)``).  Value semantics match
    Spark's: min/max ignore NULLs, and the ts domain per mode (int epoch
    or datetime.date) orders identically in Python."""
    need = list(dict.fromkeys(gb + [ts_col] + parts))
    data = _columns(tbl, need)
    agg: dict = {}
    n = tbl.num_rows
    for i in range(n):
        k = tuple(data[c][i] for c in gb)
        e = agg.get(k)
        if e is None:
            e = agg[k] = {"rc": 0, "nts": 0, "lo": None, "hi": None,
                          "tp": set() if parts else None}
        e["rc"] += 1
        ts = data[ts_col][i]
        if ts is not None:
            e["nts"] += 1
            if e["lo"] is None or ts < e["lo"]:
                e["lo"] = ts
            if e["hi"] is None or ts > e["hi"]:
                e["hi"] = ts
        if parts:
            tp = e["tp"]
            if len(tp) <= part_cap:
                tp.add(tuple(data[c][i] for c in parts))
    rows = []
    for k, e in agg.items():
        r = dict(zip(gb, k))
        r.update(rc=e["rc"], nts=e["nts"], lo=e["lo"], hi=e["hi"])
        if parts:
            # NULL-ts rows route to an all-NULL tuple: order NULL first,
            # as Spark's ascending sort does, instead of comparing None
            r["tp"] = sorted(
                e["tp"], key=lambda t: tuple((v is not None, v) for v in t)
            )
        rows.append(r)
    return rows


def _writable_types(tbl, parts: list[str]) -> bool:
    import pyarrow as pa

    for f in tbl.schema:
        t = f.type
        if f.name in parts:
            if not pa.types.is_integer(t):
                return False
            continue
        if not (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_boolean(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_binary(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
        ):
            return False
    return True


def write_micro(
    tbl,
    parts: list[str],
    order_cols: list[str],
    dest: str,
) -> bool:
    """Write a collected delta as partitioned zstd parquet, driver-side,
    into a directory no reader lists yet (an unpublished batch dir).
    Returns False (writing NOTHING) when any value domain falls outside
    what this path encodes identically to Spark's writer — the caller
    then uses the Spark write."""
    import pyarrow.parquet as pq

    if tbl.num_rows == 0 or not _writable_types(tbl, parts):
        return False
    for c in parts:
        if c not in tbl.column_names or tbl.column(c).null_count:
            return False
    sort_keys = [
        (c, "ascending")
        for c in list(parts) + [c for c in order_cols if c not in parts]
        if c in tbl.column_names
    ]
    if sort_keys:
        try:
            tbl = tbl.sort_by(sort_keys)
        except Exception:
            return False

    def _write_one(sub, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        name = f"part-00000-{uuid.uuid4().hex}.zstd.parquet"
        pq.write_table(sub, os.path.join(d, name), compression="zstd")

    if not parts:
        _write_one(tbl, dest)
        return True
    vals = [tbl.column(c).to_pylist() for c in parts]
    n = tbl.num_rows
    data_tbl = tbl.drop_columns(list(parts))
    starts = [0]
    keys = [tuple(v[0] for v in vals)]
    for i in range(1, n):
        t = tuple(v[i] for v in vals)
        if t != keys[-1]:
            starts.append(i)
            keys.append(t)
    starts.append(n)
    if len(keys) > MICRO_WRITE_MAX_FILES:
        # a wide-span commit (hundreds of partition values): the Spark
        # writer's one-task-per-value layout beats driver-side creates
        # even threaded — decline before touching the destination
        return False
    jobs = [
        (
            data_tbl.slice(starts[j], starts[j + 1] - starts[j]),
            os.path.join(dest, *[f"{c}={v}" for c, v in zip(parts, key)]),
        )
        for j, key in enumerate(keys)
    ]
    if len(jobs) <= 8:
        for sub, d in jobs:
            _write_one(sub, d)
        return True
    # Many partition values (a wide-span commit): file creates stall on
    # the disk, not the CPU (`discard`-mounted ext4), and pyarrow
    # releases the GIL during write — a small thread pool recovers the
    # parallelism the Spark writer's one-task-per-value layout had.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as pool:
        list(pool.map(lambda sd: _write_one(*sd), jobs))
    return True


def dir_meta_micro(tbl, cols: list[str]) -> dict:
    """Driver twin of ``ManifestStore._dir_meta`` over a collected
    delta: [min, max] per bound column (NULL-skipping, like Spark's
    min/max) plus the row count, JSON-coerced the same way."""
    import pyarrow.compute as pc

    def j(v):
        return v if v is None or isinstance(v, (int, float, str)) else str(v)

    meta: dict = {}
    for c in cols:
        if c not in tbl.column_names:
            continue
        if tbl.num_rows:
            mm = pc.min_max(tbl.column(c))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
        else:
            lo = hi = None
        meta[c] = [j(lo), j(hi)]
    meta["n"] = tbl.num_rows
    return meta
