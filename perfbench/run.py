"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1

One workload runs in this process on ``local[--cores]`` (default 4).  The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  Lines before it
print each workload's own metrics by name and unit, and the run record
(machine state included) is also written under ``perfbench/.runs/``.

``--workload all`` runs the four workloads one after another, each in a
child process of its own, and prints one table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

with open(os.path.join(harness.REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
QUERY_MODULES = (
    "core", "timeseries_clustering", "text_analytics", "orders_analytics",
    "scale_ops", "retrieval_models", "scheduling_ops",
)
MICRO_FNS = (
    "materialize_micro", "collect_micro", "stat_rows_micro",
    "batch_stats_rows_micro", "write_micro", "dir_meta_micro",
)


def install_wrappers(tracer) -> None:
    """Wrap each layer's public entry points where their callers look
    them up."""
    from stock_ops_spark import shipping
    from stock_ops_spark.sources import commitlog, ingest, reader

    tracer.wrap(shipping, "ensure_package_on_executors",
                "shipping.ensure_package_on_executors")
    ms = commitlog.ManifestStore
    tracer.wrap(ms, "ingest_batch", "sources.commitlog.ingest_batch",
                opens_op="commit")
    tracer.wrap(ms, "compact", "sources.commitlog.compact")
    tracer.wrap(commitlog.ManifestLog, "try_commit", "sources.commitlog.try_commit")

    def read_where(orig, sp, *a, **k):
        stats = k.setdefault("stats", {})
        out = orig(*a, **k)
        if sp is not None:
            sp.extra.update(stats)
        return out

    tracer.wrap(ms, "read_where", "sources.commitlog.read_where", call=read_where)

    def materialize(orig, sp, *a, **k):
        out = orig(*a, **k)
        if sp is not None:
            sp.extra["hit"] = out[2] is not None
        return out

    # the micro-commit helpers are bound into their callers by
    # ``from ... import``: commitlog (ManifestStore) and ingest
    for mod in (commitlog, ingest):
        for fn in MICRO_FNS:
            if hasattr(mod, fn):
                tracer.wrap(mod, fn, f"sources.microcommit.{fn}",
                            call=materialize if fn == "materialize_micro" else None)
    tracer.wrap(reader.ReadProcess, "read_dt_range", "sources.reader.read_dt_range")
    tracer.wrap(reader.ReadProcess, "to_pandas", "sources.reader.to_pandas")


def layer_metrics(tracer, res, ctx) -> dict[str, float]:
    """Every per-layer metric from the folded spans plus the workload's
    own per-layer values; a layer the workload does not reach reads 0.
    ``*.calls`` count the traced calls; the other span metrics are means
    per traced call."""
    import spans as S

    folded = S.fold(tracer.spans)
    out = {name: 0.0 for name in PER_LAYER}

    def per_call(name: str, attr: str) -> float:
        t = folded.get(name)
        return getattr(t, attr) / t.calls if t and t.calls else 0.0

    def named(name: str) -> list:
        return [s for s in tracer.spans if s.name == name]

    out["session.start_s"] = per_call("session.start", "total_s")
    ship = folded.get("shipping.ensure_package_on_executors")
    out["shipping.ensure_package_on_executors.s"] = ship.total_s if ship else 0.0
    # Spark work of the traced operations, per operation
    top = [s for s in tracer.spans if s.parent is None and s.op >= 0]
    incl = S.inclusive_counts(tracer.spans)
    for i, key in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
        out[key] = sum(incl[s.sid][i] for s in top) / max(len(top), 1)

    cl = "sources.commitlog."
    for fn in ("ingest_batch", "compact", "read_where"):
        out[f"{cl}{fn}.calls"] = len(named(cl + fn))
        out[f"{cl}{fn}.self_s"] = per_call(cl + fn, "self_s")
    out[cl + "ingest_batch.jobs"] = per_call(cl + "ingest_batch", "jobs")
    out[cl + "try_commit.retries"] = sum(
        1 for s in named(cl + "try_commit") if s.extra.get("raised"))
    rw = named(cl + "read_where")
    total = sum(s.extra.get("dirs_total", 0) for s in rw)
    out[cl + "read_where.dirs_read_ratio"] = (
        sum(s.extra.get("dirs_read", 0) for s in rw) / total if total else 0.0)
    if res.store is not None:
        st = res.store.log(res.store_mode).state()
        out[cl + "live_dirs"] = len(st["dirs"])
        # the checked mode's data and log, over what was ingested into it
        data = res.store.data_path(res.store_mode)
        out[cl + "write_amp"] = (
            (_dir_bytes(data) + _dir_bytes(data + "__log")) / res.gen_bytes
            if res.gen_bytes else 0.0)

    mc = "sources.microcommit."
    for fn in MICRO_FNS:
        out[f"{mc}{fn}.self_s"] = per_call(mc + fn, "self_s")
    mat = named(mc + "materialize_micro")
    out[mc + "hit_ratio"] = (
        sum(bool(s.extra.get("hit")) for s in mat) / len(mat) if mat else 0.0)

    rd = "sources.reader."
    out[rd + "read_dt_range.self_s"] = per_call(rd + "read_dt_range", "self_s")
    out[rd + "read_dt_range.jobs"] = per_call(rd + "read_dt_range", "jobs")
    out[rd + "to_pandas.self_s"] = per_call(rd + "to_pandas", "self_s")
    for op in ("operators.ohlc.session_ohlc", "operators.asof.asof_join_nearest"):
        out[op + ".act_s"] = per_call(op + ".act", "total_s")
    for m in QUERY_MODULES:
        q = f"queries.{m}"
        out[q + ".build_s"] = per_call(q + ".build", "total_s")
        out[q + ".act_s"] = per_call(q + ".act", "total_s")
        for k in ("jobs", "stages", "tasks"):
            out[f"{q}.{k}"] = per_call(q, k)

    # tracing overhead: traced minus untraced median latency of the
    # headline operation, per operation kind (backfill has one kind per
    # batch size), averaged over the kinds that have both
    diffs, pcts = [], []
    for kind in {o.kind for o in tracer.ops}:
        if not kind.startswith(HEADLINE_KIND[ctx.workload]):
            continue
        lat = {True: [], False: []}
        for o in tracer.ops:
            if o.kind == kind and o.end:
                lat[o.traced].append(o.end - o.start)
        if lat[True] and lat[False]:
            t, u = harness.median(lat[True]), harness.median(lat[False])
            diffs.append(t - u)
            pcts.append(100.0 * (t - u) / u)
    if diffs:
        out["trace.overhead_s"] = sum(diffs) / len(diffs)
        out["trace.overhead_pct"] = sum(pcts) / len(pcts)
    out.update({k: v for k, v in res.layers.items() if k in out})
    return out


HEADLINE_KIND = {
    "stream_ingest": "commit", "backfill": "batch", "read_mostly": "read",
    "registry": "query",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def run_one(args) -> dict:
    state = harness.machine_state()
    with harness.Workdir(args.workload) as wd:
        harness.require_package()
        import workloads as W
        from spans import Tracer

        tracer = spark = None
        if args.trace:
            tracer = Tracer(every=2)
            install_wrappers(tracer)
        try:
            if tracer is not None:
                with tracer.span("session.start"):
                    spark = harness.start_spark(wd, args.cores)
                tracer.sc = spark.sparkContext
            else:
                spark = harness.start_spark(wd, args.cores)
            state["driver_heap"] = harness.driver_heap(spark)
            ctx = W.Ctx(args.workload, spark, wd, args.seed, float(args.seconds),
                        tracer, T_START)
            res = W.WORKLOADS[args.workload](ctx)
            py_rss = harness.py_peak_rss_mb()
            for k, v, unit in (
                ("peak_rss_mb", harness.peak_rss_mb(spark), "MB"),
                ("jvm_heap_peak_mb", harness.jvm_heap_peak_mb(spark), "MB"),
                ("jvm_gc_s", harness.jvm_gc_s(spark), "s"),
            ):
                res.detail[k] = (v, unit)
                res.layers[f"session.{k}"] = v
            layers = layer_metrics(tracer, res, ctx) if tracer is not None else {}
        finally:
            if tracer is not None:
                tracer.unwrap_all()
            if spark is not None:
                harness.stop_spark(spark)
    lat = res.op_lat
    e2e = {
        "setup_s": res.setup_s,
        "py_peak_rss_mb": py_rss,
        "op_s_p50": harness.median(lat),
        "op_s_p90": harness.quantile(lat, 0.9),
        "work_per_s": res.work / res.work_s if res.work_s else 0.0,
    }
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": args.cores, "machine": state,
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed, "op_samples": len(lat),
        "error_rate": res.failed / res.attempted if res.attempted else 1.0,
        "end_to_end": e2e, "detail": res.detail, "per_layer": layers,
    }


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(rec: dict) -> None:
    """Human-readable lines, the run record file, then the result line."""
    wl = rec["workload"]
    print(f"# {wl} seed={rec['seed']} cores={rec['cores']} machine={rec['machine']}")
    print(f"{wl} error_rate {_fmt(rec['error_rate'])} ratio "
          f"({rec['failed']}/{rec['attempted']})")
    for k, v in rec["end_to_end"].items():
        n = f" (n={rec['op_samples']})" if k.startswith("op_s") else ""
        print(f"{wl} {k} {_fmt(v)} {E2E[k]}{n}")
    for k, (v, unit) in rec["detail"].items():
        print(f"{wl} {k} {_fmt(v)} {unit}")
    for k, v in rec["per_layer"].items():
        print(f"{wl} {k} {_fmt(v)} {PER_LAYER[k]}")
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{wl}-seed{rec['seed']}-trace{rec['trace']}-{int(time.time())}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    metrics = rec["per_layer"] if rec["trace"] else rec["end_to_end"]
    units = PER_LAYER if rec["trace"] else E2E
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {
            k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
            for k, v in metrics.items()
        },
    }))


def run_all(args) -> int:
    """Each workload in its own child process, then one table."""
    import workloads as W

    recs = []
    for wl in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cores", str(args.cores)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.splitlines()
        print("\n".join(lines[:-1]))
        if p.returncode != 0 or not lines:
            print(f"# {wl} exited {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        recs.append((wl, json.loads(lines[-1])))
    print(f"{'workload':<14} {'metric':<48} {'value':>14} unit")
    for wl, r in recs:
        print(f"{wl:<14} {'error_rate':<48} {r['failed'] / r['attempted']:>14.6g} ratio")
        for k, m in r["metrics"].items():
            v = m["value"]
            print(f"{wl:<14} {k:<48} {v if v is None else format(v, '.6g'):>14} {m['unit']}")
    ok = all(r["correct"] for _, r in recs)
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for _, r in recs),
        "failed": sum(r["failed"] for _, r in recs),
        "workloads": {wl: r["metrics"] for wl, r in recs},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    import workloads as W

    ap.add_argument("--workload", required=True, choices=[*W.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    try:
        rec = run_one(args)
    except harness.MissingProgram as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 2
    report(rec)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
