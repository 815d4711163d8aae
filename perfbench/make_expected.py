"""Rebuild ``registry_expected.json``: the registry workload's query sample
and the expected output of every sampled query.

Every query of ``__spark_entry__.queries()`` is run once on the bundled
sf0.01 tables (``data/sf0.01``, a copy of the oracle's scale): built,
evaluated with a ``noop`` write (timed, warm), then collected and hashed
with ``tools/check_oracle.py``'s ``canon``.  The same hash is taken of the
query's DuckDB oracle SQL.  Only queries whose Spark result equals the
oracle's are eligible for the sample, so the expected file holds oracle
values, never values the program under test produced.

The sample has two strata.  By module: from each of the seven
``queries.*`` modules one query drawn at random (fixed ``SAMPLE_SEED``)
from those whose warm build + action time on the machine that ran this
script is at most ``MAX_QUERY_S`` (the module's cheapest if none is);
these give the median.  By cost: ``SLOW_N`` more drawn from the slowest
quarter of all eligible queries, which holds about 60% of the registry's
time and its heavy join and DECIMAL plans; these give ``registry_s`` most
of its time and the p90.  ``SLOW_N`` is what fits a warm-up pass and one
timed pass of the sample in a benchmark run.  The sample is fixed in the
file; a benchmark run's ``--seed`` only shuffles its order, which keeps
runs with different seeds comparable.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

SAMPLE_SEED = 20261017
MAX_QUERY_S = 0.6
SLOW_N = 2
EXPECTED = os.path.join(HERE, "registry_expected.json")


def main() -> int:
    write_expected(run_registry())
    return 0


def run_registry() -> dict[str, dict]:
    """Run, time and hash every query; compare with its DuckDB oracle."""
    with harness.Workdir("make_expected") as wd:
        harness.require_package()
        import duckdb

        import __spark_entry__ as E
        from tools.check_oracle import canon

        spark = harness.start_spark(wd, cores=4)
        con = duckdb.connect()
        for t in harness.SF_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{harness.SF_DIR}/{t}.parquet'"
            )
        qs, oracles = E.queries(), E.oracle_sql()
        prof: dict[str, dict] = {}
        for name in sorted(qs):
            rec: dict = {"module": qs[name].__module__, "ok": False}
            prof[name] = rec
            try:
                t0 = time.perf_counter()
                df = qs[name](spark, harness.SF_DIR)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rows, cols, h = canon(qs[name](spark, harness.SF_DIR).toPandas())
            except Exception as ex:  # noqa: BLE001 — record and go on
                rec["err"] = f"spark: {ex}"[:200]
                continue
            rec.update(build_s=t1 - t0, act_s=t2 - t1, rows=rows, cols=cols,
                       hash=h)
            if name in oracles:
                try:
                    drows, dcols, dh = canon(con.execute(oracles[name]).df())
                except Exception as ex:  # noqa: BLE001
                    rec["err"] = f"duckdb: {ex}"[:200]
                    continue
                rec["ok"] = (rows, cols, h) == (drows, dcols, dh)
            print(f"{name}: {t2 - t0:.2f}s ok={rec['ok']}", file=sys.stderr)
        harness.stop_spark(spark)
    return prof


def write_expected(prof: dict[str, dict]) -> None:
    """Draw the stratified sample and write its expected outputs."""
    rng = random.Random(SAMPLE_SEED)
    by_mod: dict[str, list[str]] = {}
    for name, rec in sorted(prof.items()):
        if rec["ok"]:
            by_mod.setdefault(rec["module"], []).append(name)
    cost = lambda n: prof[n]["build_s"] + prof[n]["act_s"]  # noqa: E731
    sample = []
    for mod in sorted(by_mod):
        names = sorted(by_mod[mod], key=cost)
        cheap = [n for n in names if cost(n) <= MAX_QUERY_S] or names[:1]
        sample.append(rng.choice(cheap))
    ranked = sorted((n for names in by_mod.values() for n in names), key=cost)
    slow = [n for n in ranked[len(ranked) * 3 // 4:] if n not in sample]
    sample += rng.sample(slow, SLOW_N)
    doc = {
        "sample_seed": SAMPLE_SEED,
        "max_query_s": MAX_QUERY_S,
        "slow_n": SLOW_N,
        "slow_stratum": "slowest quarter of all eligible queries",
        "queries": {
            n: {
                "module": prof[n]["module"],
                "profile_s": round(cost(n), 2),
                "rows": prof[n]["rows"],
                "cols": prof[n]["cols"],
                "hash": prof[n]["hash"],
            }
            for n in sorted(sample)
        },
    }
    with open(EXPECTED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(sample)} queries -> {EXPECTED}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(main())
