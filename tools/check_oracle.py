"""Local mimic of the driver's DuckDB-oracle correctness gate, and the
one oracle sweep every tool and test runs.

Runs each `queries()[name]` on Spark and `oracle_sql()[name]` on DuckDB
against the same sf dir, then compares row count, column-name schema, and
an order-insensitive canonical value dump. Exact match required; on
mismatch prints the first differing canonical rows plus a float near-miss
diagnosis (so half-even-vs-half-up / ulp issues are visible immediately).

`--budget S` arms a per-query watchdog: at S seconds it interrupts both
engines and records the query as TIMEOUT instead of blocking the sweep.
A handful of oracles are deliberately lossless all-pairs audits whose
DuckDB cost grows ~quadratically with document count, so at an
sf1-shape fixture one of them can grind for an hour. A TIMEOUT is not a
failure, but each one must be explained in the committed record
(ORACLE_sf1shape.md does).

`--probe` re-runs the sweep under a hostile session shape that catches
bugs the plain sweep hides (see PROBES).

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--cpus 8]
        [--budget SECONDS] [--probe layout|nocodegen|ansi] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import threading
import time

import duckdb

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


def _canon_factory():
    """Build canon_value as a CLOSURE (non-importable qualname) so
    cloudpickle ships it BY VALUE to executors — the streaming compare
    folds digests worker-side, and a module-level function pickled by
    reference dies there with ModuleNotFoundError when this file was
    imported under a path the workers don't have."""
    import datetime as dt
    import decimal
    import math

    def canon_value(v):
        if v is None:
            return "\x00null"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(v)
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
        if isinstance(v, int):
            return str(v)
        if isinstance(v, dt.datetime):
            return v.isoformat(sep=" ", timespec="microseconds")
        if isinstance(v, dt.date):
            return v.isoformat()
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon_value(x) for x in v) + "]"
        return str(v)

    return canon_value


canon_value = _canon_factory()


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon_value(r[i]) for i in order) for r in rows)
    return sorted(cols), out


def _multiset_fold(cols, rows_iter):
    """Order-insensitive digest of a row stream: (count, sum of 128-bit
    blake2b digests of each canonical row). Multiset equality via a
    commutative fold, so neither side ever has to hold (or sort) the
    full result — the fix for >1 GiB results tripping
    spark.driver.maxResultSize inside the COMPARISON harness (the
    round-6 sf1-shape sweep failed dedup_simhash this way with zero
    values actually differing)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n = 0
    acc = 0
    for r in rows_iter:
        key = "\x01".join(canon_value(r[i]) for i in order)
        h = hashlib.blake2b(key.encode(), digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "big")) & ((1 << 160) - 1)
        n += 1
    return n, acc


def _duck_chunks(res):
    while True:
        chunk = res.fetchmany(65536)
        if not chunk:
            return
        yield from chunk


def _spark_multiset_fold(sdf):
    """The Spark side of the streaming compare folds ON THE EXECUTORS:
    each partition reduces to a 2-tuple (count, digest-sum), so the
    driver receives bytes proportional to the partition COUNT, never
    the result — toLocalIterator was not enough (Spark accounts its
    cumulative task results against maxResultSize too, which re-failed
    the 1 GiB case this path exists for). Canonicalization runs the
    same canon_value in the worker Python, so float repr semantics are
    identical to the collect path."""
    cols = sorted(sdf.columns)

    def part_fold(rows):
        n = 0
        acc = 0
        for r in rows:
            key = "\x01".join(canon_value(v) for v in r)
            h = hashlib.blake2b(key.encode(), digest_size=16).digest()
            acc = (acc + int.from_bytes(h, "big")) & ((1 << 160) - 1)
            n += 1
        yield (n, acc.to_bytes(20, "big"))

    parts = sdf.select(*cols).rdd.mapPartitions(part_fold).collect()
    n = sum(p[0] for p in parts)
    acc = sum(int.from_bytes(p[1], "big") for p in parts) & ((1 << 160) - 1)
    return n, acc


def compare_streaming(sdf, sql, con):
    """Bounded-memory compare: identical canonicalization to compare(),
    but folded incrementally — Spark partitions reduce to (count,
    digest) pairs on the executors and DuckDB rows stream through
    fetchmany chunks. No first-diff row dump (the result is too big to
    sort); count + 128-bit multiset digest decide."""
    scols = sdf.columns
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(
            f"schema mismatch: spark={sorted(scols)} oracle={sorted(ocols)}"
        )
        return problems
    sn, sh = _spark_multiset_fold(sdf)
    on, oh = _multiset_fold(ocols, _duck_chunks(res))
    if sn != on:
        problems.append(f"rowcount mismatch: spark={sn} oracle={on}")
    elif sh != oh:
        problems.append(
            f"multiset digest mismatch over {sn} rows "
            "(result too large for a first-diff dump; both counts equal)"
        )
    return problems


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(name, sdf, sql, con):
    scols = sdf.columns
    try:
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        # collect tripping the driver result cap is a harness limit,
        # not a wrongness signal — re-run the compare as a streamed
        # multiset-digest fold instead of failing the query
        if "maxResultSize" not in str(e):
            raise
        return compare_streaming(sdf, sql, con)
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema mismatch: spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount mismatch: spark={len(srows)} oracle={len(orows)}")
    if not problems:
        _, cs = canon_rows(scols, srows)
        _, co = canon_rows(ocols, orows)
        if cs != co:
            ndiff = sum(1 for a, b in zip(cs, co) if a != b)
            problems.append(f"value mismatch in {ndiff}/{len(cs)} canonical rows")
            shown = 0
            for a, b in zip(cs, co):
                if a != b and shown < 3:
                    problems.append(f"  spark : {a}")
                    problems.append(f"  oracle: {b}")
                    shown += 1
    return problems


#: --probe session shapes: (local cores or None for --cpus, confs set on
#: the session before the sweep)
PROBES = {
    # partition-order dependent float reductions, coalesce-sensitive plans
    "layout": (3, {"spark.sql.shuffle.partitions": "7"}),
    # interpreted vs codegen'd expression discrepancies (HOF folds)
    "nocodegen": (None, {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    }),
    # ANSI error semantics + a non-UTC zone: anything relying on
    # silent-NULL casts, lenient overflow or UTC-pinned timestamps
    # fails with an EXCEPTION row (queries must self-tune)
    "ansi": (None, {
        "spark.sql.ansi.enabled": "true",
        "spark.sql.session.timeZone": "America/New_York",
    }),
}


def sweep(spark, sf_dir: str, names, budget_s: float | None = None) -> dict:
    """Compare every query of `names` with its oracle against `sf_dir`,
    printing one OK/FAIL/WEAK/TIMEOUT line per query. Returns the
    ok/fail/weak counts, the timed-out names (`timeout`) and the
    `failures` ({name, problems}). With `budget_s` a watchdog interrupts
    both engines once a query runs past the budget."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    res = {"ok": 0, "fail": 0, "weak": 0, "timeout": [], "failures": []}
    with duck_connect(sf_dir) as con:
        for name in names:
            t0 = time.time()
            done = threading.Event()
            fired = threading.Event()

            def watchdog(done=done, fired=fired) -> None:
                # a single cancelAllJobs can land BETWEEN the many short
                # jobs an iterative driver-loop query submits (label
                # propagation, k-means rounds) and cancel nothing — so
                # keep interrupting every few seconds until the main
                # thread reports the query finished.
                # done/fired MUST be bound as defaults: the loop variables
                # rebind per query, and a late-binding closure re-reads
                # them — a round-8 sweep caught a timed-out query's
                # watchdog re-evaluating `done` against the NEXT query's
                # (unset) event and cancelAllJobs-killing an innocent
                # query 5s into its run
                wait = budget_s
                while not done.wait(wait):
                    fired.set()
                    try:
                        con.interrupt()
                    except Exception:  # noqa: BLE001
                        pass
                    try:
                        spark.sparkContext.cancelAllJobs()
                    except Exception:  # noqa: BLE001
                        pass
                    wait = 5

            if budget_s is not None:
                threading.Thread(target=watchdog, daemon=True).start()
            weak_rows = None
            try:
                sdf = qs[name](spark, sf_dir)
                if name in oracles:
                    problems = compare(name, sdf, oracles[name], con)
                else:
                    weak_rows = sdf.count()
            except Exception as e:  # noqa: BLE001
                problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
            finally:
                done.set()
            secs = f"({time.time() - t0:.1f}s)"
            if fired.is_set():
                # any verdict of an interrupted query is a partial artifact
                res["timeout"].append(name)
                print(f"TIMEOUT {name}: budget {budget_s:.0f}s exceeded "
                      f"{secs}", flush=True)
            elif weak_rows is not None:
                res["weak"] += 1
                print(f"WEAK  {name}: no oracle, rows={weak_rows} {secs}",
                      flush=True)
            elif problems:
                res["fail"] += 1
                res["failures"].append({"name": name, "problems": problems})
                print(f"FAIL  {name} {secs}", flush=True)
                for p in problems:
                    print(f"      {p}", flush=True)
            else:
                res["ok"] += 1
                print(f"OK    {name} {secs}", flush=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--budget", type=float, help="per-query seconds")
    ap.add_argument("--probe", choices=list(PROBES))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from weather_bigdata_project_spark.session import get_spark

    cpus, confs = PROBES[args.probe] if args.probe else (None, {})
    spark = get_spark("oracle-check", cpus=cpus or args.cpus)
    for k, v in confs.items():
        spark.conf.set(k, v)
    r = sweep(spark, args.sf, args.names or list(entrymod.queries()),
              args.budget)
    line = f"{r['ok']} ok, {r['fail']} fail, {r['weak']} weak (no oracle)"
    if args.budget is not None:
        line += f", {len(r['timeout'])} timeout"
        if r["timeout"]:
            line += ": " + ",".join(r["timeout"])
    if args.probe:
        line = f"probe={args.probe}: {line}"
    print(f"\n{line}")
    sys.exit(1 if r["fail"] else 0)


if __name__ == "__main__":
    main()
