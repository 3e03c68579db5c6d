"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin on the
same sf dir (default sf0.01) and compares row counts + column-sorted
value multisets. Usage::

    python tools/check_oracles.py [sf_dir] [--jobs N] [query ...]

``--jobs N`` checks N entries at once on one Spark session (each thread
with its own DuckDB cursor); timings are then contention-inflated.
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        # driver hashes values; emulate strict-but-reasonable float identity
        return round(v, 9)
    return v


def to_multiset(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def duckdb_memory_limit_mb() -> int:
    """Half of the memory available now (``MemAvailable``), at most 48 GB;
    48 GB where /proc/meminfo is unreadable. The other half is left to
    the Spark JVM and its Python workers."""
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return min(cap_mb, int(line.split()[1]) // 2048)  # kB -> MB, halved
    except OSError:
        pass
    return cap_mb


def main() -> int:
    args = sys.argv[1:]
    jobs = 1
    try:
        for i, a in enumerate(args):
            if a == "--jobs":
                jobs = int(args[i + 1])
                args = args[:i] + args[i + 2 :]
                break
            if a.startswith("--jobs="):
                jobs = int(a.split("=", 1)[1])
                args = args[:i] + args[i + 1 :]
                break
    except (IndexError, ValueError):
        print("usage: check_oracles.py [sf_dir] [--jobs N] [query ...]")
        return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # decomposition-oracle unroll bounds are measured from the sweep's
    # own SF (see __spark_entry__._oracle_sf_dir)
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entry_mod
    from giraph_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_ORACLE_CORES", "8"))
    spark = get_spark(app_name="check-entry", cores=cores, shuffle_partitions=8)

    con = duckdb.connect()
    # in-memory DuckDB cannot spill unless a temp_directory is set; the
    # sf0.1 trussness oracle's unrolled CTE chain pins >100 GiB of
    # materialized intermediates without it (observed OOM at the block
    # pin limit). A sub-RAM memory_limit makes it go out-of-core early
    # instead of dying at the wall — or being killed by the OS first.
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    limit_mb = duckdb_memory_limit_mb()
    con.execute(f"SET memory_limit='{limit_mb}MB'")
    print(f"duckdb memory_limit={limit_mb}MB")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # oracle_sql() measures the decomposition oracles' unroll bounds in
    # DuckDB, for every entry, before the first query runs
    t0 = time.time()
    qs = entry_mod.queries()
    t_queries = time.time() - t0
    t0 = time.time()
    oracles = entry_mod.oracle_sql()
    print(
        f"set-up: queries() {t_queries:.1f}s oracle_sql() {time.time() - t0:.1f}s", flush=True
    )

    def check_one(name, fn, cursor) -> tuple[bool, str]:
        """Run one queries() entry against its oracle; returns
        (ok, log_line). Safe to call from worker threads: the Spark
        session schedules concurrent jobs natively and ``cursor`` is a
        per-thread DuckDB cursor over the shared view catalog."""
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            return False, f"[FAIL-SPARK] {name}: {exc}"
        t_spark = time.time() - t0
        if name not in oracles:
            return True, f"[NO-ORACLE] {name}: rows={len(sdf)} spark={t_spark:.1f}s"
        t0 = time.time()
        try:
            odf = cursor.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            return False, f"[FAIL-SQL]  {name}: {exc}"
        t_sql = time.time() - t0
        scols, srows = to_multiset(sdf)
        ocols, orows = to_multiset(odf)
        if scols != ocols:
            return False, f"[FAIL-COLS] {name}: spark={scols} oracle={ocols}"
        if len(srows) != len(orows):
            return False, f"[FAIL-ROWS] {name}: spark={len(srows)} oracle={len(orows)}"
        bad = sum(1 for a, b in zip(srows, orows) if a != b)
        if bad:
            detail = ""
            for a, b in zip(srows, orows):
                if a != b:
                    detail = f"\n   spark={a}\n   duck ={b}"
                    break
            return False, f"[FAIL-VALS] {name}: {bad}/{len(srows)} rows differ{detail}"
        return True, (
            f"[OK]        {name}: rows={len(srows)} "
            f"spark={t_spark:.1f}s duckdb={t_sql:.1f}s"
        )

    todo = [(n, f) for n, f in qs.items() if not only or n in only]
    failures = []
    if jobs <= 1:
        for name, fn in todo:
            ok, line = check_one(name, fn, con)
            print(line, flush=True)
            if not ok:
                failures.append(name)
    else:
        # correctness-focused parallel sweep: per-query wall times are
        # inflated by contention and NOT comparable to jobs=1 logs
        import threading
        from concurrent.futures import ThreadPoolExecutor

        local = threading.local()

        def run(item):
            name, fn = item
            if not hasattr(local, "cur"):
                local.cur = con.cursor()
            return name, *check_one(name, fn, local.cur)

        print(f"# parallel sweep: jobs={jobs} (timings contention-inflated)")
        with ThreadPoolExecutor(max_workers=jobs) as pool:
            for name, ok, line in pool.map(run, todo):
                print(line, flush=True)
                if not ok:
                    failures.append(name)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
