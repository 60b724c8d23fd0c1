"""Local simulation of the driver's correctness gate: run every
__spark_entry__ query at sf0.01 and compare against its DuckDB oracle
(row count + column names + order-insensitive values).

Usage:
    python scripts/check_contract.py                 # all queries
    python scripts/check_contract.py q1 q2 ...       # only the named ones
    python scripts/check_contract.py --stale-first N # the N least-recently
        driver-verified queries (reads the CORRECTNESS_r*.json files the
        driver writes, same staleness order as the queries() rotation) —
        one command reproduces the judge's "check what the driver window
        hasn't seen" sweep. A full no-arg run is the pre-snapshot gate.

The session runs with ``spark.sql.codegen.fallback=false``: a query whose
generated code fails to compile (e.g. a projection past the JVM's 64 KB
method limit) fails its row instead of silently running interpreted, and
the summary counts those rows as codegen-failed. It also lists, report-only,
the rows whose executed plan scans a Python RDD (``Scan ExistingRDD``, what
``createDataFrame`` over a Python list or pandas frame plans to): every
action over such a row starts Python workers.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import threading
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spark_layers import driver_mem_mb, host_cores, host_mem_mb  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
#: what a whole-stage codegen compile failure looks like in a Spark error
CODEGEN_FAILURE = re.compile(r"InternalCompilerException|Code grows beyond|failed to compile")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and pd.isna(v)) else v)
        df[c] = df[c].map(lambda v: repr(round(v, 9)) if isinstance(v, float) else repr(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def dir_mb(path: str) -> float:
    total = 0
    for e in os.scandir(path):
        try:
            total += e.stat().st_size
        except FileNotFoundError:  # DuckDB dropped the spill file meanwhile
            pass
    return total / 2**20


def run_oracle(con, sql: str, spill_dir: str, spill_mb: int) -> pd.DataFrame:
    """One oracle statement, interrupted once its spill passes ``spill_mb``:
    DuckDB 1.0 spilled the audio oracles past ``max_temp_directory_size``."""
    done, tripped = threading.Event(), threading.Event()

    def watch():
        while not done.wait(1.0):
            if dir_mb(spill_dir) > spill_mb:
                tripped.set()
                con.interrupt()
                return

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        return con.execute(sql).fetchdf()
    except duckdb.Error:
        if tripped.is_set():
            raise RuntimeError(f"spill passed {spill_mb} MB") from None
        raise
    finally:
        done.set()
        watcher.join()


def main() -> int:
    from pyspark.sql import SparkSession

    # Spark and DuckDB each get the host's cores and a quarter of its RAM;
    # DuckDB spills past its limit into .tmp/, up to a quarter of the free
    # disk, and an oracle that needs more fails instead of filling the host
    cores, mem_mb = host_cores(), driver_mem_mb(host_mem_mb())
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("check-contract")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.sql.codegen.fallback", "false")
        .getOrCreate()
    )
    import __spark_entry__ as entry_mod

    spill_dir = os.path.join(ROOT, ".tmp", "duckdb")
    os.makedirs(spill_dir, exist_ok=True)
    spill_mb = shutil.disk_usage(spill_dir).free // 4 >> 20
    con = duckdb.connect(
        config={
            "memory_limit": f"{mem_mb}MB",
            "threads": cores,
            "temp_directory": spill_dir,
        }
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    argv = sys.argv[1:]
    if argv[:1] == ["--stale-first"]:
        n = int(argv[1]) if len(argv) > 1 else 50
        # queries() is already rotated stalest-first after the pinned core;
        # skip the pinned 9 so --stale-first targets the actual backlog
        backlog = [k for k in qs if k not in entry_mod._PINNED_CORE]
        only = backlog[:n]
        print(f"stale-first {n}: {only}")
    else:
        only = argv
    failures = []
    codegen_failed = []
    rdd_scans = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            if "Scan ExistingRDD" in df._jdf.queryExecution().executedPlan().toString():
                rdd_scans.append(name)
            sdf = df.toPandas()
        except Exception as e:
            failures.append(name)
            if CODEGEN_FAILURE.search(str(e)):
                codegen_failed.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, {t1 - t0:.1f}s)")
            continue
        try:
            odf = run_oracle(con, oracles[name], spill_dir, spill_mb)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error {str(e)[:300]}")
            continue
        a, b = norm(sdf), norm(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            continue
        if not a.equals(b):
            failures.append(name)
            diff = (a != b).any(axis=1)
            print(f"FAIL  {name}: value mismatch ({int(diff.sum())} rows)")
            print("  spark:", a[diff].head(3).to_dict("records"))
            print("  oracle:", b[diff].head(3).to_dict("records"))
            continue
        print(f"OK    {name}: {len(a)} rows match ({t1 - t0:.1f}s spark)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    print(
        f"{len(codegen_failed)} codegen-failed"
        + (f": {codegen_failed}" if codegen_failed else "")
    )
    print(f"{len(rdd_scans)} python-rdd-scan" + (f": {rdd_scans}" if rdd_scans else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
