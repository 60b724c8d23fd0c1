"""Benchmark inputs and the correctness gate.

Inputs are the repository's index-deterministic fixtures
(``fixture_io.ensure_fixture_pandas``), synthesized once per size into the
checkout's cache and never inside a timed phase. Each run fingerprints their
content and compares it with ``inputs.lock.json``; a mismatch stops the run,
so a change to the fixture generator cannot silently change the workload.

Expected results come from the repository's DuckDB oracles
(``__spark_entry__.oracle_sql()``), pointed at the benchmark's fixture
directory, reduced to per-(shape, is_valid) verdict counts.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
LOCK_PATH = os.path.join(HERE, "inputs.lock.json")
TABLES = ("clips", "transcripts", "ref_histograms", "images", "videos")

Counts = dict[tuple[str, bool], int]


class InputMismatch(RuntimeError):
    pass


def table_fingerprint(path: str) -> str:
    """sha256 of the table's rows as one Arrow IPC stream, schema metadata
    dropped — independent of parquet row-group layout and writer version."""
    t = pq.read_table(path)
    t = t.replace_schema_metadata(None).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def fingerprints(paths: dict[str, str]) -> dict[str, str]:
    return {t: table_fingerprint(paths[t]) for t in TABLES}


def check_lock(n_clips: int, paths: dict[str, str], lock_path: str = LOCK_PATH) -> None:
    """Raise InputMismatch unless every table matches the pinned fingerprint."""
    with open(lock_path) as fh:
        lock = json.load(fh)
    want = lock.get(str(n_clips))
    if want is None:
        raise InputMismatch(f"no pinned fingerprint for n={n_clips} in {lock_path}")
    got = fingerprints(paths)
    bad = sorted(t for t in TABLES if got[t] != want[t])
    if bad:
        raise InputMismatch(
            f"fixture content for n={n_clips} differs from {lock_path} in "
            f"{bad}: the generator changed, so this is a different workload"
        )


def oracle_sqls(fixture_dir: str, names: list[str]) -> dict[str, str]:
    """The named DuckDB oracle statements, reading ``fixture_dir`` instead of
    the contract's fixed-size fixture."""
    import __spark_entry__ as entry
    from shaclapi_spark import fixture_io

    contract_dir = os.path.dirname(fixture_io.fixture_paths(entry._ORACLE_N)["clips"])
    every = entry.oracle_sql()
    out = {}
    for name in names:
        sql = every[name]
        if contract_dir + "/" not in sql:
            raise InputMismatch(f"oracle {name!r} does not read the clip fixture")
        out[name] = sql.replace(contract_dir + "/", fixture_dir.rstrip("/") + "/")
    return out


def oracle_counts(sql: str) -> Counts:
    """Per-(shape, is_valid) verdict counts of one oracle statement."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT shape, is_valid, count(*) FROM ({sql}) GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    return {(shape, bool(valid)): int(n) for shape, valid, n in rows}


def drift_counts(fixture_dir: str, suite) -> Counts:
    """Per-(shape, is_valid) counts of the suite's ``__dataset__`` drift
    verdicts. DuckDB bins each constrained column of the fixture into its
    reference histogram's equal-width bins (NULLs dropped, out-of-range values
    clamped to the edge bins, as the ``drift_hist_dur`` oracle does for
    ``dur_ms``); ``ops.drift.ks_psi`` turns the fractions into the statistics
    the constraint bounds."""
    import duckdb
    import numpy as np

    from shaclapi_spark.ops.drift import ks_psi

    out: Counts = {}
    con = duckdb.connect()
    try:
        for shape in suite.shapes:
            for c in shape.constraints:
                if c.kind != "drift":
                    continue
                p = c.params
                if shape.target_filter:
                    raise InputMismatch(f"drift oracle: {shape.name} has a target filter")
                ref = con.execute(
                    "SELECT bin_lo, bin_hi, ref_frac FROM read_parquet(?) "
                    "WHERE column_name = ? ORDER BY bin_lo",
                    [os.path.join(fixture_dir, p.get("ref_table", "ref_histograms") + ".parquet"),
                     p["column"]],
                ).fetchall()
                lo, hi, n_bins = ref[0][0], ref[-1][1], len(ref)
                col = f'CAST("{p["column"]}" AS DOUBLE)'
                rows = con.execute(
                    f"SELECT least({n_bins - 1}, greatest(0, CAST(floor(({col} - {lo!r}) / "
                    f"{(hi - lo) / n_bins!r}) AS INT))) AS bin, count(*) "
                    f"FROM read_parquet(?) WHERE {col} IS NOT NULL GROUP BY 1",
                    [os.path.join(fixture_dir, shape.table + ".parquet")],
                ).fetchall()
                counts = np.zeros(n_bins)
                for b, n in rows:
                    counts[b] = n
                ks, psi = ks_psi(counts / counts.sum(), np.array([r[2] for r in ref]))
                ok = not (p.get("max_psi") is not None and psi > float(p["max_psi"])) and not (
                    p.get("max_ks") is not None and ks > float(p["max_ks"]))
                out[(shape.name, ok)] = out.get((shape.name, ok), 0) + 1
    finally:
        con.close()
    return out


def mismatch(expected: Counts, observed: Counts) -> str:
    """Empty when the counts agree, else a one-line description."""
    if expected == observed:
        return ""
    keys = sorted(set(expected) | set(observed))
    diff = [f"{k}: want {expected.get(k, 0)} got {observed.get(k, 0)}"
            for k in keys if expected.get(k, 0) != observed.get(k, 0)]
    return "; ".join(diff)


if __name__ == "__main__":
    # print the fingerprints to pin for the given fixture sizes:
    #   python3 -m perfbench.inputs 150000 2000
    import sys

    from shaclapi_spark import fixture_io

    root = os.path.join(os.path.dirname(HERE), ".perfbench_cache", "fixtures")
    print(json.dumps(
        {n: fingerprints(fixture_io.ensure_fixture_pandas(int(n), root=root))
         for n in sys.argv[1:]}, indent=2))
