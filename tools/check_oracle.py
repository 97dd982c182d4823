#!/usr/bin/env python3
"""Dev-only emulation of the driver's correctness gate (NOT part of the
shipped library). Runs each oracle_sql.json query in DuckDB over the same
testdata parquet tables, loads the corresponding Spark result parquet dumped
by graft.Verify, and compares: column names (sorted), row counts, and exact
values after sorting rows. Usage:

    python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Env knobs for the sf0.1 self-audit (where some deliberately-quadratic
oracle forms exceed the sandbox's memory):
    ORACLE_MEM_LIMIT   duckdb memory_limit (default half of the box's
                       MemTotal) — a too-big oracle errors per-query
                       instead of OOM-killing the whole audit process
    ORACLE_TIMEOUT_S   per-query wall timeout in seconds (default 300);
                       the watchdog interrupts duckdb → FAIL, next query
"""
import json
import os
import sys
import glob
import threading

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    # Deliberately NO special-casing of list/ndarray cells: the driver's
    # comparator sorts by every column as-is and crashes on ndarray cells
    # (unhashable type) — queries must serialize arrays to strings. A
    # previous tuple-izing step here masked exactly that class of failure
    # (c02/e02, round 3).
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def repr_mismatch(got: pd.DataFrame, want: pd.DataFrame):
    """int-vs-float column representation differences break the driver's
    value hash even when every value compares equal (m02, round 3: DuckDB
    HUGEINT -> float64 vs Spark int64). Flag them."""
    bad = []
    for c in got.columns:
        g, w = got[c].dtype.kind, want[c].dtype.kind
        if {g, w} == {"i", "f"} or {g, w} == {"u", "f"}:
            bad.append(f"{c}: spark={got[c].dtype} oracle={want[c].dtype}")
    return bad


def default_mem_limit() -> str:
    """Half of the box's physical memory (MemTotal), as a duckdb memory_limit."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}MiB"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET memory_limit='%s'" % os.environ.get("ORACLE_MEM_LIMIT", default_mem_limit()))
    timeout_s = float(os.environ.get("ORACLE_TIMEOUT_S", "300"))
    for t in TABLES:
        # driver testdata is a single file; AuditSample's restricted
        # derivative is a Spark-written directory -> glob the part files
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result parquet")
            n_fail += 1
            continue
        got = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
        # Watchdog: run each query on its OWN cursor (shares con's catalog/
        # views) and interrupt that cursor only. The previous done-flag
        # guard narrowed but could not close the race — a timer firing
        # between execute() returning and the finally block taking the lock
        # interrupted the shared connection and poisoned the NEXT query. A
        # stale interrupt now lands on a cursor nothing will use again.
        cur = con.cursor()
        # session-local settings don't propagate from con to its cursors
        cur.execute("SET TimeZone='UTC'")
        done_lock = threading.Lock()
        done = [False]

        def _interrupt(c=cur):
            with done_lock:
                if not done[0]:
                    c.interrupt()

        timer = threading.Timer(timeout_s, _interrupt)
        timer.start()
        try:
            want = norm(cur.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        finally:
            with done_lock:
                done[0] = True
            timer.cancel()
            cur.close()
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        bad = repr_mismatch(got, want)
        if bad:
            print(f"FAIL {name}: int/float representation mismatch "
                  f"(breaks driver hash): {bad}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: values differ:\n{str(e)[:2000]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
