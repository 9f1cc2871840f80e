#!/usr/bin/env python3
"""Dev-only cross-check harness (mimics the driver's DuckDB oracle compare).

Usage: python3 tools/crosscheck.py <sfDir> <verifyOutDir>

Runs each oracle_sql.json query in DuckDB over the sfDir parquet tables and
compares against the Spark result parquet written by graft.Verify:
row count, column names/dtypes, and exact value equality after sorting
columns by name. NOT part of the shipped engine — the engine is pure Scala.
"""
import json, sys, glob, os, atexit, shutil, tempfile, threading
import duckdb
import pandas as pd

# one spill dir per RUN (not per PID): unique via mkdtemp so a recycled
# PID never inherits a crashed run's leftovers, and removed at exit so
# repeated big-fixture crosschecks don't accumulate stale dirs in $TMPDIR
_SPILL_DIR = None

def _spill_dir() -> str:
    global _SPILL_DIR
    if _SPILL_DIR is None:
        _SPILL_DIR = tempfile.mkdtemp(prefix="duck_spill_")
        atexit.register(shutil.rmtree, _SPILL_DIR, ignore_errors=True)
    return _SPILL_DIR

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)

def connect(sf_dir: str):
    con = duckdb.connect()
    # big-fixture replays (sf1/sf10) can push DuckDB past the VM's RAM
    # when run alongside a Spark JVM; a memory_limit makes it spill to
    # temp disk instead of getting OOM-killed mid-gate
    mem = os.environ.get("GRAFT_DUCK_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
        # per-run spill dir: DuckDB temp filenames are only unique within
        # a process, so two concurrent crosschecks sharing one dir delete
        # each other's files and abort
        con.execute(f"SET temp_directory='{_spill_dir()}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main(sf_dir: str, out_dir: str, json_out: str = None) -> int:
    report = {}
    # fresh connection per query when a memory cap is set: DuckDB's spill
    # temp files are released only when the connection closes, so one
    # shared connection accumulates every prior oracle's spill and later
    # queries fail on disk space, not on merit
    per_query = bool(os.environ.get("GRAFT_DUCK_MEM"))
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if per_query:
            con.close()
            con = connect(sf_dir)
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        def rec(err=None, rows=None, schema=None, rows_m=None, hashes=None):
            # per-stage verdicts: None = stage not reached (earlier stage failed)
            report[name] = {"rows_match": rows_m, "schema_match": schema,
                            "hash_match": hashes, "spark_rows": rows, "err": err}
        if not spark_files:
            print(f"FAIL {name}: no spark result"); rec("no spark result"); n_bad += 1; continue
        # optional per-oracle wall-clock budget (GRAFT_DUCK_TIMEOUT, sec):
        # a big-fixture gate must record "oracle over budget" and move on
        # instead of hanging the whole run on one corpus-sized replay
        timeout = float(os.environ.get("GRAFT_DUCK_TIMEOUT", "0") or 0)
        timer = None
        timed_out = threading.Event()
        if timeout > 0:
            def _interrupt(c=con):
                timed_out.set()
                c.interrupt()
            timer = threading.Timer(timeout, _interrupt)
            timer.start()
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in spark_files]))
            want = norm(con.execute(sql).df())
        except Exception as e:
            if timed_out.is_set():
                print(f"TIMEOUT {name}: oracle exceeded {timeout:.0f}s")
                rec(f"oracle_timeout_{timeout:.0f}s"); n_bad += 1
            else:
                print(f"FAIL {name}: {e}"); rec(str(e)[:300]); n_bad += 1
            continue
        finally:
            if timer:
                timer.cancel()
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}"); rec("schema mismatch", len(got), schema=False); n_bad += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); rec(f"rows {len(got)} vs {len(want)}", len(got), schema=True, rows_m=False); n_bad += 1; continue
        mismatch = None
        for c in got.columns:
            a, b = got[c], want[c]
            # Driver's compare hashes typed values: int64 vs float64 (e.g.
            # DuckDB HUGEINT SUM -> float64) hash-mismatches even when the
            # values are equal. Enforce post-norm dtype equality here so the
            # local gate predicts the driver's verdict.
            if str(a.dtype) != str(b.dtype):
                mismatch = f"col {c}: dtype {a.dtype} vs {b.dtype}"
                break
            try:
                eq = (a.isna() & b.isna()) | (a == b)
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                mismatch = f"col {c} row {i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r} (dtypes {a.dtype}/{b.dtype})"
                break
        if mismatch:
            print(f"FAIL {name}: {mismatch}"); rec(mismatch, len(got), schema=True, rows_m=True, hashes=False); n_bad += 1
        else:
            print(f"ok   {name} ({len(got)} rows)"); rec(None, len(got), schema=True, rows_m=True, hashes=True); n_ok += 1
    extra = [q for q in os.listdir(out_dir)
             if os.path.isdir(f"{out_dir}/{q}") and q not in oracle]
    for q in sorted(extra):
        n = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{out_dir}/{q}/*.parquet"))
        print(f"rows-only {q}: {n} rows")
        report[q] = {"rows_match": None, "schema_match": None, "hash_match": None,
                     "spark_rows": n, "err": "no_oracle"}
    print(f"== {n_ok} ok, {n_bad} fail, {len(extra)} rows-only ==")
    if json_out:
        json.dump(dict(sorted(report.items())), open(json_out, "w"), indent=1)
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
