#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB against the raw
tables in <sfDir>, and compares: row count, column names/types, and values
(columns sorted by name, rows sorted by all columns, doubles compared exactly
after float64 cast — mirroring a hash compare).

The DuckDB side runs in a worker process, under DuckDB's memory_limit
(ORACLE_MEMORY_LIMIT), a hard cap on the worker's resident memory
(ORACLE_RSS_CAP_BYTES) and a per-query timeout (ORACLE_TIMEOUT_S). A query
that breaks a limit, or a worker that dies, is a FAIL with the reason; the
worker is restarted and the remaining queries are still checked.
"""
import sys, json, glob, os, pickle, select, shutil, subprocess, tempfile, time
import duckdb
import pandas as pd
import numpy as np

ORACLE_MEMORY_LIMIT = "3GB"
ORACLE_RSS_CAP_BYTES = 6 * 2**30
ORACLE_TIMEOUT_S = 300

def load_tables(con, sf_dir):
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

def rss_bytes(pid):
    """Resident set size of a live process, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def worker_main(sf_dir, out_dir, result_path):
    """Run oracle queries named one per stdin line; for each, pickle the
    result to `result_path` and answer `ok`, or answer `err <message>`."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{ORACLE_MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory='{os.path.dirname(result_path)}'")
    load_tables(con, sf_dir)
    for line in sys.stdin:
        try:
            df = con.execute(oracle[line.strip()]).df()
            with open(result_path, "wb") as fh:
                pickle.dump(df, fh)
            print("ok", flush=True)
        except Exception as e:
            print("err " + " ".join(str(e).split()), flush=True)


class OracleWorker:
    """One worker process at a time, replaced whenever a query kills it or
    breaks a limit."""

    def __init__(self, sf_dir, out_dir, timeout_s=ORACLE_TIMEOUT_S,
                 rss_cap=ORACLE_RSS_CAP_BYTES):
        self.args = (sf_dir, out_dir)
        self.timeout_s, self.rss_cap = timeout_s, rss_cap
        self.tmp = tempfile.mkdtemp(prefix="check_oracle_")
        self.result = os.path.join(self.tmp, "result.pkl")
        self.proc = None

    def _start(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", *self.args, self.result],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1)

    def _kill(self):
        if self.proc is not None:
            self.proc.kill()
            self.proc.wait()
            self.proc = None

    def run(self, name):
        """(DataFrame, None) or (None, reason)."""
        if self.proc is None:
            self._start()
        self.proc.stdin.write(name + "\n")
        self.proc.stdin.flush()
        deadline = time.monotonic() + self.timeout_s
        while True:
            ready, _, _ = select.select([self.proc.stdout], [], [], 0.2)
            if ready:
                line = self.proc.stdout.readline()
                if not line:
                    rc = self.proc.wait()
                    self.proc = None
                    return None, f"oracle worker died (exit {rc}{', killed by signal' if rc < 0 else ''})"
                status, _, msg = line.rstrip("\n").partition(" ")
                if status != "ok":
                    return None, f"oracle SQL error: {msg}"
                with open(self.result, "rb") as fh:
                    return pickle.load(fh), None
            rss = rss_bytes(self.proc.pid)
            if rss > self.rss_cap:
                self._kill()
                return None, (f"oracle exceeded memory: worker RSS {rss / 2**30:.2f} GB "
                              f"> cap {self.rss_cap / 2**30:.2f} GB")
            if time.monotonic() > deadline:
                self._kill()
                return None, f"oracle timed out after {self.timeout_s} s"

    def close(self):
        self._kill()
        shutil.rmtree(self.tmp, ignore_errors=True)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df

def compare(name, spark_df, duck_df):
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
    if problems:
        return problems
    a, b = canon(spark_df), canon(duck_df)
    for col in a.columns:
        av, bv = a[col], b[col]
        try:
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                av = av.astype("float64"); bv = bv.astype("float64")
                eq = (av.values == bv.values) | (av.isna().values & bv.isna().values)
            else:
                eq = (av.astype(object).values == bv.astype(object).values) | \
                     (pd.isna(av).values & pd.isna(bv).values)
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(f"col {col}: {int((~eq).sum())} diffs, first row {i}: spark={a[col].iloc[i]!r} duck={b[col].iloc[i]!r}")
        except Exception as e:
            problems.append(f"col {col}: compare error {e}")
    # dtype visibility (schema check analog). An integer-vs-float mismatch is
    # a HARD failure: the driver's hash gate renders the columns differently
    # even when values are numerically equal (the exact class that shipped
    # q_degree_distribution red in r9 — DuckDB windowed SUM(BIGINT) → HUGEINT
    # → float64 in pandas vs Spark int64).
    for col in a.columns:
        if str(a[col].dtype) != str(b[col].dtype):
            ka, kb = a[col].dtype.kind, b[col].dtype.kind
            if ("f" in (ka, kb)) and (ka != kb):
                problems.append(f"DTYPE-FAIL {col}: spark={a[col].dtype} duck={b[col].dtype} (int-vs-float reaches the driver hash gate differently)")
            else:
                problems.append(f"DTYPE-WARN {col}: spark={a[col].dtype} duck={b[col].dtype}")
    return problems

def main():
    # optional 3rd arg: write a judge-readable JSON artifact
    # {query: {"pass": bool, "spark_rows": n, "oracle_rows": n, "problems": [...]}}
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    worker = OracleWorker(sf_dir, out_dir)
    n_pass = n_fail = 0
    report = {}
    result_dirs = sorted(d for d in os.listdir(out_dir)
                         if os.path.isdir(os.path.join(out_dir, d)))
    for name in result_dirs:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            report[name] = {"pass": False, "spark_rows": 0, "oracle_rows": None,
                            "problems": ["no spark output"]}
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            print(f"rows {name}: {len(spark_df)} rows (no oracle — rows-only)")
            continue
        duck_df, err = worker.run(name)
        if err is not None:
            report[name] = {"pass": False, "spark_rows": len(spark_df),
                            "oracle_rows": None, "problems": [err]}
            print(f"FAIL {name}: {err}", flush=True); n_fail += 1; continue
        problems = compare(name, spark_df, duck_df)
        hard = [p for p in problems if not p.startswith("DTYPE-WARN")]
        report[name] = {"pass": not hard, "spark_rows": len(spark_df),
                        "oracle_rows": len(duck_df), "problems": hard}
        if hard:
            print(f"FAIL {name}: " + "; ".join(problems)); n_fail += 1
        else:
            warn = "; ".join(p for p in problems if p.startswith("DTYPE-WARN"))
            print(f"PASS {name} ({len(spark_df)} rows)" + (f" [{warn}]" if warn else ""))
            n_pass += 1
    worker.close()
    missing = sorted(set(oracle) - set(result_dirs))
    for name in missing:
        report[name] = {"pass": False, "spark_rows": 0, "oracle_rows": None,
                        "problems": ["oracle declared but no spark output"]}
        print(f"FAIL {name}: oracle declared but no spark output"); n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                       "queries": dict(sorted(report.items()))}, f, indent=1)
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--worker":
        worker_main(*sys.argv[2:])
    else:
        main()
