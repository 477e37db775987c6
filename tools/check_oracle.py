#!/usr/bin/env python3
"""Dev-only pre-validation of SparkEntry.oracleSql against Verify output.

Mirrors the driver's t2 gate: run each oracle SQL in DuckDB over the same
parquet fixture tables, compare to the Spark result parquet written by
`graft.Verify` (columns sorted by name, rows sorted, exact values).

Usage: python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
NOT part of the shipped library (driver-side python only).

Resource bounds, so the check runs on a 15 GB host: DuckDB gets a memory
limit and spills to a temp dir outside the checkout (removed on exit). A
watchdog interrupts a query once the spill or the process RSS outgrows its
cap (`memory_limit` bounds only DuckDB's buffer pool, and duckdb 1.0 does
not enforce `max_temp_directory_size`). An interrupted or out-of-memory
query is run once more with DuckDB's join-order optimizer off: for the
pagerank oracles (q160, q201) it picks a shingle self-join on the shared
shingle before the doc-pair filter, which spilled past 20 GB, while the
written join order finishes in under a minute. The SQL and the comparison
are unchanged.
"""
import sys, os, json, glob, shutil, tempfile, threading
import duckdb

MEMORY_LIMIT = "6GB"
SPILL_CAP = 8 << 30
RSS_CAP = 9 << 30

def main(sf_dir, out_dir):
    spill = tempfile.mkdtemp(prefix="check_oracle_spill_")
    try:
        return check(sf_dir, out_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)

def watch(con, spill, stop):
    page = os.sysconf("SC_PAGE_SIZE")
    while not stop.wait(0.2):
        rss = int(open("/proc/self/statm").read().split()[1]) * page
        used = 0
        for f in glob.glob(os.path.join(spill, "*")):
            try:
                used += os.path.getsize(f)
            except OSError:
                pass  # a temp file deleted while listing
        if rss > RSS_CAP or used > SPILL_CAP:
            con.interrupt()

def fetch(con, sql):
    try:
        return con.execute(sql).fetchdf()
    except (duckdb.InterruptException, duckdb.OutOfMemoryException,
            duckdb.IOException):
        con.execute("SET disabled_optimizers = 'join_order'")
        try:
            return con.execute(sql).fetchdf()
        finally:
            con.execute("RESET disabled_optimizers")

def check(sf_dir, out_dir, spill):
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": spill})
    stop = threading.Event()
    watchdog = threading.Thread(target=watch, args=(con, spill, stop))
    watchdog.start()
    try:
        return compare(con, sf_dir, out_dir)
    finally:
        stop.set()
        watchdog.join()

def compare(con, sf_dir, out_dir):
    for t in ["lineitem", "orders", "customer", "supplier", "part", "nation",
              "region", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark result parquet"); n_fail += 1; continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = fetch(con, sql)
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
        # the driver's hash compare is TYPE-sensitive (r1 lesson: DuckDB
        # sum(BIGINT) widens to HUGEINT → hash mismatch on equal values).
        # r1 evidence: integer-WIDTH mismatches (int32 vs int64) still
        # hash-matched, so only kind-level divergence (int vs float/object,
        # i.e. HUGEINT/DECIMAL leakage) is a FAIL.
        def kind(dt):
            return "i" if dt.kind in "iu" else dt.kind
        bad_types = [f"{c}: spark={got[c].dtype} oracle={want[c].dtype}"
                     for c in got.columns
                     if kind(got[c].dtype) != kind(want[c].dtype)]
        if bad_types:
            print(f"FAIL {name}: dtype mismatch — " + "; ".join(bad_types))
            n_fail += 1; continue
        gs = got.sort_values(by=list(got.columns), ignore_index=True)
        ws = want.sort_values(by=list(want.columns), ignore_index=True)
        try:
            import pandas.testing as pdt
            pdt.assert_frame_equal(gs, ws, check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: {str(e).splitlines()[-1][:300]}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
