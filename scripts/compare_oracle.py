#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped by
graft.Verify, run its DuckDB oracle SQL over the same parquet tables and
value-compare (rows / schema / exact symmetric diff on name-sorted columns).

Usage: python3 scripts/compare_oracle.py /tmp/vout /root/testdata/sf0.01

DuckDB spills into a private temporary directory, removed on exit. A
watchdog interrupts the running query once that directory holds more than
MAX_SPILL_BYTES, so a query that needs more disk reports ERR and the
remaining queries still compare. DuckDB's own max_temp_directory_size
does not bound every spill file: under a 1 GB setting, DuckDB 1.0 wrote
19 GB of temp files for q147 before the device filled.
"""
import json
import os
import shutil
import sys
import tempfile
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

MAX_SPILL_BYTES = 4 << 30


def connect(sfdir: str, tmp: str):
    con = duckdb.connect(config={"temp_directory": tmp})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    return con


def spill_bytes(tmp: str) -> int:
    n = 0
    for e in os.scandir(tmp):
        try:
            n += e.stat().st_blocks * 512
        except FileNotFoundError:  # a spill file removed while we scan
            pass
    return n


def main(vout: str, sfdir: str) -> int:
    tmp = tempfile.mkdtemp(prefix="compare_oracle_duckdb_")
    state = {"con": connect(sfdir, tmp)}
    over_cap = threading.Event()
    done = threading.Event()

    def watchdog():
        while not done.wait(0.2):
            if not over_cap.is_set() and spill_bytes(tmp) > MAX_SPILL_BYTES:
                over_cap.set()
                state["con"].interrupt()

    threading.Thread(target=watchdog, daemon=True).start()
    try:
        return compare(vout, sfdir, tmp, state, over_cap)
    finally:
        done.set()
        state["con"].close()
        shutil.rmtree(tmp, ignore_errors=True)


def compare(vout: str, sfdir: str, tmp: str, state: dict,
            over_cap: threading.Event) -> int:
    oracle = json.load(open(f"{vout}/oracle_sql.json"))
    failed = []
    for name, sql in sorted(oracle.items()):
        con = state["con"]
        try:
            spark = con.sql(
                f"SELECT * FROM read_parquet('{vout}/{name}/*.parquet')")
            ora = con.sql(sql)
            cols_s = sorted(spark.columns)
            cols_o = sorted(ora.columns)
            if cols_s != cols_o:
                print(f"FAIL {name}: schema {cols_s} vs {cols_o}")
                failed.append(name)
                continue
            sel = ", ".join(f'"{c}"' for c in cols_s)
            con.execute(f"CREATE OR REPLACE VIEW _s AS SELECT {sel} FROM spark")
            con.execute(f"CREATE OR REPLACE VIEW _o AS SELECT {sel} FROM ora")
            n_s = con.sql("SELECT count(*) FROM _s").fetchone()[0]
            n_o = con.sql("SELECT count(*) FROM _o").fetchone()[0]
            diff = con.sql(
                "SELECT count(*) FROM ((SELECT * FROM _s EXCEPT ALL SELECT * FROM _o)"
                " UNION ALL (SELECT * FROM _o EXCEPT ALL SELECT * FROM _s))"
            ).fetchone()[0]
            if n_s != n_o or diff != 0:
                print(f"FAIL {name}: rows {n_s} vs {n_o}, sym_diff={diff}")
                failed.append(name)
            else:
                print(f"ok   {name}: rows={n_s}")
        except Exception as e:  # noqa: BLE001 - report and continue
            if over_cap.is_set():
                e = f"spilled more than {MAX_SPILL_BYTES >> 30} GB to disk ({e})"
                # a fresh connection drops the interrupted query's spill
                con.close()
                state["con"] = connect(sfdir, tmp)
                over_cap.clear()
            print(f"ERR  {name}: {e}")
            failed.append(name)
            try:  # a failed statement leaves the implicit txn aborted;
                state["con"].execute("ROLLBACK")  # recover so later queries compare
            except Exception:  # noqa: BLE001 - nothing to roll back
                pass
    print(f"\n{len(oracle) - len(failed)}/{len(oracle)} green")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
