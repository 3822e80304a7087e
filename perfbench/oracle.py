#!/usr/bin/env python3
"""Rebuild the DuckDB answers that query_mix is checked against.

    python3 perfbench/oracle.py

Builds the program if needed, asks it for `SparkEntry.oracleSql` of every
query in run.QUERY_MIX, runs each SQL text in DuckDB over perfbench/tables,
and writes the result, in the query's row order, to
perfbench/answers/<query>.parquet. The answers are computed apart from Spark;
run.py compares each query's last-round result with them.
"""
import json
import os
import shutil
import sys
import time

import duckdb

import run


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "oracle-%d" % os.getpid())
    os.makedirs(work)
    try:
        names = [q for q, _ in run.QUERY_MIX]
        _, sqls = run.run_jvm(cp, work, "dump_oracle", 0, 0, run.TABLES,
                              ["--queries", ",".join(names)], time.time())
        missing = [n for n in names if n not in sqls]
        if missing:
            raise run.BenchError("no oracle SQL for " + ", ".join(missing))
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in sorted(f[:-len(".parquet")] for f in os.listdir(run.TABLES)):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(run.TABLES, t + ".parquet")))
        shutil.rmtree(run.ANSWERS, ignore_errors=True)
        os.makedirs(run.ANSWERS)
        for n in names:
            t0 = time.time()
            out = os.path.join(run.ANSWERS, n + ".parquet")
            con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sqls[n], out))
            rows = con.sql("SELECT count(*) FROM read_parquet('%s')" % out).fetchone()[0]
            run.log("%s: %d rows in %.1f s" % (n, rows, time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except run.BenchError as e:
        run.log("error: " + str(e))
        sys.exit(2)
