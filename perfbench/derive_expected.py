#!/usr/bin/env python3
"""Derives `perfbench/expected.json`: the result fingerprint every batch op
must reproduce.

For each query with a DuckDB oracle (`SparkEntry.oracleSql`) the fingerprint
is computed from DuckDB's result over the generated tables; ops without an
oracle (Publisher calls, trained-index queries) are checked on row count
only, taken from one Spark execution. The n1 brute-force neighbours that the
recall checks compare against also come from DuckDB. Spark's own fingerprint
is printed next to each oracle one, so a disagreement shows here, once,
instead of as failures in every run. An oracle DuckDB cannot finish within
ORACLE_TIMEOUT_S and 3 GB falls back to the row-count check.

Run from the repository root: python3 perfbench/derive_expected.py
"""
import json
import multiprocessing
import os
import queue
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

N1 = "n1_ann_cosine_topk"
ORACLE_TIMEOUT_S = 120


def _oracle_worker(data, sql, out):
    con = duckdb.connect(config={"memory_limit": "3GB", "threads": 4})
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t[:-8], os.path.join(data, t)))
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    out.put((cols, rows, stats.fingerprint(cols, rows)))


def oracle(data, sql):
    """(columns, rows, fingerprint) of one oracle query, or None if DuckDB
    cannot finish it within the time and memory limits (it runs in a child
    process that is killed at the deadline)."""
    q = multiprocessing.Queue()
    p = multiprocessing.Process(target=_oracle_worker, args=(data, sql, q))
    p.start()
    try:
        return q.get(timeout=ORACLE_TIMEOUT_S)
    except queue.Empty:
        print("  oracle gave up")
        return None
    finally:
        p.kill()
        p.join()


def main():
    classes = run.build()
    data = run.data_dir()
    work = os.path.join(run.BUILD, "work", "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = run.harness(classes, "_derive", 0, 0, False, work, data, 1800)
    sqls = dict(rec["oracle"])
    out, disagree = {}, []
    for name, sp in sorted(rec["spark"].items()):
        got = oracle(data, sqls[name]) if name in sqls else None
        if got:
            rows, h = got[2]
            out[name] = {"rows": rows, "hash": h}
            if (rows, h) != (sp["rows"], sp["hash"]):
                disagree.append(name)
            print("%-28s oracle %6d %s  spark %6d %s" % (name, rows, h, sp["rows"], sp["hash"]))
        else:
            out[name] = {"rows": sp["rows"]}
            print("%-28s rows-only %6d" % (name, sp["rows"]))
    expected = {"data": {"sf": gen.SF, "seed": gen.DATA_SEED}, "fingerprints": out}
    cols, truth, _ = oracle(data, sqls[N1])
    qi, ni = cols.index("query_id"), cols.index("neighbor_id")
    expected["n1_truth"] = sorted([r[qi], r[ni]] for r in truth)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=0, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    if disagree:
        print("Spark and the oracle disagree on: " + ", ".join(disagree))
        sys.exit(1)


if __name__ == "__main__":
    main()
