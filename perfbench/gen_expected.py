#!/usr/bin/env python3
"""Regenerate the expected outputs of the batch workloads.

    python3 perfbench/gen_expected.py [workload ...]

For each op it renders the engine's DuckDB oracle (`SparkEntry.oracleSql`
after `setOracleContext`, over perfbench/data), runs it in DuckDB and
stores the digest of the canonical result (see check.py). Ops without an
oracle are the engine's declared rows-only queries: for them the row
count of the engine's own output is stored. The script also runs the
engine once and reports every op whose output does not match, without
exempting it. Only needed when the data or an op list changes.
"""
import argparse
import json
import os
import subprocess
import sys
import time
import types

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402

DATA = os.path.join(HERE, "data")
BATCH = [w for w in run.WORKLOADS if w != "ingest_stream"]


def oracle_sql(cp, ops, work):
    out = os.path.join(work, "oracle_sql.json")
    cmd = ["java", "-Xmx2g", "-Djava.io.tmpdir=" + work]
    for p in run.JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    subprocess.check_call(cmd + ["-cp", cp, "graft.perfbench.OracleDump", DATA, out] + ops,
                          cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*", default=BATCH)
    bdir = run.build_root()
    os.makedirs(bdir, exist_ok=True)
    cp = run.classpath(bdir)
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (f[:-len(".parquet")],
                                                               os.path.join(DATA, f)))
    for w in ap.parse_args().workloads:
        ops = run.load_ops(w)
        work = os.path.join(bdir, "expected-" + w)
        os.makedirs(work, exist_ok=True)
        with open(os.path.join(work, "orders.txt"), "w") as f:
            f.write(",".join(ops) + "\n" + ",".join(ops) + "\n")
        args = types.SimpleNamespace(workload=w, seed=0, seconds=0, trace=0)
        result = run.run_harness(cp, args, work, deadline=time.monotonic() + 3600)
        sql = oracle_sql(cp, ops, work)
        expected, bad = {}, []
        errors = {o["name"]: o["error"] for o in result["warm"] if not o["ok"]}
        for op in ops:
            out = os.path.join(result["check"]["dir"], op)
            spark = check.digest(check.read_output(out)) if os.path.isdir(out) else None
            if op in sql:
                e = dict(check.digest(con.sql(sql[op]).df()), check="digest")
            else:
                if spark is None:
                    bad.append("%s: no engine output for a rows-only op (%s)"
                               % (op, errors.get(op)))
                    continue
                e = {"check": "rows", "rows": spark["rows"]}
            expected[op] = e
            why = check.check_op(out, e) if spark else "engine failed: %s" % errors.get(op)
            if why:
                bad.append("%s: %s" % (op, why))
        with open(os.path.join(HERE, "expected", w + ".json"), "w") as f:
            json.dump({"data": "perfbench/data", "ops": expected}, f, indent=1, sort_keys=True)
            f.write("\n")
        print("%s: %d ops, %d digest, %d rows-only, %d not matching" % (
            w, len(ops), sum(e["check"] == "digest" for e in expected.values()),
            sum(e["check"] == "rows" for e in expected.values()), len(bad)))
        for b in bad:
            print("  " + b)


if __name__ == "__main__":
    main()
