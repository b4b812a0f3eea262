#!/usr/bin/env python3
"""Rebuild perfbench/expected_fingerprints.tsv, the query_sweep output check.

    python3 perfbench/make_expected.py [--timeout 60]

Run from the root of a checkout. It builds the harness, has it write every
sweep query's output at sf0.01 (perfbench/data/sf0.01) as parquet together
with its fingerprint, and then compares each output with the query's DuckDB
oracle (`SparkEntry.oracleSql`), the same order-insensitive comparison as
tools/check.py. A fingerprint whose output matched the oracle is labelled
`oracle`. One whose oracle is missing, failed or ran past the timeout is
labelled `self:<reason>`: it pins the output the loader produced when the
file was made, and was never checked against the oracle. A mismatch is
labelled `self:oracle-mismatch` and printed, as a finding.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys
import threading

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's own build and JVM settings)


def oracle_frame(con, sql, timeout):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).df(), None
    except Exception as e:  # interrupted, or the oracle itself failed
        return None, ("oracle-timeout" if "nterrupt" in str(e) else "oracle-error")
    finally:
        timer.cancel()


def same(od, sd):
    od = od.reindex(sorted(od.columns), axis=1)
    sd = sd.reindex(sorted(sd.columns), axis=1)
    if list(od.columns) != list(sd.columns) or len(od) != len(sd):
        return False
    oh = od.sort_values(list(od.columns)).reset_index(drop=True)
    sh = sd.sort_values(list(sd.columns)).reset_index(drop=True)
    return oh.equals(sh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--timeout", type=float, default=60.0)
    a = ap.parse_args()
    run.build()
    dump = os.path.join(run.WORK, "expected-dump")
    shutil.rmtree(dump, ignore_errors=True)
    tmp = os.path.join(dump, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{run.HEAP}", f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for o in run.JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{run.CLASSES}:{run.spark_home()}/jars/*", "graft.perfbench.Main",
            "--workload", "query_sweep", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--work", dump, "--bench", run.BENCH, "--result", os.path.join(dump, "unused"),
            "--dump", os.path.join(dump, "out")]
    subprocess.run(cmd, check=True, stdout=sys.stderr)

    out = os.path.join(dump, "out")
    fps = {}
    with open(os.path.join(out, "fingerprints.tsv")) as f:
        for line in f:
            q, rows, fp, stable = line.rstrip("\n").split("\t")
            fps[q] = (rows, fp, stable)
    oracle = {}
    with open(os.path.join(out, "oracle_sql.tsv")) as f:
        for line in f:
            if line.strip():
                q, sql = line.rstrip("\n").split("\t", 1)
                oracle[q] = sql

    con = duckdb.connect()
    for p in glob.glob(os.path.join(run.BENCH, "data", "sf0.01", "*.parquet")):
        con.sql(f"create view {os.path.basename(p)[:-8]} as select * from '{p}'")
    rows_out = []
    for q in sorted(fps):
        rows, fp, stable = fps[q]
        if q not in oracle:
            source = "self:no-oracle"
        else:
            od, err = oracle_frame(con, oracle[q], a.timeout)
            if err:
                source = f"self:{err}"
            else:
                sd = con.sql(f"select * from '{os.path.join(out, q)}/*.parquet'").df()
                source = "oracle" if same(od, sd) else "self:oracle-mismatch"
        if stable != "stable":
            source += ",parquet-roundtrip-differs"
        print(f"{q:32s} {source}", file=sys.stderr)
        rows_out.append(f"{q}\t{rows}\t{fp}\t{source}")
    with open(os.path.join(run.BENCH, "expected_fingerprints.tsv"), "w") as f:
        f.write("# query\trows\tfingerprint\tsource (written by make_expected.py)\n")
        f.write("\n".join(rows_out) + "\n")
    shutil.rmtree(dump, ignore_errors=True)


if __name__ == "__main__":
    main()
