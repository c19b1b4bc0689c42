#!/usr/bin/env python3
"""Record the digest of each query result that the traced cdc_backfill
run checks against (perfbench/ops_digests.tsv).

    python3 perfbench/record_ops.py

Run from the root of an engine checkout, after a change that
legitimately changes a query's result. It builds like run.py, writes the
query tables from the fixed seed run.py uses, runs every
`SparkEntry.queries` entry once in the benchmark JVM, and compares each
result with its DuckDB oracle (`SparkEntry.oracleSql`, perfbench/oracle.py).
The digests are written only if every result matched; otherwise the
mismatches are printed and the file is left as it was (exit 1).
"""
import json
import os
import shutil
import sys
import time

import run

DIGESTS = run.HERE / "ops_digests.tsv"


def main():
    run.check_checkout()
    import datagen
    import oracle
    run.STATE.mkdir(parents=True, exist_ok=True)
    work = run.STATE / f"record-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        with open(run.STATE / "record_ops.log", "w") as log:
            cp = run.build(log)
            datagen.write(str(work / "ops-data"), run.OPS_DATA_SEED, run.OPS_SF)
            _, rc = run.jvm(cp, work, ["--workload", "ops_record", "--cores", run.CORES,
                                       "--trace-out", work / "spans.json"], log, timeout=900)
        if rc != 0:
            print(f"record_ops: the benchmark JVM exited with {rc}; see {log.name}", file=sys.stderr)
            return 1
        results = work / "results"
        sql = json.loads((results / "oracle_sql.json").read_text())
        con = oracle.connect(str(work / "ops-data"))
        bad = 0
        for line in (results / "digests.tsv").read_text().splitlines():
            q = line.split("\t")[0]
            t0 = time.monotonic()
            ok, detail = (oracle.compare(con, sql[q], str(results / q)) if q in sql
                          else (False, "no oracle SQL"))
            print(f"{q}: {'MATCH' if ok else 'MISMATCH'} {detail} ({time.monotonic() - t0:.1f} s)", flush=True)
            bad += not ok
        con.close()
        if bad:
            print(f"record_ops: {bad} results differ from their oracles; {DIGESTS.name} not written",
                  file=sys.stderr)
            return 1
        shutil.copyfile(results / "digests.tsv", DIGESTS)
        print(f"record_ops: wrote {DIGESTS.relative_to(run.ROOT)}")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
