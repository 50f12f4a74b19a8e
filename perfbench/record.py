#!/usr/bin/env python3
"""Record the corpus-batch expectations from the DuckDB oracles.

    python3 perfbench/record.py

Dumps every query's oracle SQL from graft (`SparkEntry.oracleSql`), runs
each one in DuckDB over the benchmark's fixed corpus tables, and writes
the row count and fingerprint of every result to
perfbench/expected_corpus.json. The benchmark then checks graft's own
results against that file on every run. Re-run it only when the corpus
generator or a query's defined result changes.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


def main():
    classpath = run.ensure_build()
    data, sizes = run.corpus_inputs()
    work = os.path.join(run.build_dir(), "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = run.run_harness(classpath, work, ["--workload", "dump-oracles", "--data", data])
    con = duckdb.connect()
    for t in sizes:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    queries = {}
    for name, sql in sorted(dump["oracles"].items()):
        rows, fp = checks.fingerprint(con.sql(sql).arrow())
        queries[name] = {"rows": rows, "fp": fp, "module": dump["modules"][name]}
    missing = sorted(set(dump["modules"]) - set(queries))
    out = {"corpus_seed": run.CORPUS_SEED, "sizes": sizes, "queries": queries,
           "without_oracle": missing}
    with open(os.path.join(HERE, "expected_corpus.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(queries)} queries; {len(missing)} without an oracle: {missing}")


if __name__ == "__main__":
    main()
