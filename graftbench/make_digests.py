#!/usr/bin/env python3
"""Regenerates graftbench/expected_digests.json, checked against DuckDB.

    python3 graftbench/make_digests.py

Runs the analytics mix once on both generated table sets (warm-up and
timed), dumping each query's output as parquet together with its digest
and its `SparkEntry.oracleSql` text. Each dump is then compared with the
oracle SQL run in DuckDB over the same tables: columns sorted by name,
row order and values exact, as tools/check_correctness.py does. Only if
every query matches are the digests written. Run it after a change to
the mix, the generator or the digest; never to make a failing run pass.
"""
import json
import math
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def same(got, want):
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (g, w) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not (g == w or isinstance(g, float) and isinstance(w, float)
                    and math.isnan(g) and math.isnan(w)):
                return f"col={c} row={i}: got={g!r} want={w!r}"
    return None


def main():
    cp = run.build()
    work = run.WORK / "runs" / "digests"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    dump = work / "dump"
    subprocess.run(
        ["java", *run.JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
         "graftbench.Main", "--workload", "analytics", "--seed", "0",
         "--trace", "0", "--work", str(work), "--dump", str(dump)],
        cwd=work, check=True, stdin=subprocess.DEVNULL)
    digests = json.loads((dump / "digests.json").read_text())
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    failures = []
    for tset in ("warm", "main"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{digests[tset + '/tables']}/{t}.parquet/*.parquet'")
        for q, sql in sorted(oracle.items()):
            if not sql:
                failures.append(f"{tset}/{q}: no oracle SQL")
                continue
            got = con.execute(f"SELECT * FROM '{dump}/{tset}/{q}/*.parquet'").fetchdf()
            problem = same(got, con.execute(sql).fetchdf())
            print(f"{'FAIL' if problem else 'PASS'} {tset}/{q} "
                  f"({len(got)} rows){': ' + problem if problem else ''}")
            if problem:
                failures.append(f"{tset}/{q}: {problem}")
            elif len(got) == 0:
                failures.append(f"{tset}/{q}: empty output checks nothing")
    if failures:
        print("\n".join(failures), file=sys.stderr)
        sys.exit(1)
    out = {k: v for k, v in sorted(digests.items()) if not k.endswith("/tables")}
    (run.HERE / "expected_digests.json").write_text(
        json.dumps(out, indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(out)} digests")


if __name__ == "__main__":
    main()
