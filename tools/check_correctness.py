#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each SparkEntry
query output under OUTDIR, run the oracle SQL from oracle_sql.json in
DuckDB against the same parquet tables and compare (columns sorted by
name, full row-order-sensitive value compare).

Usage: check_correctness.py <sfDir> <outDir>
"""
import json, os, sys, math

import duckdb


def half_mem_total_mib():
    """Half of this machine's RAM, in MiB (MemTotal of /proc/meminfo)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 2048
    raise SystemExit("no MemTotal in /proc/meminfo")


sfdir, outdir = sys.argv[1], sys.argv[2]
# A replay that outgrows half the RAM spills under the output dir instead
# of starving the machine. preserve_insertion_order stays on (the default):
# the compare below is row-order-sensitive.
con = duckdb.connect(config={
    "memory_limit": f"{half_mem_total_mib()}MiB",
    "temp_directory": os.path.join(outdir, "duckdb_tmp")})
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
skipped = 0
for name, sql in sorted(oracle.items()):
    # Verify always writes the FULL oracle map; a SPARK_GRAFT_ONLY run
    # dumps only a subset of outputs. Missing dumps are SKIPs (loud,
    # counted) rather than FAILs, so partial runs are visibly partial
    # instead of either failing spuriously or reading as a full pass.
    if not os.path.isdir(f"{outdir}/{name}"):
        print(f"SKIP {name}: no output dumped")
        skipped += 1
        continue
    try:
        got = con.execute(
            f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        fail += 1
        continue
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
        fail += 1
        continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} != {len(want)}")
        fail += 1
        continue
    bad = None
    for c in got.columns:
        gv, wv = got[c].tolist(), want[c].tolist()
        for i, (g, w) in enumerate(zip(gv, wv)):
            eq = (g == w) or (
                isinstance(g, float) and isinstance(w, float)
                and math.isnan(g) and math.isnan(w))
            if not eq:
                bad = (c, i, g, w)
                break
        if bad:
            break
    if bad:
        c, i, g, w = bad
        print(f"FAIL {name}: col={c} row={i}: got={g!r} want={w!r}")
        fail += 1
    else:
        print(f"PASS {name} ({len(got)} rows)")
checked = len(oracle) - skipped
tail = f" ({skipped} SKIPPED — partial run)" if skipped else ""
print(f"\n{checked - fail}/{checked} passed{tail}")
sys.exit(1 if fail else 0)
