#!/usr/bin/env bash
# Determinism gate: the engine must produce IDENTICAL results regardless
# of parallelism. Runs Verify twice at the given SF with different core
# counts (different partitioning, different merge orders, different task
# interleavings) and compares every query's result set in canonical form
# (columns sorted by name, rows sorted by all values — the driver's own
# compare convention). Any nondeterministic operator (an unstable sort,
# an order-dependent fold, a first() without a frame) shows up as a diff.
#
# Usage: scripts/determinism.sh [sfDir] [outA] [outB]
# With SPARK_GRAFT_ONLY=q1,q2 set, both Verify runs dump only those
# queries and exactly those are compared; otherwise every registered one.
# A query missing from either run (it failed there) counts as a diff.
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.1}"
OUT_A="${2:-/tmp/det_a}"
OUT_B="${3:-/tmp/det_b}"
cd "$(dirname "$0")/.."

echo "== run A: 32 cores =="
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify $SF_DIR $OUT_A" 2>&1 | grep '\[verify\]' || true
echo "== run B: 5 cores =="
SPARK_GRAFT_CPUS=5 sbt -batch "runMain graft.Verify $SF_DIR $OUT_B" 2>&1 | grep '\[verify\]' || true

echo "== diff =="
python3 - "$OUT_A" "$OUT_B" <<'EOF'
import json, os, sys
import duckdb

out_a, out_b = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# graft.Verify's filter: unset, it selects every query
only = {n.strip() for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")} - {""}
names = sorted(only or json.load(open(f"{out_a}/oracle_sql.json")))


def canon(path):
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        [tuple(r[i] for i in order) for r in cur.fetchall()],
        key=lambda row: tuple((v is not None, str(type(v)), str(v)) for v in row))
    return [cols[i] for i in order], rows


n_same = n_diff = 0
for name in names:
    try:
        ca, ra = canon(f"{out_a}/{name}")
        cb, rb = canon(f"{out_b}/{name}")
        if ca != cb or ra != rb:
            print(f"DIFF {name}: cols_equal={ca == cb} rows {len(ra)} vs {len(rb)}")
            n_diff += 1
        else:
            n_same += 1
    except Exception as e:  # noqa: BLE001
        print(f"DIFF {name}: {type(e).__name__}: {e}")
        n_diff += 1
print(f"== determinism: {n_same} identical / {n_diff} diff ==")
sys.exit(1 if n_diff else 0)
EOF
