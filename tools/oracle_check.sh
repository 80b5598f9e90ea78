#!/bin/bash
# Correctness gate: run graft.Verify for the queries in $SPARK_GRAFT_ONLY
# (or all, if unset) and hash-compare each against its DuckDB oracle
# (perfbench/oracle.py mirrors this hash). A selected query with oracle
# SQL but no Verify result directory (it threw) is a FAIL. Exits 1 on any
# FAIL, MISMATCH or ERR.
# Usage: SPARK_GRAFT_ONLY=q170_hits,q164_containment tools/oracle_check.sh
# ORACLE_SF picks the corpus (default sf0.01); every *.parquet in it,
# file or Spark directory (ScaleOracle's replicas), registers by stem.
set -e
cd "$(dirname "$0")/.."
REPO="$PWD"
OUT="${ORACLE_OUT:-/tmp/oracle_subset}"
SF="${ORACLE_SF:-/root/testdata/sf0.01}"
rm -rf "$OUT" "$OUT.verify.log"
. "$REPO/tools/jvm_flags.sh"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" java "${GRAFT_JVM_FLAGS[@]}" -Xmx8g \
  -cp "$GRAFT_CP" \
  graft.Verify "$SF" "$OUT" 2>"$OUT.verify.log" \
  || { echo "graft.Verify failed; see $OUT.verify.log"; exit 1; }
python3 - "$OUT" "$SF" <<'EOF'
import duckdb, glob, json, hashlib, sys, os
out, sf = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# spill to /tmp, never the cwd (a runaway oracle once left 54 GB of
# duckdb_temp_storage in the repo); cap memory below the box's RAM
con.execute("SET temp_directory='/tmp/graft-duckdb-spill'")
con.execute("SET memory_limit='48GB'")
con.execute("SET max_temp_directory_size='60GB'")
for p in glob.glob(os.path.join(sf, '*.parquet')):
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {os.path.basename(p)[:-len('.parquet')]} "
                f"AS SELECT * FROM read_parquet('{src}')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
only = {n.strip() for n in os.environ.get('SPARK_GRAFT_ONLY', '').split(',') if n.strip()}
names = [n for n in sorted(oracle) if not only or n in only]
h = lambda df: hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
bad = 0
for name in names:
    if not os.path.isdir(f'{out}/{name}'):
        verdict = f'FAIL no result dir (see {out}.verify.log)'
    else:
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
            o = con.execute(oracle[name]).fetchdf()
            s, o = s[sorted(s.columns)], o[sorted(o.columns)]
            s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
            o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
            ok = list(s.columns) == list(o.columns) and len(s) == len(o) and h(s) == h(o)
            verdict = 'OK' if ok else 'MISMATCH'
        except Exception as e:
            verdict = 'ERR ' + str(e)[:200]
    print(name, verdict)
    bad += verdict != 'OK'
print(f"ORACLE {len(names)-bad}/{len(names)} OK")
sys.exit(1 if bad else 0)
EOF
