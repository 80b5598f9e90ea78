#!/bin/bash
# Subset correctness gate: run graft.Verify for the queries in
# $SPARK_GRAFT_ONLY (or all, if unset) at sf0.01 and hash-compare each
# against its DuckDB oracle exactly the way the driver does.
# Usage: SPARK_GRAFT_ONLY=q170_hits,q164_containment tools/oracle_check.sh
set -e
cd "$(dirname "$0")/.."
REPO="$PWD"
OUT="${ORACLE_OUT:-/tmp/oracle_subset}"
SF="${ORACLE_SF:-/root/testdata/sf0.01}"
rm -rf "$OUT"
. "$REPO/tools/jvm_flags.sh"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" java "${GRAFT_JVM_FLAGS[@]}" -Xmx8g \
  -cp "$GRAFT_CP" \
  graft.Verify "$SF" "$OUT" 2>/dev/null
python3 - "$OUT" "$SF" <<'EOF'
import duckdb, json, hashlib, sys, os
out, sf = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
names = [n for n in sorted(oracle) if os.path.isdir(f'{out}/{n}')]
bad = 0
for name in names:
    sql = oracle[name]
    try:
        s = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        o = con.execute(sql).fetchdf()
        s, o = s[sorted(s.columns)], o[sorted(o.columns)]
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
        h = lambda df: hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
        ok = (list(s.columns)==list(o.columns) and len(s)==len(o) and h(s)==h(o))
    except Exception as e:
        ok = False
        print(name, 'ERR', str(e)[:200])
    print(name, 'OK' if ok else 'MISMATCH')
    bad += 0 if ok else 1
print(f"ORACLE {len(names)-bad}/{len(names)} OK")
sys.exit(1 if bad else 0)
EOF
