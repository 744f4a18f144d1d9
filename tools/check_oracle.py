#!/usr/bin/env python3
"""Dev-only harness (NOT part of the library; python is driver-side
tooling) replicating the driver's correctness gate locally:

  1. run graft.Verify at a given sf dir -> outDir/<name>/ parquet + oracle_sql.json
  2. register each /root/testdata/<sf>/<table>.parquet as a DuckDB view
  3. run each oracle SQL, compare row count, schema (sorted col names),
     and a hash of values (columns sorted by name) against Spark's output

Usage: python3 tools/check_oracle.py [sfDir] [outDir] [--skip-verify]
"""
import sys, json, subprocess, hashlib, glob, os
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ONLY = None
for a in sys.argv:
    if a.startswith("--only="):
        ONLY = a.split("=", 1)[1]

# the checkout that holds this script: its code is the code under check
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if "--skip-verify" not in sys.argv:
    cmd = f'runMain graft.Verify {SF} {OUT}' + (f' {ONLY}' if ONLY else '')
    r = subprocess.run(
        ["sbt", "-batch", cmd],
        cwd=REPO, capture_output=True, text=True, timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
# Defense (VERDICT r18 "What's wrong" #1): an empty oracle map means the
# gate has nothing to check — that is a FAILURE, not a vacuous pass. The
# r18 driver artifact shipped as literally {} and nothing failed loudly.
if not oracle:
    print("FAIL: oracle_sql.json is empty — no correctness evidence")
    sys.exit(1)

def norm(v):
    if v is None: return "NULL"
    if isinstance(v, float): return repr(v)
    if isinstance(v, bytes): return v.hex()
    return str(v)

def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(norm(row[i]) for i in order).encode())
        h.update(b"\x1e")
    return h.hexdigest()

fails = 0
for name, sql in sorted(oracle.items()):
    if ONLY and name not in ONLY.split(","):
        continue
    pdir = f"{OUT}/{name}"
    files = glob.glob(f"{pdir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        o = con.execute(sql)
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fails += 1; continue
    sres = con.execute(f"SELECT * FROM '{pdir}/*.parquet'")
    scols = [d[0] for d in sres.description]
    srows = sres.fetchall()
    if sorted(scols) != sorted(ocols):
        print(f"FAIL {name}: schema spark={sorted(scols)} oracle={sorted(ocols)}"); fails += 1; continue
    # Type gate: our fetchall() path coerces DuckDB HUGEINT to python int,
    # but an arrow/pandas fetch (the driver may use one) renders HUGEINT as
    # decimal128/float64 and every row hash-flickers while rows+schema stay
    # green (the r6/r7 pack_sequences signature). Enforce that every oracle
    # output column has a concrete non-HUGEINT type that exactly matches the
    # Spark parquet type, so the mismatch class can't ride on fetch-path luck.
    orel = con.sql(sql)
    otypes = dict(zip(orel.columns, [str(t) for t in orel.types]))
    srel = con.sql(f"SELECT * FROM '{pdir}/*.parquet'")
    stypes = dict(zip(srel.columns, [str(t) for t in srel.types]))
    tbad = [f"{c}: spark={stypes.get(c)} oracle={ot}" for c, ot in sorted(otypes.items())
            if ot in ("HUGEINT", "UHUGEINT") or ot.startswith("DECIMAL")
            or stypes.get(c) != ot]
    if tbad:
        print(f"FAIL {name}: type mismatch {tbad}"); fails += 1; continue
    if len(srows) != len(orows):
        print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}"); fails += 1; continue
    hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
    if hs != ho:
        print(f"FAIL {name}: hash mismatch ({len(srows)} rows)")
        oi = sorted(range(len(ocols)), key=lambda i: ocols[i])
        si = sorted(range(len(scols)), key=lambda i: scols[i])
        shown = 0
        for r in range(len(srows)):
            a = ["%s" % norm(srows[r][i]) for i in si]
            b = ["%s" % norm(orows[r][i]) for i in oi]
            if a != b:
                print(f"  row {r}: spark={a}\n          oracle={b}")
                shown += 1
                if shown >= 3: break
        fails += 1
    else:
        print(f"OK   {name} ({len(srows)} rows)")

compared = sum(1 for name in oracle if not (ONLY and name not in ONLY.split(",")))
if compared == 0:
    print("FAIL: zero queries compared — empty selection is not a pass")
    sys.exit(1)
print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'} / {compared} queries")
sys.exit(1 if fails else 0)
