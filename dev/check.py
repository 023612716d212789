#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
shipped Scala library does not depend on this).

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
  - loads each <outDir>/<name> parquet (Spark result)
  - runs oracle_sql.json[<name>] in DuckDB over the sfDir tables
  - compares row multisets after sorting columns by name and rows by value
Usage: python3 dev/check.py [sfDir] [outDir]
"""
import json, math, os, sys
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    # driver testdata is one file per table; ScaleData dirs are
    # Spark-written parquet DIRECTORIES — glob those
    path = f"{sf}/{t}.parquet"
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

# DuckDB grabs every core by default; cap it when a sweep shares the box
# with a Spark bench (CHECK_THREADS=16 leaves headroom for local[32])
if os.environ.get("CHECK_THREADS"):
    con.execute(f"SET threads={int(os.environ['CHECK_THREADS'])}")

oracles = json.load(open(f"{out}/oracle_sql.json"))

# optional 3rd arg: comma-separated query names to (re)check — lets a
# long sweep resume after the fast prefix already passed. `^name` EXCLUDES
# instead (all-exclusion and all-inclusion lists can't be mixed).
subset_label = ""
if len(sys.argv) > 3:
    names = sys.argv[3].split(",")
    excl = [n for n in names if n.startswith("^")]
    if excl and len(excl) != len(names):
        # a mixed list would silently fall through to inclusion mode,
        # where '^name' entries match no oracle key
        sys.exit(f"error: name list mixes '^'-exclusions ({excl}) with "
                 f"plain inclusions — use one mode per invocation")
    # a typo'd name would otherwise drop out silently and report a
    # passing (possibly empty) subset
    unmatched = [n for n in names if n.lstrip("^") not in oracles]
    if unmatched:
        sys.exit(f"error: {unmatched} match no oracle key")
    if excl:
        drop = {n[1:] for n in names}
        oracles = {k: v for k, v in oracles.items() if k not in drop}
        subset_label = f" of subset (excluded {sorted(drop)})"
    else:
        only = set(names)
        oracles = {k: v for k, v in oracles.items() if k in only}
        subset_label = f" of FILTERED subset {sorted(only)}"

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)

def canon(df):
    cols = sorted(df.columns)
    rows = [tuple(norm(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)

# per-run progress file (inside outDir, truncated at start): concurrent
# sweeps no longer interleave into one shared unbounded /tmp file
progress_path = f"{out}/check_progress.txt"
open(progress_path, "w").close()

fails = 0
for name in sorted(oracles):
    # progress is tee'd to a file so a long sweep behind a pipe buffer
    # (exhaustive pair oracles run for minutes each) stays observable
    with open(progress_path, "a") as pf:
        pf.write(f"{name}\n")
    try:
        got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        exp = con.sql(oracles[name]).df()
        gc, gr = canon(got)
        ec, er = canon(exp)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} vs oracle {ec}")
            fails += 1
        elif gr != er:
            diff = [i for i, (a, b) in enumerate(zip(gr, er)) if a != b]
            print(f"FAIL {name}: {len(gr)} vs {len(er)} rows; first diffs:")
            for i in diff[:3]:
                print(f"   spark {gr[i]}")
                print(f"   duck  {er[i]}")
            if len(gr) != len(er):
                print(f"   row count mismatch {len(gr)} vs {len(er)}")
            fails += 1
        else:
            print(f"OK   {name} ({len(gr)} rows)", flush=True)
    except Exception as e:
        print(f"ERR  {name}: {e}")
        fails += 1

# a resumed/partial run must be self-describing: the summary names the
# subset so a log tail can't be mistaken for a full-registry pass
print(f"\n{len(oracles) - fails}/{len(oracles)} queries match{subset_label}")
sys.exit(1 if fails else 0)
