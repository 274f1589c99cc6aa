#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs graft.Verify (via sbt runMain, in the checkout this script sits
in) on a testdata sf dir, then replays
each oracle_sql.json query in DuckDB over the same parquet tables and
compares schema + values column-by-column (sorted by column name,
row-order-insensitive via sorted tuples).

Usage: python3 tools/check.py [sfdir] [--out=outdir] [--skip-verify] [names...]

Flags are parsed before positionals, so flag order doesn't matter. The
output dir is flag-only (never positional) so a query name or a flag can
never be mistaken for it — that accident once littered the repo root with
verification artifacts.
"""
import atexit, json, math, os, shutil, subprocess, sys
from pathlib import Path

import duckdb

# the checkout this script belongs to: Verify runs from it, and the
# output dir may not be it
REPO = Path(__file__).resolve().parents[1]
FLAGS = set(a for a in sys.argv[1:] if a.startswith("--"))
_POS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = _POS[0] if _POS else "/root/testdata/sf0.001"
ONLY = _POS[1:]
OUT = "/tmp/graft_verify"
for f in list(FLAGS):
    if f.startswith("--out="):
        OUT = f[len("--out="):]
        FLAGS.discard(f)
_UNKNOWN = FLAGS - {"--skip-verify"}
if _UNKNOWN:
    sys.exit(f"unknown flags: {sorted(_UNKNOWN)}")
if not OUT or OUT.startswith("-") or Path(OUT).resolve() == REPO:
    sys.exit(f"refusing suspicious outdir {OUT!r}")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in FLAGS:
    names = " " + " ".join(ONLY) if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{names}'],
        capture_output=True, text=True, cwd=REPO)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:]); sys.exit(1)

# Fresh connection per query: a heavy oracle that aborts (OOM) poisons
# the shared connection — the diverse-sf8 sweep saw every query after
# one OOM "fail" with bogus read errors. GRAFT_DUCKDB_MEM (e.g. "48GB")
# optionally caps each connection so a runaway oracle aborts cleanly
# instead of taking the box (and any sibling sweep) down with it.
# per-PROCESS temp dir: DuckDB names spill files temp_storage-N in
# its temp directory, so two concurrent check.py runs sharing a cwd
# would race the SAME files (observed in the diverse-sf8 sweep when
# a sibling q33 run spilled 60+ GB into them). Removed at exit —
# an aborted/OOM-killed oracle can strand multi-GB spill files. The
# path is constant per process, so the cleanup registers ONCE here,
# not per connection (fresh_con runs once per query).
_DUCK_TMP = f".tmp/pid{os.getpid()}"
atexit.register(shutil.rmtree, _DUCK_TMP, ignore_errors=True)

def fresh_con():
    c = duckdb.connect()
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if mem:
        c.execute(f"SET memory_limit='{mem}'")
    os.makedirs(_DUCK_TMP, exist_ok=True)
    c.execute(f"SET temp_directory='{_DUCK_TMP}'")
    # the compare below is row-order-insensitive (sorted tuples), so
    # insertion order is free to drop; at big tiers this materially
    # cuts DuckDB's materialization/spill for the giant graph oracles
    if os.environ.get("GRAFT_DUCKDB_ORDER") == "off":
        c.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if Path(p).is_dir():  # ScaleGen writes directory-style parquet
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif Path(p).exists():
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
# a misspelled name would otherwise compare nothing and print ALL PASS
_MISSING = [n for n in ONLY if n not in oracle]
if _MISSING:
    sys.exit(f"unknown queries (not in oracle_sql.json): {_MISSING}")

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.10g}"
    return str(v)

fail = 0
for name in sorted(oracle):
    if ONLY and name not in ONLY: continue
    spark_dir = f"{OUT}/{name}"
    con = fresh_con()
    try:
        sdf = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: no spark output ({e})", flush=True); fail += 1; con.close(); continue
    try:
        odf = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}", flush=True); fail += 1; con.close(); continue
    con.close()
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    if list(sdf.columns) != list(odf.columns):
        print(f"FAIL {name}: columns {list(sdf.columns)} vs {list(odf.columns)}")
        fail += 1; continue
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}", flush=True); fail += 1; continue
    srows = sorted(tuple(norm(v) for v in row) for row in sdf.itertuples(index=False))
    orows = sorted(tuple(norm(v) for v in row) for row in odf.itertuples(index=False))
    if srows != orows:
        bad = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
        print(f"FAIL {name}: value mismatch, first diffs: {bad}")
        fail += 1; continue
    # dtype advisory (driver may compare schemas more strictly)
    sdt, odt = [str(t) for t in sdf.dtypes], [str(t) for t in odf.dtypes]
    note = "" if sdt == odt else f"  [dtype diff: {list(zip(sdf.columns, sdt, odt))}]"
    print(f"PASS {name} ({len(sdf)} rows){note}", flush=True)

print("ALL PASS" if fail == 0 else f"{fail} FAILURES")
sys.exit(1 if fail else 0)
