#!/usr/bin/env python3
"""Compare a refactor against its parent: oracle SQL and query plans.

  python3 tools/refactor_check.py oracle PARENT/oracle_sql.json CHANGE/oracle_sql.json
  python3 tools/refactor_check.py plans PARENT_PLANDIR CHANGE_PLANDIR

`oracle` compares every key's SQL after collapsing each whitespace run
to one space (a change that only moves a CTE into a shared string
keeps its text). `plans` compares graft.PlanDump outputs (one
<query>.txt per query) after masking what differs between two runs of
the same code: expression and plan ids, lambda variable names, RDD
ids and their call sites, object hashes, and the sampled partition
offsets Ids.addContiguousIds inlines. Prints each differing key and
exits 1 if there is any. A second PlanDump of the parent itself shows
the noise left (q164's Expand column order varies run to run).
"""
import json, re, sys
from pathlib import Path


def ws(s):
    return " ".join(s.split())


def mask_plan(s):
    s = re.sub(r"#\d+L?", "#N", s)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    s = re.sub(r"\b(x|y|acc|k|v|lambda)_\d+\b", r"\1_N", s)
    s = re.sub(r"RDD\[\d+\] at (\w+) at \w+\.scala:\d+", r"RDD[N] at \1", s)
    s = re.sub(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "$Lambda", s)
    s = re.sub(r"@[0-9a-f]{5,8}\b", "@H", s)
    # Ids.addContiguousIds folds the per-partition offsets of a sampled
    # range exchange into the plan as an array literal
    s = re.sub(r"\[0(,\d+)+\]", "[OFFSETS]", s)
    return s


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in ("oracle", "plans"):
        sys.exit(__doc__)
    mode, a, b = sys.argv[1:]
    if mode == "oracle":
        pa, pb = json.load(open(a)), json.load(open(b))
        keys = sorted(set(pa) | set(pb))
        bad = [k for k in keys if ws(pa.get(k, "")) != ws(pb.get(k, ""))]
    else:
        da, db = Path(a), Path(b)
        keys = sorted({p.name for p in da.glob("*.txt")} | {p.name for p in db.glob("*.txt")})
        def read(d, k):
            p = d / k
            return mask_plan(p.read_text()) if p.exists() else None
        bad = [k for k in keys if read(da, k) != read(db, k)]
    for k in bad:
        print("DIFF", k)
    print(f"{mode}: {len(keys) - len(bad)}/{len(keys)} equal")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
