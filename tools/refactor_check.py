#!/usr/bin/env python3
"""Compare a refactor against its parent: oracle SQL and query plans.

  python3 tools/refactor_check.py oracle PARENT/oracle_sql.json CHANGE/oracle_sql.json
  python3 tools/refactor_check.py plans PARENT_PLANDIR CHANGE_PLANDIR
  python3 tools/refactor_check.py lines PARENT_TREE [CHANGE_TREE]
  python3 tools/refactor_check.py dups [TREE]

`oracle` compares every key's SQL after collapsing each whitespace run
to one space (a change that only moves a CTE into a shared string
keeps its text). `plans` compares graft.PlanDump outputs (one
<query>.txt per query) after masking what differs between two runs of
the same code: expression and plan ids, lambda variable names, RDD
ids and their call sites, object hashes, and the sampled partition
offsets Ids.addContiguousIds inlines. Prints each differing key and
exits 1 if there is any. A second PlanDump of the parent itself shows
the noise left (q164's Expand column order varies run to run).

`lines` counts the non-blank lines under each tree's src/main/scala
that do not start with //, /* or * (after leading whitespace), and
prints the change from the first tree to the second. `dups` scans one
tree's src/main/scala (default: the current directory) for code that
appears twice: identical runs of at least MIN_RUN consecutive
stripped lines totalling at least MIN_CHARS characters, where no line
of the run is blank, a comment, an `import` or only brackets. It
prints each repeated run with the place it repeats, then the number of
redundant lines (lines of every copy after the first); it exits 1 if
there is any.
"""
import json, re, sys
from collections import defaultdict
from pathlib import Path

MIN_RUN = 5
MIN_CHARS = 120


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


def scala_files(tree):
    return sorted((Path(tree) / "src" / "main" / "scala").rglob("*.scala"))


def is_comment(line):
    return line.startswith(("//", "/*", "*"))


def code_lines(tree):
    return sum(1 for f in scala_files(tree) for line in f.read_text().splitlines()
               if line.strip() and not is_comment(line.strip()))


def lines(trees):
    counts = [code_lines(t) for t in trees]
    for t, n in zip(trees, counts):
        print(f"{t}: {n} non-comment lines under src/main/scala")
    if len(counts) == 2:
        print(f"delta: {counts[1] - counts[0]:+d}")


def dups(tree):
    """Repeated runs of code lines across tree's src/main/scala.

    Every window of MIN_RUN consecutive eligible lines is keyed by its
    text; a window seen before is aligned with the window's first
    occurrence, and consecutive windows with the same alignment merge
    into one repeated run."""
    def eligible(line):
        return (line and not is_comment(line) and not line.startswith("import ")
                and not set(line) <= set("{}()[],; "))

    first = {}
    aligned = defaultdict(list)  # (file, first file, offset) -> window starts
    files = {}
    for f in scala_files(tree):
        name = str(f.relative_to(tree))
        text = [l.strip() for l in f.read_text().splitlines()]
        files[name] = text
        for i in range(len(text) - MIN_RUN + 1):
            window = tuple(text[i:i + MIN_RUN])
            if not all(eligible(l) for l in window):
                continue
            if window in first:
                f0, j = first[window]
                aligned[(name, f0, i - j)].append(i)
            else:
                first[window] = (name, i)
    redundant = set()
    for (name, f0, off), starts in sorted(aligned.items()):
        block = [starts[0]]
        for i in starts[1:] + [None]:
            if i is not None and i == block[-1] + 1:
                block.append(i)
                continue
            lo, hi = block[0], block[-1] + MIN_RUN
            if sum(len(l) for l in files[name][lo:hi]) >= MIN_CHARS:
                print(f"DUP {name}:{lo + 1}-{hi} repeats {f0}:{lo - off + 1}-{hi - off}")
                redundant.update((name, k) for k in range(lo, hi))
            block = [i]
    print(f"dups: {len(redundant)} redundant lines")
    return len(redundant)


def main():
    args = sys.argv[1:]
    if args[:1] == ["lines"] and len(args) in (2, 3):
        lines(args[1:])
        return
    if args[:1] == ["dups"] and len(args) in (1, 2):
        sys.exit(1 if dups(args[1] if len(args) == 2 else ".") else 0)
    if len(args) != 3 or args[0] not in ("oracle", "plans"):
        sys.exit(__doc__)
    mode, a, b = args
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
