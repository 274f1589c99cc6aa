#!/usr/bin/env python3
"""Medallion-load and registry benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program's
sources together with the harness in perfbench/ (sbt, offline); later
runs reuse that build while the sources are unchanged. One JVM
(local[4]) then runs the workload and this script checks its outputs:

  day1_full_load    fresh lake; time Pipeline.run of one landing day,
                    then Pipeline.starTopK(10)
  day2_scd2_merge   day-1 lake snapshot (built in set-up); each timed
                    load restores it, then runs Pipeline.run of day 2
                    (5% changed customers, 1% new) and starTopK(10)
  registry_eighth   every 8th registry query over generated tables;
                    one untimed pass writes results for the DuckDB
                    oracle check, then timed noop-sink passes

Every load is checked against the generator's seeded counts (Silver
rows = F4211 rows, fact rows = Silver rows, one active dimension row per
customer, SCD2/orphan/invalid-date counts) and against an independent
DuckDB computation over the same landing CSVs (fact rows, sum of
ExtendedAmount, top-10 star rows). Every registry query is compared with
its SparkEntry.oracleSql twin by tools/check.py. A thrown or wrong
operation counts as failed.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer ones with
--trace 1). Load and star-query times are reported as seconds on a
reference host (see REF_PROBE_S), because other tenants of a shared
machine slow whole runs. registry_eighth is not in BENCHMARK.json (its
runs are too long for the benchmark's time budget) and prints its own
metrics. Spans and the raw result stay in .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "bench-stamp"
SPARK_JARS = "/opt/spark/jars/*"
DEADLINE_S = 170
WORKLOADS = ("day1_full_load", "day2_scd2_merge", "registry_eighth")
CORES = 4
# HostSpeed.probe on an uncontended 4-vCPU host. Load and query wall
# times are reported scaled by REF_PROBE_S / (this run's fastest probe):
# seconds on that reference host. The fastest probe is the one least
# disturbed by JIT threads still warming up; raw times stay in result.json.
REF_PROBE_S = 0.18
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a fixed order."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [p for r in roots for p in sorted(r.rglob("*")) if p.is_file()]
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala'}; "
             "run from the repository root")
    digest = hashlib.sha256()
    for p in sources():
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    STAMP.write_text(stamp)


def run_jvm(args, work, out, log, deadline):
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:ActiveProcessorCount=%d" % CORES,
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{SPARK_JARS}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out)]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"workload exceeded {DEADLINE_S} s; log: {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not out.is_file():
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail(f"workload JVM exited with {rc}")
    return json.loads(out.read_text())


# ---------------------------------------------------------------- checks

def money(cents):
    return str((Decimal(int(cents)) / 100).quantize(Decimal("0.01")))


def duck_expectation(landing):
    """Fact rows, sum of ExtendedAmount and the top-10 star rows computed
    by DuckDB straight from the landing CSVs: Julian decode, an SCD2
    replay of the customer files and a point-in-time join."""
    import duckdb
    con = duckdb.connect()
    con.execute("""CREATE TABLE dim (id INT, name VARCHAR, at1 VARCHAR, ac01 VARCHAR,
                   vf TIMESTAMP, vt TIMESTAMP)""")
    star_parts = []
    for k, day in enumerate(landing):
        d = day["dir"]
        now = day["now"]
        con.execute(f"""CREATE TABLE inc AS SELECT ABAN8 AS id, ABALPH AS name,
            ABAT1 AS at1, ABAC01 AS ac01
            FROM read_csv('{d}/F0101.csv', header=true, columns={{
              'ABAN8': 'INT', 'ABALPH': 'VARCHAR', 'ABAT1': 'VARCHAR',
              'ABAC01': 'VARCHAR', 'ABUPMJ': 'INT'}})""")
        con.execute("""CREATE TABLE chg AS SELECT i.id FROM inc i
            JOIN dim d ON i.id = d.id AND d.vt IS NULL
            WHERE (i.name, i.at1, i.ac01) IS DISTINCT FROM (d.name, d.at1, d.ac01)""")
        con.execute(f"""UPDATE dim SET vt = TIMESTAMP '{now}'
                        WHERE vt IS NULL AND id IN (SELECT id FROM chg)""")
        con.execute(f"""INSERT INTO dim SELECT id, name, at1, ac01,
            CASE WHEN id IN (SELECT id FROM chg) THEN TIMESTAMP '{now}'
                 ELSE TIMESTAMP '1900-01-01 00:00:00' END, NULL
            FROM inc WHERE id NOT IN (SELECT id FROM dim) OR id IN (SELECT id FROM chg)""")
        con.execute(f"CREATE TABLE dim{k} AS SELECT * FROM dim")
        con.execute(f"""CREATE TABLE ord{k} AS
            SELECT SDDOCO, SDAN8, SDLITM, SDUORG, SDAEXP,
              CASE WHEN SDTRDJ BETWEEN 0 AND 299366 AND SDTRDJ % 1000 >= 1
                    AND year(make_date(1900 + SDTRDJ // 1000, 1, 1)
                             + CAST(SDTRDJ % 1000 - 1 AS INT)) = 1900 + SDTRDJ // 1000
                   THEN make_date(1900 + SDTRDJ // 1000, 1, 1)
                        + CAST(SDTRDJ % 1000 - 1 AS INT) END AS od
            FROM read_csv('{d}/F4211.csv', header=true, columns={{
              'SDDOCO': 'INT', 'SDDCTO': 'VARCHAR', 'SDAN8': 'INT', 'SDLITM': 'VARCHAR',
              'SDTRDJ': 'INT', 'SDUORG': 'INT', 'SDAEXP': 'INT'}})""")
        star_parts.append(f"""SELECT o.SDDOCO, v.name, o.od, o.SDLITM, o.SDUORG, o.SDAEXP
            FROM ord{k} o JOIN dim{k} v ON o.SDAN8 = v.id
              AND CAST(o.od AS TIMESTAMP) >= v.vf
              AND CAST(o.od AS TIMESTAMP) < coalesce(v.vt, TIMESTAMP '9999-12-31')
            WHERE o.od BETWEEN DATE '2020-01-01' AND DATE '2040-12-31'""")
        con.execute("DROP TABLE inc; DROP TABLE chg")
    totals = " UNION ALL ".join(
        f"SELECT count(*) AS n, sum(SDAEXP) AS s FROM ord{k}" for k in range(len(landing)))
    n, s = con.execute(f"SELECT sum(n), sum(s) FROM ({totals})").fetchone()
    top = con.execute(" UNION ALL ".join(star_parts) +
                      " ORDER BY SDAEXP DESC, SDDOCO LIMIT 10").fetchall()
    con.close()
    rows = [[str(o), name, str(od), item, money(q), money(a)]
            for o, name, od, item, q, a in top]
    return int(n), money(s), rows


QUALITY = ("silver.null_orderdate_rows", "scd2.new_versions", "scd2.changed_versions",
           "scd2.unchanged_keys", "scd2.dim_rows_out", "fact.orphan_rows",
           "fact.invalid_datekey_rows")


def lake_counts(lake, load_id, now):
    """Quality counts of one loaded lake, read by DuckDB from its parquet."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    silver = f"read_parquet('{lake}/silver/transactions/*.parquet')"
    fact = f"read_parquet('{lake}/gold/fact_sales/*/*.parquet', hive_partitioning=true)"
    dim = f"read_parquet('{lake}/gold/dim_customer/*.parquet')"
    dates = f"read_parquet('{lake}/gold/dim_date/*.parquet')"
    now = f"TIMESTAMPTZ '{now}+00'"
    first = "TIMESTAMPTZ '1900-01-01 00:00:00+00'"
    c = {}
    c["silver_rows"], c["silver.null_orderdate_rows"] = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE OrderDate IS NULL) FROM {silver}").fetchone()
    c["fact_rows"], c["fact.orphan_rows"], c["fact.invalid_datekey_rows"] = con.execute(f"""
        SELECT count(*),
          count(*) FILTER (WHERE f.CustomerKey IS NULL AND f.DateKey IS NOT NULL),
          count(*) FILTER (WHERE d.DateKey IS NULL)
        FROM {fact} f LEFT JOIN {dates} d ON f.DateKey = d.DateKey
        WHERE CAST(f.load_id AS VARCHAR) = '{load_id}'""").fetchone()
    (c["scd2.dim_rows_out"], c["scd2.new_versions"], c["scd2.changed_versions"],
     c["expired_versions"], c["scd2.unchanged_keys"]) = con.execute(f"""
        SELECT count(*),
          count(*) FILTER (WHERE CreatedDate = {now} AND ValidFrom = {first}),
          count(*) FILTER (WHERE CreatedDate = {now} AND ValidFrom = {now}),
          count(*) FILTER (WHERE ValidTo = {now}),
          count(*) FILTER (WHERE IsActive AND CreatedDate < {now})
        FROM {dim}""").fetchone()
    c["active_keys"], c["keys_without_one_active"] = con.execute(f"""
        SELECT count(*) FILTER (WHERE a > 0), count(*) FILTER (WHERE a <> 1)
        FROM (SELECT CustomerID, count(*) FILTER (WHERE IsActive) AS a
              FROM {dim} GROUP BY CustomerID)""").fetchone()
    c["all_fact_rows"], amount = con.execute(
        f"SELECT count(*), sum(ExtendedAmount) FROM {fact}").fetchone()
    c["extended_amount"] = str(amount)
    con.close()
    return c


def breaches(c, s):
    """Invariants of one load against the generator's seeded counts."""
    rules = [
        ("silver rows != F4211 rows", c["silver_rows"] == s["orders"]),
        ("fact rows != silver rows", c["fact_rows"] == c["silver_rows"]),
        ("not exactly one active row per CustomerID",
         c["keys_without_one_active"] == 0 and c["active_keys"] == s["customers"]),
        ("null OrderDate rows != seeded invalid dates",
         c["silver.null_orderdate_rows"] == s["invalidDates"]),
        ("invalid DateKey rows != seeded invalid dates",
         c["fact.invalid_datekey_rows"] == s["invalidDates"]),
        ("orphan fact rows != seeded orphans", c["fact.orphan_rows"] == s["orphans"]),
        ("new versions != seeded new keys", c["scd2.new_versions"] == s["newKeys"]),
        ("changed or expired versions != seeded changed keys",
         c["scd2.changed_versions"] == s["changedKeys"] == c["expired_versions"]),
        ("unchanged keys != seeded unchanged keys",
         c["scd2.unchanged_keys"] == s["unchangedKeys"]),
        # every key holds one row, plus one expired row per change
        ("dimension rows != keys + changed keys",
         c["scd2.dim_rows_out"] == s["customers"] + s["changedKeys"]),
    ]
    return [msg for msg, ok in rules if not ok]


def check_lake(result, bad):
    """Checks every loaded lake; returns the quality counts of the traced
    replays, medians per count."""
    checks = result["checks"]
    target = checks["landing"][-1]
    n, amount, top = duck_expectation(checks["landing"])
    traced = []
    for load in checks["loads"]:
        op = load["op"]
        c = lake_counts(load["lake"], target["load_id"], target["now"])
        why = breaches(c, checks["seeded"])
        if c["all_fact_rows"] != n:
            why.append(f"fact rows {c['all_fact_rows']} != DuckDB's {n}")
        if c["extended_amount"] != amount:
            why.append(f"sum ExtendedAmount {c['extended_amount']} != DuckDB's {amount}")
        if why:
            bad.setdefault(op, "; ".join(why))
        if load["top10"] is not None and load["top10"] != top:
            bad.setdefault(op + ".star", "top-10 star rows differ from DuckDB's")
        if op.startswith("trace") and not op.endswith(".entry"):
            traced.append(c)
    return {k: median([c[k] for c in traced]) for k in QUALITY} if traced else {}


def check_registry(result, bad):
    checks = result["checks"]
    r = subprocess.run([sys.executable, "tools/check.py", checks["tables"],
                        f"--out={checks['results']}", "--skip-verify", *checks["queries"]],
                       cwd=ROOT, capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name = rest.split(":")[0].split(" ")[0]
            verdicts[name] = line if word == "FAIL" else None
    for name in checks["queries"]:
        why = verdicts.get(name, f"no oracle verdict for {name}")
        if why:
            for op in result["ops"]:
                if op["name"] == f"verify:{name}" or op["name"].startswith(f"query:{name}#"):
                    bad[op["name"]] = why


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(result, ok_share):
    s = result["samples"]
    if result["checks"]["kind"] == "lake":
        host = REF_PROBE_S / min(s["host_probe_s"])
        own = {"load_ref_s": (median(s["load_s"]) * host, "s"),
               "star_query_ref_s": (median(s["star_query_s"]) * host, "s"),
               "lake_bytes_per_csv_byte": (median(s["lake_bytes_per_csv_byte"]), "ratio")}
    else:
        q = s["query_s"]
        own = {"registry_pass_s": (median(s["registry_pass_s"]), "s"),
               "query_p50_s": (median(q), "s"),
               "query_p95_s": (statistics.quantiles(q, n=20)[18], "s")}
    return {"setup_s": (median(s["setup_s"]), "s"), **own,
            "ok_share": (ok_share, "share"),
            "peak_rss_mb": (result["peak_rss_mb"], "MB")}


UNITS = {"s": "s", "rows": "count", "bytes_written": "bytes", "files_written": "count",
         "jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
         "gc_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "driver_s": "s", "core_busy_share": "share", "null_orderdate_rows": "count",
         "new_versions": "count", "changed_versions": "count", "unchanged_keys": "count",
         "dim_rows_out": "count", "orphan_rows": "count", "invalid_datekey_rows": "count",
         "concurrent_jobs_max": "count", "self_s": "s", "build_s": "s",
         "analysis_s": "s", "optimizer_s": "s", "planning_s": "s", "compiles": "count",
         "stages": "count", "driver_gap_s": "s", "run_s": "s", "cpu_s": "s",
         "write_bytes": "bytes", "bytes": "bytes", "overhead_s": "s"}


def per_layer(result, failed_share):
    out = {k: (v, UNITS[k.split(".", 1)[1]]) for k, v in sorted(result["layers"].items())}
    out["failed_share"] = (failed_share, "share")
    probes = result["samples"].get("host_probe_s")
    if probes:
        out["host.probe_s"] = (min(probes), "s")
    return out


def declared_metrics(workload, trace):
    """Metric names BENCHMARK.json declares for a listed workload, else None."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    bench = json.loads(spec.read_text())
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    os.chdir(ROOT)
    build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = ROOT / ".bench_out" / tag
    work = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    try:
        result = run_jvm(args, work, out_dir / "result.json", out_dir / "jvm.log", deadline)
        bad = {op["name"]: op["error"] for op in result["ops"] if op["error"]}
        if result["checks"]["kind"] == "lake":
            result["layers"].update(check_lake(result, bad))
        else:
            check_registry(result, bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(result["ops"])
    failed = len(bad)
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")
    for line in result["report"]:
        print(line)
    metrics = (per_layer(result, failed / attempted) if args.trace
               else end_to_end(result, (attempted - failed) / attempted))
    declared = declared_metrics(args.workload, args.trace)
    if declared is not None and set(metrics) != declared:
        fail(f"metrics {sorted(set(metrics) ^ declared)} disagree with BENCHMARK.json")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
