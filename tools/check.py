#!/usr/bin/env python3
"""Local replica of the driver's correctness loop:
run graft.Verify on an SF dir, then run each oracle SQL in DuckDB over the
same tables and diff against the Spark parquet output (columns sorted by
name, rows sorted by all columns, floats compared to 1e-9 rel).

Usage: tools/check.py [sfdir] [out] [query ...]
"""
import json, math, subprocess, sys, glob, os, time

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(sys.argv[3:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run_verify():
    cp = "target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"] + [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx8g", "-Dspark.ui.enabled=false", "-cp", cp, "graft.Verify", SF, OUT] + (
        [",".join(sorted(ONLY))] if ONLY else [])
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  !", line)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)

def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v

def compare(name, sql):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    try:
        # Driver hashes typed values: DuckDB HUGEINT (int128, from sum() over
        # ints) never hash-matches Spark BIGINT even when values agree. Flag it.
        hug = [c for c, t, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
               if "HUGE" in t]
        if hug:
            return f"HUGEINT-IN-ORACLE {hug} (cast to BIGINT)"
        oracle = con.execute(sql).fetch_df()
    except Exception as e:
        return f"ORACLE-ERR {e}"
    spark_files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not spark_files:
        return "NO-SPARK-OUTPUT"
    # The same hash caveat on the SPARK side: an emitted DECIMAL column
    # never hash-matches the oracle's render of the same values (r15's only
    # two red rows, q43/p25, were exactly the two emitted-decimal queries
    # — bit-identical values, hash-red). Decimal math belongs INSIDE the
    # plan; emit BIGINT where the envelope provably fits, else a digits
    # string. PropertySpec pins the same class at the schema level.
    dec = [c for c, t, *_ in con.execute(
        f"DESCRIBE (SELECT * FROM read_parquet('{OUT}/{name}/*.parquet'))").fetchall()
        if "DECIMAL" in t.upper()]
    if dec:
        return f"DECIMAL-IN-SPARK-OUTPUT {dec} (emit BIGINT or digits-string)"
    got = con.execute(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").fetch_df()
    o = oracle.reindex(sorted(oracle.columns), axis=1)
    g = got.reindex(sorted(got.columns), axis=1)
    if list(o.columns) != list(g.columns):
        return f"COLS oracle={list(o.columns)} spark={list(g.columns)}"
    if len(o) != len(g):
        return f"ROWS oracle={len(o)} spark={len(g)}"
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    bad = 0
    for c in o.columns:
        for i, (a, b) in enumerate(zip(o[c], g[c])):
            if a is None and b is None:
                continue
            try:
                an, bn = float(a), float(b)
                if math.isnan(an) and math.isnan(bn):
                    continue
                if abs(an - bn) <= 1e-9 * max(1.0, abs(an)):
                    continue
            except (TypeError, ValueError):
                if str(a) == str(b):
                    continue
            bad += 1
            if bad <= 3:
                print(f"    diff {name}.{c}[{i}]: oracle={a!r} spark={b!r}")
    return "OK" if bad == 0 else f"{bad} DIFFS"

def main():
    start = time.time()
    run_verify()
    with open(f"{OUT}/oracle_sql.json") as f:
        oracle = json.load(f)
    results, walls = {}, {}
    for name in sorted(oracle):
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        results[name] = compare(name, oracle[name])
        walls[name] = time.time() - t0
        print(f"  {name}: {results[name]} ({walls[name]:.1f} s)", flush=True)
    # every query is oracle-checked, so an output this run wrote without an
    # oracle fails (a run-derived oracle that was never registered or
    # confirmed); stale dirs of a reused OUT and names outside ONLY are skipped
    for d in sorted(glob.glob(f"{OUT}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracle or (ONLY and name not in ONLY) or os.path.getmtime(d) < start:
            continue
        results[name] = "NO-ORACLE"
        print(f"  {name}: {results[name]}")
    print("slowest compares: " + ", ".join(
        f"{n} {w:.1f} s" for n, w in sorted(walls.items(), key=lambda kv: -kv[1])[:5]))
    nbad = sum(1 for v in results.values() if v != "OK")
    print(f"{'ALL GREEN' if nbad == 0 else f'{nbad} FAILING'} ({len(results)} checked)")
    sys.exit(1 if nbad else 0)

if __name__ == "__main__":
    main()
