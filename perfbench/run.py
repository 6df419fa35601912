#!/usr/bin/env python3
"""graft end-to-end benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_dag|corpus_build|query_mix \
        --seed N --seconds S --trace 0|1

Builds the harness (perfbench/build.py), generates the seeded input
(perfbench/gen.py, timed apart from set-up), runs one JVM that does a cold
pass and then warm passes for S seconds (perfbench/harness), checks every
pass's outputs, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from a run with listeners on)
with ``--trace 1``. Progress and a per-metric summary go to stderr.
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_dag", "corpus_build", "query_mix")
ETL_COPIES = 1
CORPUS_DOCS = 1000
JVM_TIMEOUT_S = 160
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")

ETL_STAGES = ["sense_customer", "ingest_customer", "staging_customer",
              "sense_orders", "ingest_orders", "staging_orders", "quality",
              "curate_scd2", "curate_join", "merge", "archive"]
CORPUS_STAGES = ["sense", "gate_quality", "gate_expectations", "gate_fk",
                 "filter", "dedup", "gate_drift", "decontaminate", "split",
                 "pack"]
FAMILIES = ["q", "p", "d", "s", "t", "m", "st"]
# etl_dag outputs and the oracle each is compared to
ETL_ORACLES = {"raw_customer": "raw_customer", "raw_orders": "raw_orders",
               "staging_customer": "p2_staging_customer",
               "staging_orders": "p3_staging_orders",
               "quality_report": "p4_quality_checks",
               "curated_user_scd2": "p5_scd2_user",
               "curated_customer": "p6_curated_join",
               "merged_orders": "p7_incremental_merge"}
MEASURED_FROM = 2  # pass 0 cold, pass 1 warm-up
# queries whose timed (bench) form differs from the oracle-checked form
BENCH_TWINS = {"q18_approx_stats"}
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def family(name):
    return "st" if name.startswith("st") else name[0]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- inputs

def base_dir(sf):
    """Seed-independent base tables, generated once per checkout."""
    d = os.path.join(DATA, f"base{sf}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.base(d, sf)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def make_input(workload, seed):
    """Returns (input dir, dir to delete after the run or None)."""
    if workload == "query_mix":
        return base_dir(0.01), None
    d = os.path.join(DATA, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    if workload == "etl_dag":
        gen.etl(base_dir(0.1), d, seed, ETL_COPIES)
    else:
        gen.corpus(base_dir(0.1), d, seed, CORPUS_DOCS)
    return d, d


def query_order(seed):
    """The committed stratified sample, interleaved in a seed-derived order."""
    names = [l.strip() for l in open(os.path.join(HERE, "query_mix.txt"))
             if l.strip() and not l.startswith("#")]
    import random
    random.Random(seed).shuffle(names)
    return names


# ---------------------------------------------------------------- harness

def run_harness(workload, input_dir, work, seconds, trace, seed):
    classes = build.build()
    out = os.path.join(work, "records.jsonl")
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # no hsperfdata file in the system temp dir: write only in the checkout
           + ["-XX:-UsePerfData", "-Xmx3g", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", f"{classes}:{build.SPARK_JARS}/*", "perfbench.Harness",
              workload, input_dir, work, str(seconds), str(trace), out])
    if workload == "query_mix":
        cmd.append(",".join(query_order(seed)))
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s")
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out) as f:
        return [json.loads(l) for l in f if l.strip()]


# ---------------------------------------------------------------- checks

def scan(path):
    """DuckDB table function over a parquet file or a dir of part files."""
    return (f"read_parquet('{path}/*.parquet')" if os.path.isdir(path)
            else f"read_parquet('{path}')")


def tables_in(d):
    return {f[:-len(".parquet")]: os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet")}


def oracle_diff(tables, sql, out):
    """None if `out` holds the oracle's rows, else what differs. Same rules
    as tools/check.py: columns by name, rows in sorted order, floats equal
    to 1e-9 relative."""
    import duckdb
    con = duckdb.connect()
    try:
        for t, p in tables.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {scan(p)}")
        want_cols = sorted(r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall())
        got_cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {scan(out)}").fetchall())
        if want_cols != got_cols:
            return f"columns {got_cols} != oracle {want_cols}"
        sel = ", ".join(f'"{c}"' for c in want_cols)
        want = con.execute(f"SELECT {sel} FROM ({sql}) ORDER BY ALL").fetchall()
        got = con.execute(f"SELECT {sel} FROM {scan(out)} ORDER BY ALL").fetchall()
    except duckdb.Error as e:
        return f"oracle error: {e}"
    finally:
        con.close()
    if len(want) != len(got):
        return f"rows {len(got)} != oracle {len(want)}"

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return (a == b or (math.isnan(a) and math.isnan(b))
                    or abs(a - b) <= 1e-9 * max(1.0, abs(a)))
        return a == b
    bad = sum(not same(a, b) for w, g in zip(want, got) for a, b in zip(w, g))
    return f"{bad} values differ from oracle" if bad else None


def fingerprint(path):
    """(rows, order-insensitive hash) of a parquet dir or file. Columns in
    name order; floats rendered to 10 significant digits."""
    import duckdb
    con = duckdb.connect()
    src = scan(path)
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    rend = [f"printf('%.9e', \"{c}\")" if t in ("DOUBLE", "FLOAT") else f"CAST(\"{c}\" AS VARCHAR)"
            for c, t, *_ in cols]
    rows, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({', '.join(rend)})), 0) AS VARCHAR) FROM {src}"
    ).fetchone()
    con.close()
    return rows, h


def oracle_for(workload, name, oracles):
    """The DuckDB oracle an output is compared to, if it has one."""
    if workload == "corpus_build" or name in BENCH_TWINS:
        return None
    return oracles.get(ETL_ORACLES.get(name, name))


def check_output(workload, name, path, input_dir, oracles, expected):
    """None if the output is right, else why not. Order: oracle, then the
    committed fingerprint (row count only for nondeterministic outputs)."""
    if not glob.glob(os.path.join(path, "*.parquet")) and not os.path.isfile(path):
        return "missing output"
    oracle = oracle_for(workload, name, oracles)
    if oracle:
        return oracle_diff(tables_in(input_dir), oracle, path)
    exp = expected.get(workload, {}).get(name)
    if exp is None:
        return "no expectation"
    rows, h = fingerprint(path)
    if rows != exp["rows"]:
        return f"rows {rows} != {exp['rows']}"
    if name not in expected.get("nondeterministic", {}).get(workload, []) and h != exp["hash"]:
        return "fingerprint mismatch"
    return None


def corpus_extra_checks(input_dir, pass_dir, oracles):
    """Oracles the corpus build has: the t11 funnel's survivor count for the
    filter stage, and t12 packing re-derived from the train split."""
    import duckdb
    fails = {}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{input_dir}/documents.parquet')")
    want = con.execute(f"SELECT n_out FROM ({oracles['t11_filter_funnel']})"
                       " ORDER BY rule_idx DESC LIMIT 1").fetchone()[0]
    filtered = f"{pass_dir}/filtered/documents.parquet"
    got = con.execute(f"SELECT count(*) FROM {scan(filtered)}").fetchone()[0] \
        if os.path.isdir(filtered) else None
    if got is not None and got != want:
        fails["filtered"] = f"rows {got} != t11 funnel {want}"
    con.close()
    train, packed = f"{pass_dir}/train/documents.parquet", f"{pass_dir}/packed.parquet"
    if os.path.isdir(train) and os.path.isdir(packed):
        res = oracle_diff({"documents": train}, oracles["t12_sequence_pack"], packed)
        if res:
            fails["packed"] = res
    return fails


# pipeline outputs and the stage that writes each; a query's output is its own
PRODUCER = {"raw_customer": "ingest_customer", "raw_orders": "ingest_orders",
            "staging_customer": "staging_customer", "staging_orders": "staging_orders",
            "quality_report": "quality", "curated_user_scd2": "curate_scd2",
            "curated_customer": "curate_join", "merged_orders": "merge",
            "filtered": "filter", "deduped": "dedup", "clean": "decontaminate",
            "train": "split", "packed": "pack"}


def check_passes(workload, recs, input_dir, record=False):
    """Output-check failures of every pass: {(pass, op): reason}."""
    oracles = next(r for r in recs if r["kind"] == "oracles")["sql"]
    expected = load_json("expected.json")
    fails = {}
    produced = {}
    for p in (r for r in recs if r["kind"] == "pass" and r["outputs"]):
        extra = {}
        if workload == "corpus_build":
            pass_dir = os.path.dirname(os.path.dirname(p["outputs"][0]["dir"]))
            extra = corpus_extra_checks(input_dir, pass_dir, oracles)
        for o in p["outputs"]:
            why = extra.get(o["name"]) or check_output(
                workload, o["name"], o["dir"], input_dir, oracles, expected)
            produced[o["name"]] = o["dir"]
            if why:
                fails[(p["pass"], PRODUCER.get(o["name"], o["name"]))] = why
    if record:
        record_fingerprints(workload, produced, oracles)
    return fails


def record_fingerprints(workload, produced, oracles):
    """Commit the current outputs' fingerprints as the expectation for the
    outputs that have no oracle (run on the parent commit only)."""
    path = os.path.join(HERE, "expected.json")
    exp = load_json("expected.json")
    ent = exp.setdefault(workload, {})
    for name, p in sorted(produced.items()):
        if not oracle_for(workload, name, oracles) and os.path.exists(p):
            rows, h = fingerprint(p)
            ent[name] = {"rows": rows, "hash": h}
    with open(path, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


# ---------------------------------------------------------------- metrics

def union_len(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def end_to_end(recs, attempted, failed):
    """Pass 0 is the cold pass (set-up), pass 1 a warm-up; the measured
    passes follow. Op latency: each op's median over the measured passes,
    then the percentile over ops."""
    warm = [r for r in recs if r["kind"] == "pass" and r["pass"] >= MEASURED_FROM]
    per_op = {}
    for r in recs:
        if r["kind"] == "op" and r["pass"] >= MEASURED_FROM and r["ok"]:
            per_op.setdefault(r["name"], []).append(r["end_ms"] - r["start_ms"])
    ops = sorted(median(v) for v in per_op.values()) or [0.0]
    q = statistics.quantiles(ops, n=10, method="inclusive") if len(ops) > 1 else ops * 9
    setup = next(r for r in recs if r["kind"] == "setup")
    heap = next(r for r in recs if r["kind"] == "heap")
    return {
        "setup_s": (setup["setup_s"], "s"),
        "run_s": (median([p["wall_s"] for p in warm]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
        "heap_live_mb": (heap["mb"], "MB"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "op_p50_s": (median(ops) / 1e3, "s"),
        "op_p90_s": (q[8] / 1e3, "s"),
    }


def per_layer(workload, recs, result_rows):
    """Per-layer metrics of the median warm pass, plus the cold pass's
    codegen counts."""
    cores = next(r for r in recs if r["kind"] == "setup")["cores"]
    passes = [r for r in recs if r["kind"] == "pass"]
    ops = [r for r in recs if r["kind"] == "op"]
    jobs = {r["job"]: dict(r) for r in recs if r["kind"] == "job_start"}
    stage_job = {s: j for j, r in jobs.items() for s in r["stages"]}
    stages = [r for r in recs if r["kind"] == "stage"]
    tasks = [r for r in recs if r["kind"] == "task"]
    qes = [r for r in recs if r["kind"] == "qe"]
    progress = [r for r in recs if r["kind"] == "progress"]
    unp = [r for r in recs if r["kind"] == "unpersist"]

    def pass_of_job(j):
        op = jobs[j].get("op") or ""
        return int(op.split("/")[0]) if "/" in op else None

    def op_of_job(j):
        op = jobs[j].get("op") or ""
        return op.split("/", 1)[1] if "/" in op else None

    per_pass = []
    for p in passes:
        i, lo, hi = p["pass"], p["start_ms"], p["end_ms"]
        pops = [o for o in ops if o["pass"] == i]
        dur = {o["name"]: (o["end_ms"] - o["start_ms"]) / 1e3 for o in pops}
        pjobs = [j for j in jobs if pass_of_job(j) == i]
        pst = [s for s in stages if stage_job.get(s["stage"]) in jobs
               and pass_of_job(stage_job[s["stage"]]) == i]
        sum_ = lambda k: sum(s[k] for s in pst)
        m = {}
        for st in ETL_STAGES + CORPUS_STAGES:
            m[f"pipeline.stage_s.{st}"] = dur.get(st, 0.0) if workload != "query_mix" else 0.0
        m["pipeline.runner_gap_s"] = (p["wall_s"] - sum(dur.values())) if workload != "query_mix" else 0.0
        m["pipeline.attempts"] = sum(o["attempts"] for o in pops) if workload != "query_mix" else 0
        pq = [q for q in qes if lo <= q["start_ms"] <= hi]
        # the scans' file bytes: task input metrics undercount parquet reads
        read, written = sum(q["scan_bytes"] for q in pq), sum_("out_bytes")
        m["pipeline.bytes_written"] = written
        m["pipeline.write_amp"] = written / read if read else 0.0
        m["scan.bytes_read"] = read
        m["scan.rows_read"] = sum_("in_rows")
        scans = [s for s in pst if s["in_rows"] > 0]
        m["scan.tasks_per_scan"] = sum(s["tasks"] for s in scans) / len(scans) if scans else 0.0
        m["spark.jobs"] = len(pjobs)
        m["spark.tasks_per_job"] = sum_("tasks") / len(pjobs) if pjobs else 0.0
        # span time with no task running, summed over the pass's ops
        by_op = {}
        stage_ids = {s["stage"] for s in pst}
        for t in tasks:
            if t["stage"] in stage_ids:
                by_op.setdefault(op_of_job(stage_job[t["stage"]]), []).append((t["start_ms"], t["end_ms"]))
        m["spark.driver_gap_s"] = sum(
            (o["end_ms"] - o["start_ms"]) - union_len(by_op.get(o["name"], []), o["start_ms"], o["end_ms"])
            for o in pops) / 1e3
        m["spark.core_util"] = sum_("run_ms") / ((hi - lo) * cores)
        m["spark.shuffle_write_bytes"] = sum_("sw_bytes")
        m["spark.shuffle_read_bytes"] = sum_("sr_bytes")
        m["spark.spill_bytes"] = sum_("spill_bytes")
        m["spark.fetch_wait_s"] = sum_("fetch_ms") / 1e3
        m["spark.task_cpu_s"] = sum_("cpu_ns") / 1e9
        m["spark.gc_s"] = sum_("gc_ms") / 1e3
        m["spark.failed_tasks"] = sum(1 for t in tasks if t["failed"] and t["stage"] in stage_ids)
        m["plan.analysis_s"] = sum(q["analysis_ms"] for q in pq) / 1e3
        m["plan.optimization_s"] = sum(q["optimization_ms"] for q in pq) / 1e3
        m["plan.planning_s"] = sum(q["planning_ms"] for q in pq) / 1e3
        m["codegen.compiles"] = p["compiles"]
        m["codegen.compile_s"] = p["compile_s"]
        for f in FAMILIES:
            m[f"operators.family_s.{f}"] = sum(
                d for n, d in dur.items() if workload == "query_mix" and family(n) == f)
        # candidates examined per result returned, d and s families
        ds = [o for o in pops if workload == "query_mix" and family(o["name"]) in ("d", "s")]
        cand = sum(q["join_rows"] for q in pq for o in ds if o["start_ms"] <= q["start_ms"] <= o["end_ms"])
        out_rows = sum(result_rows.get(o["name"], 0) for o in ds)
        m["operators.join_rows_per_output_row"] = cand / out_rows if out_rows else 0.0
        if workload == "query_mix":
            pu = [u for u in unp if u["pass"] == i]
            m["checkpoint.rdds"] = sum(u["rdds"] for u in pu)
            m["checkpoint.unpersist_s"] = sum(u["unpersist_s"] for u in pu)
        else:
            m["checkpoint.rdds"] = p["rdds"]
            m["checkpoint.unpersist_s"] = p["unpersist_s"]
        pp = [g for g in progress if lo <= g["ms"] <= hi]
        m["stream.batches"] = len(pp)
        m["stream.batch_s"] = sum(g["batch_ms"] for g in pp) / 1e3
        m["stream.state_rows"] = sum(g["state_rows"] for g in pp)
        m["trace.run_s"] = p["wall_s"]
        per_pass.append((i, m))
    cold = next(m for i, m in per_pass if i == 0)
    # one pass stands for the run, so its stage times and runner gap add
    # up to its wall: the warm pass with the median wall (lower middle)
    warm = sorted((m for i, m in per_pass if i >= MEASURED_FROM), key=lambda m: m["trace.run_s"])
    res = dict(warm[(len(warm) - 1) // 2])
    res["codegen.setup_compiles"] = cold["codegen.compiles"]
    res["codegen.setup_compile_s"] = cold["codegen.compile_s"]
    return res


def spans(recs):
    """The traced run's span tree, pass -> op -> Spark job -> Spark stage,
    each span with its self time: its duration minus the part of it that
    its children cover."""
    out = []
    for p in (r for r in recs if r["kind"] == "pass"):
        out.append({"id": f"p{p['pass']}", "parent": None, "level": "pass",
                    "name": f"pass{p['pass']}", "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
    for o in (r for r in recs if r["kind"] == "op"):
        out.append({"id": f"p{o['pass']}/{o['name']}", "parent": f"p{o['pass']}", "level": "op",
                    "name": o["name"], "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
    ends = {r["job"]: r["ms"] for r in recs if r["kind"] == "job_end"}
    stage_job = {}
    for j in (r for r in recs if r["kind"] == "job_start"):
        stage_job.update({s: j["job"] for s in j["stages"]})
        op = j.get("op") or ""
        out.append({"id": f"j{j['job']}", "parent": f"p{op}" if "/" in op else None,
                    "level": "job", "name": f"job{j['job']}", "start_ms": j["ms"],
                    "end_ms": ends.get(j["job"], j["ms"])})
    for st in (r for r in recs if r["kind"] == "stage"):
        out.append({"id": f"s{st['stage']}.{st['attempt']}",
                    "parent": f"j{stage_job[st['stage']]}" if st["stage"] in stage_job else None,
                    "level": "stage", "name": f"stage{st['stage']}", "start_ms": st["submit_ms"],
                    "end_ms": st["end_ms"], "tasks": st["tasks"], "run_ms": st["run_ms"]})
    kids = {}
    for sp in out:
        kids.setdefault(sp["parent"], []).append((sp["start_ms"], sp["end_ms"]))
    for sp in out:
        dur = sp["end_ms"] - sp["start_ms"]
        sp["self_ms"] = dur - union_len(kids.get(sp["id"], []), sp["start_ms"], sp["end_ms"])
    return out


def per_layer_units():
    return {m["name"]: m["unit"] for m in load_json("../BENCHMARK.json")["per_layer"]}


def result_rows_of(recs):
    """Row count of each output the run checked (query_mix: each query)."""
    return {o["name"]: fingerprint(o["dir"])[0]
            for r in recs if r["kind"] == "pass" for o in r["outputs"]
            if os.path.exists(o["dir"])}


def summarize(workload, recs, fails, trace):
    """The result object: op counts from every pass, failures from the
    harness (stage/query status) and the output checks."""
    ops = [r for r in recs if r["kind"] == "op"]
    failed_ops = {(o["pass"], o["name"]) for o in ops if not o["ok"]} | set(fails)
    attempted = len(ops)
    failed = len(failed_ops)
    if trace:
        units = per_layer_units()
        vals = per_layer(workload, recs, result_rows_of(recs))
        metrics = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(recs, attempted, failed).items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="with --trace 1, write the span tree here as JSON lines")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="store this run's no-oracle output fingerprints in expected.json")
    a = ap.parse_args()
    for need in ("src/main/scala", "tools/gen_sf1.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from a graft checkout")
    t0 = time.time()
    build.build()
    t1 = time.time()
    input_dir, scratch = make_input(a.workload, a.seed)
    t2 = time.time()
    log(f"build {t1 - t0:.1f}s, input generation {t2 - t1:.1f}s")
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        recs = run_harness(a.workload, input_dir, work, a.seconds, a.trace, a.seed)
        fails = check_passes(a.workload, recs, input_dir, a.record_fingerprints)
        for (p, name), why in sorted(fails.items()):
            log(f"check failed: pass {p} {name}: {why}")
        for o in recs:
            if o["kind"] == "op" and not o["ok"]:
                log(f"op failed: pass {o['pass']} {o['name']}: {o['error'][:300]}")
        res = summarize(a.workload, recs, fails, a.trace)
        if a.spans and a.trace:
            with open(a.spans, "w") as f:
                f.writelines(json.dumps(sp) + "\n" for sp in spans(recs))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if scratch:
            shutil.rmtree(scratch, ignore_errors=True)
    for k, v in res["metrics"].items():
        log(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    log(f"fail_ratio = {res['failed'] / res['attempted']:.4g} "
        f"({res['failed']}/{res['attempted']}), input generation {t2 - t1:.2f}s")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
