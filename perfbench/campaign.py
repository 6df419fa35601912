#!/usr/bin/env python3
"""Run the benchmark over several seeds and save one capture file.

    python3 perfbench/campaign.py OUT.json [--seeds 1-10] [--traced 1,2,3]
                                  [--workloads etl_dag,query_mix]

For every workload it runs ``run.py --trace 0`` once per seed, then
``--trace 1`` once per traced seed, and stores every result line in OUT
with the host it ran on. The first traced run's span tree goes to
``<OUT without .json>.<workload>.spans.jsonl``. ``compare.py`` reads these
captures: with one it prints the medians and spreads, with two it diffs
them.
"""
import argparse
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",") if s]


def host():
    model = ""
    try:
        model = next(l.split(":", 1)[1].strip() for l in open("/proc/cpuinfo")
                     if l.startswith("model name"))
    except (OSError, StopIteration):
        pass
    return {"cpus": os.cpu_count(), "cpu": model, "python": platform.python_version()}


def run_one(workload, seed, seconds, trace, spans=None):
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd + (["--spans", spans] if spans else []), cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    if res is None:
        sys.stderr.write(r.stderr[-3000:])
    print(f"{workload} seed={seed} trace={trace} rc={r.returncode} {wall:.1f}s",
          file=sys.stderr, flush=True)
    return {"seed": seed, "rc": r.returncode, "wall_s": wall, "result": res}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", default="")
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wls = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    cap = {"host": host(), "run_seconds": bench["run_seconds"], "workloads": {}}
    traced_seeds = seeds(a.traced)
    for w in wls:
        runs, traced = [], []
        # a traced run follows the untraced run of its seed, so the pair
        # that gives the tracing overhead shares the host's weather
        for s in sorted(set(seeds(a.seeds)) | set(traced_seeds)):
            if s in seeds(a.seeds):
                runs.append(run_one(w, s, bench["run_seconds"], 0))
            if s in traced_seeds:
                # the first traced run also leaves its span tree beside the capture
                spans = (f"{os.path.splitext(a.out)[0]}.{w}.spans.jsonl"
                         if s == traced_seeds[0] else None)
                traced.append(run_one(w, s, bench["run_seconds"], 1, spans))
        cap["workloads"][w] = {"runs": runs, "traced": traced}
        with open(a.out, "w") as f:
            json.dump(cap, f, indent=1)
    subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), a.out])


if __name__ == "__main__":
    main()
