#!/usr/bin/env python3
"""Summarize one capture, or diff two, per workload and per layer.

    python3 perfbench/compare.py A.json [B.json]

For each workload and metric: the median, the spread (distance between the
first and third quartile as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them) and the run count; with
two captures also B's change against A as a share of A's median. End-to-end
metrics are checked against their bound in BENCHMARK.json: a spread above
the bound reads ``noisy``, a median worse than A's by more than the bound
reads ``WORSE`` (for the same code twice, that is the A/B stability check).
Per-layer rows come from the traced runs and carry no verdict. Counts
(attempted, failed) are summed over runs. The tracing overhead is the
median, over seeds run both ways, of traced ``trace.run_s`` against
untraced ``run_s``.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def stats(values):
    values = [v for v in values if v is not None]
    if not values:
        return None, None, 0
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0, 1
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0, len(values)


def collect(runs):
    by = {}
    for r in runs:
        res = r.get("result")
        for k, v in (res or {}).get("metrics", {}).items():
            by.setdefault(k, []).append(v["value"])
    counts = [sum((r.get("result") or {}).get(k, 0) for r in runs) for k in ("attempted", "failed")]
    return by, counts


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def main():
    caps = [json.load(open(p)) for p in sys.argv[1:3]]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    bad = 0
    for w in caps[0]["workloads"]:
        if any(w not in c["workloads"] for c in caps):
            continue
        for part in ("runs", "traced"):
            sides = [collect(c["workloads"][w][part]) for c in caps]
            if not any(s[0] for s in sides):
                continue
            print(f"\n== {w} ({'end-to-end' if part == 'runs' else 'per-layer, traced'}) "
                  + " | ".join(f"attempted={a} failed={f}" for _, (a, f) in sides))
            print(f"{'metric':44} {'median':>10} {'spread':>8} {'n':>3}"
                  + (f" {'B median':>10} {'spread':>8} {'n':>3} {'change':>8}" if len(caps) > 1 else ""))
            for k in sorted(set().union(*(s[0] for s in sides))):
                st = [stats(s[0].get(k, [])) for s in sides]
                row = f"{k:44} {fmt(st[0][0]):>10} {fmt(st[0][1]):>8} {st[0][2]:>3}"
                verdict = ""
                m = e2e.get(k) if part == "runs" else None
                if m and any(s[1] is not None and s[1] > m["bound"] for s in st
                             if k != "setup_s"):
                    verdict = " noisy"
                if len(st) > 1:
                    (a, _, _), (b, sb, nb) = st
                    ch = (b - a) / a if a and b is not None else None
                    row += f" {fmt(b):>10} {fmt(sb):>8} {nb:>3} {fmt(ch):>8}"
                    if m and ch is not None:
                        worse = ch if m["better"] == "lower" else -ch
                        if worse > m["bound"]:
                            verdict += " WORSE"
                bad += bool(verdict)
                print(row + verdict)
        # tracing overhead: traced against untraced run of the same seed
        for c in caps:
            plain = {r["seed"]: r["result"]["metrics"]["run_s"]["value"]
                     for r in c["workloads"][w]["runs"] if r.get("result")}
            pairs = [(r["result"]["metrics"]["trace.run_s"]["value"], plain[r["seed"]])
                     for r in c["workloads"][w]["traced"]
                     if r.get("result") and r["seed"] in plain]
            if pairs:
                ratio = statistics.median(t / u for t, u in pairs) - 1
                print(f"tracing overhead on run_s: {ratio:+.1%} (median of {len(pairs)} "
                      f"same-seed pairs, traced {statistics.median(t for t, _ in pairs):.4g}s"
                      f" vs {statistics.median(u for _, u in pairs):.4g}s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
