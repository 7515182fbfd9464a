#!/usr/bin/env python3
"""Steadiness and comparison tooling for the rvbench benchmark.

Run a workload R times (one seed each) and summarise every metric:

    python3 rvbench/steady.py run --workload tick_fleet --runs 10 --out a.jsonl

Compare two sets of runs against the bounds in BENCHMARK.json:

    python3 rvbench/steady.py compare a.jsonl b.jsonl

Tracing overhead (traced minus untraced end-to-end numbers, per workload):

    python3 rvbench/steady.py overhead untraced.jsonl traced.jsonl

Two commits in alternating pairs (each pair runs one seed on both
checkouts; which side runs first alternates):

    python3 rvbench/steady.py pairs --base ../parent --head . --workload api_mix \\
        --runs 10 --out pairs.jsonl

Every record carries the seed, nproc, JVM, Spark version and commit.
Quartiles are statistics.quantiles(values, n=4); spread is (q3 - q1) / median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def benchmark(repo=REPO):
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        return json.load(fh)


def commit(repo):
    try:
        out = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_once(repo, workload, seed, trace):
    """One benchmark run from the root of `repo`, for the `run_seconds` of
    its BENCHMARK.json; returns its record."""
    bench = benchmark(repo)
    seconds = bench["run_seconds"]
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=repo, capture_output=True, text=True)
    wall = time.time() - t0
    lines = proc.stdout.splitlines()
    detail = next((json.loads(l[len("[detail] "):]) for l in lines if l.startswith("[detail] ")), {})
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
    except (IndexError, ValueError):
        result = None
    return {
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "exit": proc.returncode, "wall_s": wall, "result": result,
        "nproc": detail.get("nproc"), "jvm": detail.get("jvm"), "spark": detail.get("spark"),
        "commit": commit(repo), "repo": os.path.abspath(repo),
        "checks": [l for l in lines if l.startswith("[check]")],
        "stderr_tail": proc.stderr[-2000:] if proc.returncode else "",
    }


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def by_metric(records):
    """{(workload, metric): [values]} over successful runs."""
    out = {}
    for r in records:
        if not r.get("result"):
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def summarise(records):
    print(f"{'workload':<14} {'metric':<38} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8}")
    for (wl, name), vals in sorted(by_metric(records).items()):
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{wl:<14} {name:<38} {len(vals):>3} {med:>14.6g} {q1:>14.6g} {q3:>14.6g} {spread:>8.3f}")
    bad = [r for r in records if not r.get("result") or not r["result"]["correct"]
           or r["result"]["failed"]]
    for r in bad:
        print(f"run {r['workload']} seed {r['seed']}: exit {r['exit']}, result {r.get('result')}",
              file=sys.stderr)
    walls = [r["wall_s"] for r in records]
    if walls:
        print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
              f"total {sum(walls):.0f} s over {len(walls)} runs")


def cmd_run(args):
    records = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        rec = run_once(REPO, args.workload, seed, args.trace)
        records.append(rec)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
        status = "ok" if rec["result"] and rec["result"]["correct"] else "FAILED"
        print(f"seed {seed}: {status} in {rec['wall_s']:.1f} s", file=sys.stderr)
    summarise(records)


def cmd_compare(args):
    bench = benchmark()
    a, b = by_metric(load(args.a)), by_metric(load(args.b))
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    worst = 0
    print(f"{'workload':<14} {'metric':<16} {'median A':>12} {'median B':>12} {'change':>8} "
          f"{'bound':>6} {'spread A':>8} {'spread B':>8}  verdict")
    for (wl, name) in sorted(set(a) & set(b)):
        if name not in bounds:
            continue
        m = bounds[name]
        qa, qb = quartiles(a[(wl, name)]), quartiles(b[(wl, name)])
        ma, mb = qa[1], qb[1]
        change = (mb - ma) / ma if ma else 0.0
        worse = change if m["better"] == "lower" else -change
        spread_a = (qa[2] - qa[0]) / ma if ma else 0.0
        spread_b = (qb[2] - qb[0]) / mb if mb else 0.0
        verdict = "worse than bound" if worse > m["bound"] else "within bound"
        if max(spread_a, spread_b) > m["bound"]:
            verdict += ", spread over bound"
            worst = 1
        worst = max(worst, int(worse > m["bound"]))
        print(f"{wl:<14} {name:<16} {ma:>12.6g} {mb:>12.6g} {change:>+8.3f} {m['bound']:>6.2f} "
              f"{spread_a:>8.3f} {spread_b:>8.3f}  {verdict}")
    sys.exit(worst)


def cmd_overhead(args):
    plain, traced = by_metric(load(args.untraced)), by_metric(load(args.traced))
    pairs = [("latency_p50_ms", "trace.latency_p50_ms"), ("throughput", "trace.throughput")]
    for wl in sorted({w for w, _ in plain}):
        for e2e, tr in pairs:
            if (wl, e2e) in plain and (wl, tr) in traced:
                u = statistics.median(plain[(wl, e2e)])
                t = statistics.median(traced[(wl, tr)])
                print(f"{wl:<14} {e2e:<16} untraced {u:>12.6g} traced {t:>12.6g} "
                      f"overhead {t - u:>+12.6g} ({(t - u) / u:+.3f})")


def cmd_pairs(args):
    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    for i, seed in enumerate(seeds):
        order = [("base", args.base), ("head", args.head)]
        if i % 2:
            order.reverse()
        for side, repo in order:
            rec = run_once(repo, args.workload, seed, 0)
            rec["side"] = side
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"pair {i} seed {seed} {side}: {rec['wall_s']:.1f} s", file=sys.stderr)
    records = load(args.out)
    for side in ("base", "head"):
        print(f"== {side}")
        summarise([r for r in records if r.get("side") == side])
    base = {r["seed"]: r for r in records if r.get("side") == "base" and r.get("result")}
    head = {r["seed"]: r for r in records if r.get("side") == "head" and r.get("result")}
    for m in benchmark(args.head)["end_to_end"]:
        wins = total = 0
        for seed in sorted(set(base) & set(head)):
            vb = base[seed]["result"]["metrics"][m["name"]]["value"]
            vh = head[seed]["result"]["metrics"][m["name"]]["value"]
            if vb != vh:
                total += 1
                wins += (vh < vb) if m["better"] == "lower" else (vh > vb)
        print(f"{m['name']:<16} head wins {wins} of {total} untied pairs")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run a workload over several seeds and summarise")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--trace", type=int, default=0, choices=(0, 1))
    r.add_argument("--out", help="append one JSON record per run to this file")
    r.set_defaults(fn=cmd_run)
    c = sub.add_parser("compare", help="two sets of runs against the bounds")
    c.add_argument("a")
    c.add_argument("b")
    c.set_defaults(fn=cmd_compare)
    o = sub.add_parser("overhead", help="traced minus untraced end-to-end numbers")
    o.add_argument("untraced")
    o.add_argument("traced")
    o.set_defaults(fn=cmd_overhead)
    p = sub.add_parser("pairs", help="alternating pairs of two checkouts")
    p.add_argument("--base", required=True, help="root of the parent commit's checkout")
    p.add_argument("--head", default=REPO, help="root of the change's checkout")
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=101)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_pairs)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
