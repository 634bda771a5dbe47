#!/usr/bin/env python3
"""Collect and compare perfbench result sets.

    # run every listed workload once per seed, saving each result line
    python3 perfbench/compare.py collect <dir> [--workloads archive,battery]
        [--seeds 1-10] [--trace 0|1]

    # one set: per workload, each end-to-end metric's median, quartiles
    # and spread (IQR / median) against its bound
    python3 perfbench/compare.py show <dir>

    # two sets (parent, change): medians, quartiles, pairs won by seed,
    # "unresolved" where a spread exceeds the metric's bound, and the
    # per-layer deltas of the traced runs
    python3 perfbench/compare.py diff <parent_dir> <change_dir>

A result file is `<dir>/<workload>-<seed>-t<trace>.json`: the last line
`perfbench/run.py` printed.
"""
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def collect(out, workloads, seed_spec, trace):
    b = bench()
    os.makedirs(out, exist_ok=True)
    for s in seeds(seed_spec):
        for w in workloads:
            cmd = b["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                  str(b["run_seconds"]), "--trace", str(trace)]
            t0 = time.time()
            r = subprocess.run(cmd, capture_output=True, text=True)
            line = (r.stdout.strip().splitlines() or [""])[-1]
            if r.returncode != 0 or not line.startswith("{"):
                sys.stderr.write(r.stderr[-3000:])
                print(f"{w} seed {s}: FAILED (exit {r.returncode})")
                continue
            with open(os.path.join(out, f"{w}-{s}-t{trace}.json"), "w") as f:
                f.write(line + "\n")
            res = json.loads(line)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                            if trace == 0)
            print(f"{w} seed {s}: {time.time() - t0:.0f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {vals}",
                  flush=True)


def load(d, trace):
    """{workload: {seed: result}}"""
    out = {}
    for p in glob.glob(os.path.join(d, f"*-t{trace}.json")):
        w, s, _ = os.path.basename(p).rsplit("-", 2)
        with open(p) as f:
            out.setdefault(w, {})[int(s)] = json.load(f)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def values(runs, name):
    return {s: r["metrics"][name]["value"] for s, r in runs.items()
            if name in r["metrics"]}


def show(d):
    b = bench()
    for w, runs in sorted(load(d, 0).items()):
        failed = sum(r["failed"] for r in runs.values())
        attempted = sum(r["attempted"] for r in runs.values())
        print(f"{w}: {len(runs)} runs, failed {failed}/{attempted}")
        for m in b["end_to_end"]:
            xs = list(values(runs, m["name"]).values())
            q1, med, q3 = quartiles(xs)
            sp = spread(xs)
            flag = "ok" if sp <= m["bound"] / 3 else (
                "within bound" if sp <= m["bound"] else "UNRESOLVED")
            print(f"  {m['name']:<20} median {med:10.4g} {m['unit']:<4} "
                  f"[{q1:.4g}, {q3:.4g}] spread {sp:6.3f} "
                  f"(bound {m['bound']}) {flag}")


def diff(parent, change):
    b = bench()
    p0, c0 = load(parent, 0), load(change, 0)
    for w in sorted(set(p0) | set(c0)):
        pr, cr = p0.get(w, {}), c0.get(w, {})
        print(f"{w}: parent {len(pr)} runs, change {len(cr)} runs")
        for m in b["end_to_end"]:
            pv, cv = values(pr, m["name"]), values(cr, m["name"])
            if not pv or not cv:
                continue
            pq, cq = quartiles(list(pv.values())), quartiles(list(cv.values()))
            lower = m["better"] == "lower"
            paired = [s for s in pv if s in cv]
            won = sum((cv[s] < pv[s]) if lower else (cv[s] > pv[s]) for s in paired)
            delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            worse = delta if lower else -delta
            unresolved = max(spread(list(pv.values())),
                             spread(list(cv.values()))) > m["bound"]
            verdict = ("unresolved" if unresolved else
                       "WORSE beyond bound" if worse > m["bound"] else
                       "better" if worse < 0 else "within bound")
            print(f"  {m['name']:<20} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                  f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
                  f"  {delta:+.1%}  won {won}/{len(paired)}  {verdict}")
    p1, c1 = load(parent, 1), load(change, 1)
    for w in sorted(set(p1) & set(c1)):
        print(f"{w} per-layer (medians of traced runs):")
        for m in b["per_layer"]:
            pv = list(values(p1[w], m["name"]).values())
            cv = list(values(c1[w], m["name"]).values())
            if not pv or not cv:
                continue
            pm, cm = statistics.median(pv), statistics.median(cv)
            if pm == 0 and cm == 0:
                continue
            rel = f"{(cm - pm) / pm:+.1%}" if pm else "new"
            print(f"  {m['name']:<40} {pm:12.4g} -> {cm:12.4g} {m['unit']:<6} {rel}")


def main(argv):
    if len(argv) >= 2 and argv[0] == "collect":
        opts = dict(zip(argv[2::2], argv[3::2]))
        wl = opts.get("--workloads") or ",".join(
            x["name"] for x in bench()["workloads"])
        collect(argv[1], wl.split(","), opts.get("--seeds", "1-10"),
                int(opts.get("--trace", "0")))
    elif len(argv) == 2 and argv[0] == "show":
        show(argv[1])
    elif len(argv) == 3 and argv[0] == "diff":
        diff(argv[1], argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
