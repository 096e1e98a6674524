#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark between two checkouts.

    python3 tools/ab_pairs.py run --parent <checkout> --change <checkout>
        [--workloads a,b] [--seeds 51-60] [--out pairs.jsonl]
    python3 tools/ab_pairs.py show pairs.jsonl
    python3 tools/ab_pairs.py sets pairs.jsonl base.json new.json

``run`` makes one pair per (workload, seed): ``perfbench/run.py`` once in
each checkout, untraced, for the run length ``BENCHMARK.json`` sets,
with the side that goes first alternating from pair to pair so that
machine weather falls on both sides alike. Each run's result line is
appended to ``--out`` as it lands, so an interrupted session keeps what
it measured. ``show`` prints, per workload and end-to-end metric, each
side's median and quartiles, how many pairs the change won (ties count
for neither side), and whether a gain claim holds: the change wins at
least nine tenths of the pairs, over at least ten pairs, and its median
beats the parent's by more than the distance between the parent's
quartiles. ``sets`` splits the pairs into one result set per side in
the form ``perfbench/report.py compare`` reads, for the bound check.
The harness is only run, never imported or modified.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def bench_spec(root=ROOT):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def order(i):
    """The sides of pair ``i`` in the order they run."""
    return SIDES if i % 2 == 0 else SIDES[::-1]


def run_once(checkout, workload, seed, seconds):
    """One untraced run in ``checkout``: its result dict, or an error."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    return {"result": json.loads(lines[-1])}


def cmd_run(a):
    spec = bench_spec(a.change)
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in spec["workloads"]]
    checkouts = {"parent": a.parent, "change": a.change}
    i = 0
    for w in workloads:
        for seed in seeds(a.seeds):
            for side in order(i):
                rec = {"workload": w, "seed": seed, "side": side, "pair": i,
                       **run_once(checkouts[side], w, seed, spec["run_seconds"])}
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"{w} seed {seed} {side}: "
                      f"{rec.get('error') or 'correct=%s' % rec['result']['correct']}",
                      file=sys.stderr, flush=True)
            i += 1
    show(load(a.out), spec)


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def summarize(records, metric, better):
    """Per-side (q1, median, q3), pair wins of the change, pairs counted
    and whether the gain rule holds, for one workload's records."""
    vals = {}
    for r in records:
        if "result" in r and r["result"]["correct"]:
            vals[r["seed"], r["side"]] = r["result"]["metrics"][metric]["value"]
    pairs = [(vals[s, "parent"], vals[s, "change"])
             for s in sorted({s for s, _ in vals})
             if (s, "parent") in vals and (s, "change") in vals]
    if not pairs:
        return None
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    base = quartiles([p for p, _ in pairs])
    new = quartiles([c for _, c in pairs])
    gap = sign * (base[1] - new[1])
    holds = len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gap > base[2] - base[0]
    return {"parent": base, "change": new, "wins": wins, "pairs": len(pairs),
            "holds": holds}


def show(records, spec=None):
    spec = spec or bench_spec()
    for w in [x["name"] for x in spec["workloads"]]:
        rs = [r for r in records if r["workload"] == w]
        if not rs:
            continue
        bad = [r for r in rs if "result" not in r or not r["result"]["correct"]]
        print(f"\n== {w}: {len(rs)} runs, {len(bad)} errored or failed their check")
        for r in bad:
            print(f"   {r['side']} seed {r['seed']}: {r.get('error', 'output check failed')}")
        print(f"{'metric':<30}{'parent median [q1-q3]':>28}{'change median [q1-q3]':>28}"
              f"{'wins':>8}  gain rule")
        for m in spec["end_to_end"]:
            s = summarize(rs, m["name"], m["better"])
            if s is None:
                continue
            (pq1, pm, pq3), (cq1, cm, cq3) = s["parent"], s["change"]
            base = f"{pm:.4g} [{pq1:.4g}-{pq3:.4g}]"
            new = f"{cm:.4g} [{cq1:.4g}-{cq3:.4g}]"
            wins = f"{s['wins']}/{s['pairs']}"
            rule = "holds" if s["holds"] else "not met"
            print(f"{m['name']:<30}{base:>28}{new:>28}{wins:>8}  {rule} "
                  f"({(cm - pm) / pm * 100:+.1f} %)")


def result_sets(records, run_seconds):
    """The parent's and the change's runs as ``report.py`` result sets."""
    return tuple({"run_seconds": run_seconds,
                  "runs": [{"trace": 0, **{k: v for k, v in r.items()
                                           if k not in ("side", "pair")}}
                           for r in records if r["side"] == side]}
                 for side in SIDES)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", default=ROOT)
    r.add_argument("--workloads", default="")
    r.add_argument("--seeds", default="51-60")
    r.add_argument("--out", default="pairs.jsonl")
    s = sub.add_parser("show")
    s.add_argument("pairs")
    x = sub.add_parser("sets")
    x.add_argument("pairs")
    x.add_argument("base")
    x.add_argument("new")
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
    elif a.cmd == "show":
        show(load(a.pairs))
    else:
        for path, rs in zip((a.base, a.new), result_sets(
                load(a.pairs), bench_spec()["run_seconds"])):
            with open(path, "w") as f:
                json.dump(rs, f, indent=1)


if __name__ == "__main__":
    main()
