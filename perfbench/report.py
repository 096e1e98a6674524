#!/usr/bin/env python3
"""Report and compare benchmark result sets.

    python3 perfbench/report.py run [--workloads a,b] [--seeds 1-10]
                                    [--trace] [--out results.json]
    python3 perfbench/report.py show results.json
    python3 perfbench/report.py compare base.json new.json

``run`` measures every workload once per seed (with ``--trace`` a traced
run follows each untraced one) and saves the result set. ``show`` prints,
for each workload, every metric by name and unit with its median,
quartiles, sample count and spread (interquartile distance over median),
the output-check outcome and error rate, and -- for traced sets -- the
per-layer medians and the tracing overhead (traced op median over
untraced op median). ``compare`` checks each end-to-end metric of ``new``
against ``base`` with the bounds in ``BENCHMARK.json`` and fails (exit
1) on any worse metric, any workload missing from either set and any
run that errored or failed its output check.
"""
import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def bench_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def cmd_run(a):
    spec = bench_spec()
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in spec["workloads"]]
    out = {"run_seconds": spec["run_seconds"], "runs": []}
    for w in workloads:
        for seed in seeds(a.seeds):
            for trace in ([0, 1] if a.trace else [0]):
                t0 = time.time()
                try:
                    res, rec, notes = run.measure(w, seed, spec["run_seconds"], trace)
                except run.BenchError as e:
                    print(f"{w} seed {seed} trace {trace}: FAILED {e}", file=sys.stderr)
                    out["runs"].append({"workload": w, "seed": seed, "trace": trace,
                                        "error": str(e)})
                    continue
                lat = [o["latency_s"] for o in rec["ops"]
                       if o["ok"] and o["kind"] == stats.OP_KIND[w]]
                out["runs"].append({"workload": w, "seed": seed, "trace": trace,
                                    "result": res, "notes": notes,
                                    "op_latencies": lat, "setup_s": rec["setup_s"],
                                    "wall_s": time.time() - t0})
                m = res["metrics"]
                brief = ", ".join(f"{k}={v['value']:.4g}" for k, v in m.items()) \
                    if not trace else f"{len(m)} per-layer metrics"
                print(f"{w} seed {seed} trace {trace}: correct={res['correct']} "
                      f"{brief}", file=sys.stderr, flush=True)
                with open(a.out, "w") as f:
                    json.dump(out, f, indent=1)
    show(out)


def show(rs):
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    by_w = {}
    for r in rs["runs"]:
        by_w.setdefault(r["workload"], []).append(r)
    for w, runs in by_w.items():
        ok = [r for r in runs if "result" in r]
        plain = [r for r in ok if r["trace"] == 0]
        traced = [r for r in ok if r["trace"] == 1]
        attempted = sum(r["result"]["attempted"] for r in ok)
        failed = sum(r["result"]["failed"] for r in ok)
        checks = sum(1 for r in ok if r["result"]["correct"])
        print(f"\n== {w}: {len(runs)} runs, output check passed in {checks}/{len(ok)}, "
              f"error_rate {failed}/{attempted} = {failed / max(1, attempted):.4f}")
        if plain:
            print(f"{'metric':<32}{'unit':<8}{'median':>12}{'q1':>12}{'q3':>12}"
                  f"{'n':>4}{'spread':>8}{'bound':>7}")
            for name, unit in run.E2E_UNITS.items():
                vals = [r["result"]["metrics"][name]["value"] for r in plain]
                s = stats.summary(vals)
                print(f"{name:<32}{unit:<8}{s['median']:>12.4f}{s['q1']:>12.4f}"
                      f"{s['q3']:>12.4f}{s['n']:>4}{stats.spread(vals):>8.3f}"
                      f"{bounds.get(name, float('nan')):>7.2f}")
            lat = [x for r in plain for x in r["op_latencies"]]
            p, v = stats.tail(lat)
            print(f"pooled op latency: median {statistics.median(lat):.3f} s, "
                  f"p{p} {v:.3f} s over {len(lat)} ops; run wall median "
                  f"{statistics.median(r.get('wall_s', 0) for r in plain):.1f} s")
        if traced:
            print(f"{'per-layer metric':<44}{'unit':<8}{'median':>14}{'n':>4}")
            for name, unit in stats.per_layer_names():
                vals = [r["result"]["metrics"][name]["value"] for r in traced]
                print(f"{name:<44}{unit:<8}{statistics.median(vals):>14.4f}{len(vals):>4}")
            if plain:
                t = statistics.median(x for r in traced for x in r["op_latencies"])
                u = statistics.median(x for r in plain for x in r["op_latencies"])
                print(f"tracing overhead (traced / untraced op median): {t / u:.3f}")


def compare(base, new):
    """Number of failures: a workload with no untraced run in either set,
    a run that errored or failed its output check, or a metric whose
    median got worse by more than its bound."""
    spec = bench_spec()
    failures = 0
    plain = {}
    for label, rs in (("base", base), ("new", new)):
        for w in [x["name"] for x in spec["workloads"]]:
            runs = [r for r in rs["runs"] if r["workload"] == w and r["trace"] == 0]
            bad = [r for r in runs if "result" not in r or not r["result"]["correct"]]
            for r in bad:
                why = r.get("error") or "; ".join(r.get("notes", [])) or "output check failed"
                print(f"FAIL {label} {w} seed {r['seed']}: {why}")
            if not runs:
                print(f"FAIL {label} {w}: no runs")
            failures += len(bad) + (not runs)
            plain[label, w] = [r for r in runs if r not in bad]
    for m in spec["end_to_end"]:
        for w in [x["name"] for x in spec["workloads"]]:
            vals = {k: [r["result"]["metrics"][m["name"]]["value"] for r in plain[k, w]]
                    for k in ("base", "new")}
            if not vals["base"] or not vals["new"]:
                continue  # already counted above
            b, n = statistics.median(vals["base"]), statistics.median(vals["new"])
            change = (n - b) / b if m["better"] == "lower" else (b - n) / b
            verdict = "worse" if change > m["bound"] else "ok"
            failures += verdict == "worse"
            print(f"{w:<22}{m['name']:<30}{b:>12.4f}{n:>12.4f}  "
                  f"{'+' if change >= 0 else ''}{change * 100:.1f}% worse-bound "
                  f"{m['bound'] * 100:.0f}%  {verdict}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", default="")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", default=os.path.join(run.CACHE, "results.json"))
    s = sub.add_parser("show")
    s.add_argument("results")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
    elif a.cmd == "show":
        with open(a.results) as f:
            show(json.load(f))
    else:
        with open(a.base) as f, open(a.new) as g:
            sys.exit(1 if compare(json.load(f), json.load(g)) else 0)


if __name__ == "__main__":
    main()
