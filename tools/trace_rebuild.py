#!/usr/bin/env python3
"""Job timeline of one traced medallion rebuild.

    python3 tools/trace_rebuild.py <checkout> <seed> [record.json]

Runs the benchmark's ``medallion_rebuild`` workload once, traced, in
``<checkout>`` (built and fed by ``perfbench/`` exactly as
``perfbench/run.py --trace 1`` is; the harness is imported, never
modified) and prints, for the first ``Pipeline.runFullEtl`` of the run,
one row per written table: its jobs, tasks, executor milliseconds,
shuffle-write bytes and start/end offsets from the rebuild's start.
Jobs with no SQL execution (schema inference of a parquet read, and the
like) get a row each. The per-layer counters of the run follow. The
whole run record is kept in ``record.json`` when it is given.
"""
import json
import os
import shutil
import sys
import time


def main():
    checkout, seed = sys.argv[1], int(sys.argv[2])
    sys.path.insert(0, os.path.join(checkout, "perfbench"))
    os.chdir(checkout)
    import gen
    import run
    import stats

    build, _ = run.ensure_build()
    inputs, _ = gen.ensure(run.CACHE, "medallion_rebuild", seed)
    work = os.path.join(run.CACHE, "runs", f"trace-rebuild-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    rec = run.run_jvm(build, "medallion_rebuild", inputs, work, 5, 1,
                      time.time() + run.RUN_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if len(sys.argv) > 3:
        with open(sys.argv[3], "w") as f:
            json.dump(rec, f)

    tr = rec["trace_record"]
    etl = next(s for s in tr["spans"] if s["name"] == "Pipeline.runFullEtl")
    t0 = etl["start"]
    jobs = [j for j in tr["jobs"] if t0 <= j["start"] <= etl["end"]]
    execs = {e["id"]: e for e in tr["executions"]}
    print(f"runFullEtl: {etl['end'] - t0} ms, {len(jobs)} jobs, "
          f"{sum(j['tasks'] for j in jobs)} tasks, "
          f"{sum(j['executor_run_ms'] for j in jobs)} executor ms, "
          f"{sum(j['shuffle_write_bytes'] for j in jobs)} shuffle bytes")
    rows = {}
    for j in jobs:
        e = execs.get(j["execution"])
        name = ((e.get("output") or e.get("description", "?")).rstrip("/").split("/")[-1]
                if e else f"(no SQL execution) {j['start'] - t0} ms")
        r = rows.setdefault(name, {"jobs": 0, "tasks": 0, "exec_ms": 0, "shuffle_B": 0,
                                   "start": j["start"] - t0, "end": 0})
        r["jobs"] += 1
        r["tasks"] += j["tasks"]
        r["exec_ms"] += j["executor_run_ms"]
        r["shuffle_B"] += j["shuffle_write_bytes"]
        r["end"] = max(r["end"], j["end"] - t0)
    cols = ["jobs", "tasks", "exec_ms", "shuffle_B", "start", "end"]
    print(f"{'write':<32}" + "".join(f"{c:>10}" for c in cols))
    for name, r in sorted(rows.items(), key=lambda kv: kv[1]["start"]):
        print(f"{name:<32}" + "".join(f"{r[c]:>10}" for c in cols))
    m = stats.layer_metrics(rec)
    for k in ["engine.jobs", "engine.tasks", "engine.executor_run_s",
              "engine.shuffle_write_bytes", "tables.jobs", "plans.jobs",
              "silver.jobs", "silver.shuffle_write_bytes",
              "gold.jobs", "gold.shuffle_write_bytes"]:
        print(f"{k} {m[k]:.4g}")


if __name__ == "__main__":
    main()
