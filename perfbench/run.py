#!/usr/bin/env python3
"""Pipeline benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
source with the benchmark's own sbt build (``perfbench/build.sbt``) and
records a class-data-sharing archive for faster JVM start; later runs
reuse both until a source file changes. Inputs are generated from the
seed (``gen.py``) and cached per (workload, seed).

The run starts one JVM, sets up the workload, measures ``--seconds`` of
timed work, checks every output (``check.py``) and prints, as the last
line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
# a fixed young generation makes peak RSS track live data, not GC sizing
YOUNG = "1g"
RUN_LIMIT_S = 175     # a run must end inside the 180 s allowance
BUILD_LIMIT_S = 400   # each build step; the first run may take 900 s
E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
             "op_tail_s": "s", "bytes_stored_per_input_byte": "ratio",
             "peak_rss_mb": "MB"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def du(paths):
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ------------------------------------------------------------------ build

def source_digest():
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(src):
        raise BenchError(f"program sources not found under {src}")
    files = sorted(glob.glob(f"{src}/**/*", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Compile the program with the harness once per source digest, then
    record a class-data-sharing archive of the classes a set-up loads."""
    digest = source_digest()
    out = os.path.join(CACHE, "build")
    stamp = os.path.join(out, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest and os.path.exists(b["archive"]):
            return b, False
    log("building the program and the harness (first run in this checkout)")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
    with open(os.path.join(out, "sbt.log")) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        raise BenchError("sbt build failed:\n" + "\n".join(lines[-20:]))
    cp = [l for l in lines if l.count(os.pathsep) > 3 and ".jar" in l][-1].split(os.pathsep)
    jars = glob.glob(os.path.join(HERE, "target", "scala-*", "perfbench_*.jar"))
    if len(jars) != 1:
        raise BenchError(f"expected one packaged jar, found {jars}")
    # the archive takes classes from jars only, so the packaged jar
    # replaces the class directory
    cp = [jars[0] if e.rstrip("/").endswith("classes") else e for e in cp]
    b = {"digest": digest, "classpath": os.pathsep.join(cp),
         "archive": os.path.join(out, "classes.jsa")}
    # Without the archive the JVM and session start take twice as long
    # (14.6 s against 7.2 s to a first job on a 4-core VM), which every
    # run pays. One untimed set-up of the rebuild records it.
    train = os.path.join(out, "train")
    run_jvm(b, "medallion_rebuild", gen.ensure(CACHE, "medallion_rebuild", 0)[0], train,
            0, 0, time.time() + BUILD_LIMIT_S,
            [f"-XX:ArchiveClassesAtExit={b['archive']}"])
    shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump(b, f, indent=1)
    return b, True


# -------------------------------------------------------------------- run

def run_jvm(build, workload, inputs, work, seconds, trace, deadline, cds=None):
    """Run perfbench.Main once; ``cds`` replaces the flags that use the
    class-data-sharing archive (the build records it with its own)."""
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    if cds is None:
        cds = [f"-XX:SharedArchiveFile={build['archive']}", "-Xlog:cds=off",
               "-Xlog:cds+dynamic=off"]
    # setup_s runs from this moment, the JVM's launch, to the first timed step
    launched = time.time_ns() // 1_000_000
    cmd = (["java", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", *cds,
            f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", build["classpath"], "perfbench.Main",
            "--workload", workload, "--inputs", inputs, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace),
            "--launched", str(launched), "--cpus", str(cpus()), "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("the JVM did not finish in time")
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read().splitlines()[-30:]
        raise BenchError(f"the JVM exited with {p.returncode}:\n" + "\n".join(tail))
    with open(out) as f:
        return json.load(f)


def measure(workload, seed, seconds, trace):
    """One run; returns (result line dict, run record, check notes). The
    run's work directory is kept only when the run is not correct."""
    start = time.time()
    build, built = ensure_build()
    inputs, manifest = gen.ensure(CACHE, workload, seed)
    work = os.path.join(CACHE, "runs", f"{workload}-{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    # a build has its own allowance; the JVM leaves time for the checks
    deadline = (time.time() if built else start) + RUN_LIMIT_S - 25
    keep = True
    try:
        rec = run_jvm(build, workload, inputs, work, seconds, trace, deadline)
        failed_steps, notes, extra = check.check(rec, inputs, work)
        ops = rec["ops"]
        failed = sum(1 for o in ops if not o["ok"] or o["step"] in failed_steps)
        for o in ops:
            o["ok"] = o["ok"] and o["step"] not in failed_steps
        if trace:
            values = stats.layer_metrics(rec)
            values.update(extra)
            metrics = {n: {"value": values[n], "unit": u}
                       for n, u in stats.per_layer_names()}
        else:
            in_bytes = input_bytes(workload, manifest, rec)
            values = stats.end_to_end(rec, in_bytes, du(rec["stored_dirs"]))
            metrics = {n: {"value": values[n], "unit": E2E_UNITS[n]} for n in E2E_UNITS}
        bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
        if bad:
            raise BenchError(f"no value for {', '.join(bad)}")
        result = {"correct": failed == 0 and not notes, "attempted": len(ops),
                  "failed": failed, "metrics": metrics}
        keep = not result["correct"]
        return result, rec, notes
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def input_bytes(workload, manifest, rec):
    files = manifest["files"]
    if workload == "incremental_batches":
        n = rec["workload_record"]["batches_processed"]
        return sum(v for k, v in files.items() if k.startswith("batches/")
                   and int(k.split("/")[1]) < n)
    if workload == "corpus_admission":
        return files["src/documents.parquet"] + files["src/embeddings.parquet"]
    return sum(files.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result, rec, notes = measure(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    for n in notes:
        log(f"check failed: {n}")
    lat = [round(o["latency_s"], 2) for o in rec["ops"] if o["ok"]]
    log(f"{a.workload} seed {a.seed}: set-up {rec['setup_s']:.2f} s, "
        f"op latencies {lat} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
