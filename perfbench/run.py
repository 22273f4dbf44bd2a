#!/usr/bin/env python3
"""graft benchmark: seeded inputs, three workloads against graft's public
API, every output checked against an independent computation.

    python3 perfbench/run.py --workload graft_images --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(`--selftest` runs each workload's checks on perturbed outputs instead).
The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
See perfbench/README.md."""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
DATA = os.path.join(build.OUT, "data")
WORK = os.path.join(build.OUT, "work")
LOGS = os.path.join(build.OUT, "logs")

WORKLOADS = ("graft_images", "osm_buckets", "knn_poi")
# generated inputs kept per workload (older seeds are deleted)
KEEP_INPUTS = 12
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(main, args, log, flags=()):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main] + [str(a) for a in args]
    with open(log, "a") as fh:
        fh.write("\n$ " + " ".join(cmd[-len(args) - 1:]) + "\n")
        fh.flush()
        # Spark's scratch space stays in the checkout, whatever the environment says
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=fh, stderr=fh, cwd=ROOT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{main} timed out; see {log}")
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"{main} exited with {code}; see {log}")


def inputs(workload, seed, stamp, log):
    """Generated inputs for (workload, seed), cached on disk. The key holds
    the build's stamp of every source: the generator writes through graft's
    own code (PbfWriter, Images, ImageTable), so a change to graft or to the
    generator regenerates."""
    d = os.path.join(DATA, f"{workload}-s{seed}-{stamp[:10]}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        # generation is not measured: the client compiler alone starts faster
        java("graftbench.Gen", [workload, seed, d], log, ["-XX:TieredStopAtLevel=1"])
        open(os.path.join(d, "DONE"), "w").close()
    os.utime(d)
    mine = sorted((p for p in os.listdir(DATA) if p.startswith(workload + "-")),
                  key=lambda p: os.path.getmtime(os.path.join(DATA, p)))
    for old in mine[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(DATA, old), ignore_errors=True)
    return d


def launch(workload, data, cores, warm_s, mode, log):
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    launched = int(time.time() * 1000)
    java("graftbench.Run", [workload, data, cores, warm_s, mode, launched, out], log)
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    return res


def declared():
    """Unit of every metric BENCHMARK.json declares, by name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def metrics(values):
    units = declared()
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def timed(workload, data, seconds, log):
    r = launch(workload, data, nproc(), seconds, "timed", log)
    if not r["warm_s"]:  # a failed job ended the run before a warm one
        return [r], {}
    return [r], metrics({
        "setup_s": r["setup_s"],
        "first_job_s": r["first_job_s"],
        "rows_per_s": r["rows"] / statistics.median(r["warm_s"]),
        "storage_peak_mb": statistics.median(r["storage_peak_mb"]),
    })


def traced(workload, data, log):
    n = nproc()
    r = launch(workload, data, n, 0, "traced", log)
    # the same job at one core, in a JVM of its own: cold job, one warm job
    one = launch(workload, data, 1, 0, "scale", log)
    if not one["warm_s"]:
        return [r, one], {}
    layers = dict(r["layers"])
    layers["run.scaling_eff"] = one["warm_s"][0] / (n * r["untraced_s"])
    return [r, one], metrics(layers)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the checks on perturbed outputs; each must fail")
    a = ap.parse_args()
    for d in (DATA, WORK, LOGS):
        os.makedirs(d, exist_ok=True)
    log = os.path.join(LOGS, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    with open(log, "w") as fh:
        stamp = build.build(log=fh)
    data = inputs(a.workload, a.seed, stamp, log)
    for stale in os.listdir(WORK):
        if stale.startswith(a.workload + "-"):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    if a.selftest:
        r = launch(a.workload, data, nproc(), 0, "selftest", log)
        print("\n".join(r["selftest"]))
        print(json.dumps({"correct": not r["errors"], "errors": r["errors"]}))
        return
    runs, m = traced(a.workload, data, log) if a.trace else timed(a.workload, data, a.seconds, log)
    errors = [e for r in runs for e in r["errors"]]
    for e in errors[:20]:
        sys.stderr.write(f"check: {e}\n")
    print(json.dumps({
        "correct": not errors,
        "attempted": int(sum(r["attempted"] for r in runs)),
        "failed": int(sum(r["failed"] for r in runs)),
        "metrics": m,
    }))


if __name__ == "__main__":
    main()
