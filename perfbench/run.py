#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
harness with sbt into the checkout; later runs reuse the build while
the sources are unchanged. This script starts the harness (a JVM),
and while its Spark session starts, generates the inputs from the seed
(three times, keeping the last copy, so set-up time is a median). The
harness warms up, runs the workload for the given seconds (three
operations at the least) and exports its outputs; this script then
checks the outputs against an independent DuckDB computation and
prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: every
end-to-end metric with `--trace 0`, every per-layer metric with
`--trace 1`. A failed check exits 1 after printing; a missing program,
a failed build, a failed harness or a metric that is not a finite
number exits 2 to 5 without printing a result.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("elt_daily", "query_mix")

# end-to-end metrics: name -> unit (README.md defines each per workload)
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "task_cpu_s": "s",
    "write_amp": "B/B",
}

SETUP_REPS = 3
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "B"
    return "count"


def sources_digest(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src", os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project"), os.path.join("perfbench", "src")]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else []
        for d, dirs, names in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    digest = sources_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=780)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("build failed; last lines of %s:\n%s\n" % (log, "\n".join(lines[-20:])))
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.stderr.write("no graft sources under %s: run from the root of a checkout\n" % root)
        sys.exit(2)
    bench_build = os.path.join(root, ".bench_build")
    cp = build(root, os.path.join(bench_build, "perfbench"))

    work = os.path.join(bench_build, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))

    inputs = os.path.join(work, "input")
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + os.path.join(work, "derby")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--input", inputs, "--work", work,
              "--cores", str(cores)])
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    gen_s = []
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            # the harness waits for the last copy's meta.json
            for rep in range(SETUP_REPS):
                last = rep == SETUP_REPS - 1
                copy = inputs if last else "%s%d" % (inputs, rep)
                g0 = time.time()
                meta = gen.generate(args.workload, args.seed, copy, cores)
                gen_s.append(time.time() - g0)
                if not last:
                    shutil.rmtree(copy)
            rc = proc.wait(timeout=160)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("harness failed (rc=%s after %.0f s); log tail:\n%s"
                         % (rc, time.time() - t0, "".join(tail)))
        sys.exit(4)

    out_dir = os.path.join(work, "out")
    with open(os.path.join(out_dir, "result.json")) as f:
        result = json.load(f)
    mismatches, failed_ops = checks.run(args.workload, result, out_dir)
    ops = result["ops"]
    attempted = len(ops)
    failed = len({o["i"] for o in ops if o["failures"]} | failed_ops)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(result["per_layer"].items())}
        checks.write_layer_report(result, os.path.join(out_dir, "layers.md"))
    else:
        e2e = dict(result["end_to_end"], setup_s=statistics.median(gen_s)
                   + result["session_s"] + result["warmup_s"])
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])]
    if bad:
        sys.stderr.write("metrics without a finite value: %s\n" % ", ".join(bad))
        sys.exit(5)
    stamp = dict(result["stamp"], workload=args.workload, seed=args.seed,
                 seconds=args.seconds, trace=args.trace, ops=attempted,
                 op_parts_s=[{p["name"]: p["s"] for p in o["parts"]} for o in ops],
                 inputs=meta, generate_s=gen_s, session_s=result["session_s"],
                 warmup_s=result["warmup_s"],
                 failures=[x for o in ops for x in o["failures"]], mismatches=mismatches)
    print(json.dumps({"stamp": stamp}))
    for m in mismatches:
        sys.stderr.write("check failed: %s\n" % m)
    print(json.dumps({"correct": not mismatches and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
