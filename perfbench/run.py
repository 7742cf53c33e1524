#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload, one seed, one
fresh JVM.

    python3 perfbench/run.py --workload <gene_etl|neardup_shuffle|index_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (the engine's own build, see perfbench/build.sbt);
later runs reuse the build while the sources are unchanged. Each run
generates its input tables from the seed, runs the workload in a JVM
(`graftbench.Main`), checks every output, and prints as its last line
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
Everything it writes goes under `.bench_build/` in the checkout. It
exits non-zero when an output is wrong or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import outcheck  # noqa: E402

WORKLOADS = ("gene_etl", "neardup_shuffle", "index_serve")
# Input sizes: sf scales the TPC-H-ish tables (sf0.001 = 6k lineitem
# rows); events, documents and embeddings have their own counts.
SCALE = {"sf": 0.001, "n_events": 10_000, "n_docs": 1000, "n_vecs": 500}
# A fixed-size heap: a growable one makes VmHWM depend on when the
# collector decides to expand (peak_rss_mb spread 0.39 over 5 seeds on
# 4 cores with a growable 3 GiB heap).
HEAP = "1536m"
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Compile engine + benchmark once per source state; return the
    runtime classpath."""
    os.makedirs(work, exist_ok=True)
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(work, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed (see .bench_build/perfbench/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_jvm(cp, args, data, out, cores, budget_s):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--data", data, "--out", out,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--cores", str(cores)]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"JVM exceeded its {budget_s:.0f}s budget "
                             f"(log: {out}/jvm.log)")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"JVM exited with {rc}")
    with open(os.path.join(out, "raw.json")) as f:
        return json.load(f)


def main():
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no engine sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    cp = build(work)
    t_built = time.monotonic()

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    datagen.generate(data, args.seed, **SCALE)
    t_data = time.monotonic()
    budget = DEADLINE_S - (t_data - t_built) - 15
    try:
        ticks0 = cpu_ticks()
        raw = run_jvm(cp, args, data, os.path.join(run_dir, "out"), cores, budget)
        ticks1 = cpu_ticks()
        t_jvm = time.monotonic()
        check = outcheck.check(raw, data)
        log(f"inputs {t_data - t_built:.1f}s, jvm {t_jvm - t_data:.1f}s, "
            f"oracle check {time.monotonic() - t_jvm:.1f}s")
        report = metrics.summarize(raw, check)
        trace_path = None
        if args.trace:
            trace_path = os.path.join(
                work, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as f:
                json.dump(metrics.trace_file(raw, check), f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in metrics.report_lines(raw, check, report, cores):
        print(line)
    # time the hypervisor gave to other guests: a run slowed by it reads
    # slow in every metric at once
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"  cpu steal during the run: {100 * steal:.1f}%")
    if trace_path:
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    result = {
        "correct": check["ok"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {name: {"value": report["metrics"][name], "unit": unit}
                    for name, unit in wanted},
    }
    print(json.dumps(result), flush=True)
    log(f"done in {time.monotonic() - t_start:.1f}s")
    if not check["ok"] or report["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
