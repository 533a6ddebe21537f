#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload engagement|curation --seed N \\
        --seconds S --trace 0|1 [--rebuild-oracle]

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/harness), then every run launches the JVM
directly. Inputs are generated from the seed and cached per seed
(.bench_data/), outside the timed region. The harness runs set-up, a cold
first pass that writes every output, timed warm passes for --seconds, and
the untimed check writes; DuckDB then checks every output
(perfbench/check.py).

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(ROOT, ".bench_data")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")

# Noise settings (README: "Noise findings")
THREADS = min(2, len(os.sched_getaffinity(0)))
HEAP = "2g"          # -Xms equal to -Xmx, touched at start: steady peak RSS
# The JVM runs C1 only (-XX:TieredStopAtLevel=1): C2 compiles through every
# pass of a run this short, and its compile threads made pass CPU twice as
# large and far noisier. C1 alone gets a 48 MB code cache, which filled in
# the second or third pass: the JIT was switched off and the code-cache
# sweeper burned 5-7 CPU-seconds in whichever pass that was. 256 MB holds a
# whole run (about 54 MB after five curation passes).


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for d in (os.path.join(ROOT, "project"),):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources in the current directory; run from the root of a checkout")
    stamp = _stamp()
    launch = os.path.join(BUILD, "launch")
    try:
        with open(os.path.join(launch, "stamp")) as f, \
                open(os.path.join(launch, "classpath.txt")) as g:
            if f.read() == stamp and all(map(os.path.exists, g.read().strip().split(os.pathsep))):
                return launch
    except OSError:
        pass
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true"]
    if os.path.isfile(os.path.expanduser("~/.sbt/repositories")):
        cmd.append("-Dsbt.override.build.repos=true")
    cmd.append("launchSpec")
    t0 = time.monotonic()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(cmd, cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"build failed (exit {r.returncode})")
    shutil.rmtree(launch, ignore_errors=True)
    shutil.copytree(os.path.join(HARNESS, "target", "launch"), launch)
    with open(os.path.join(launch, "stamp"), "w") as f:
        f.write(stamp)
    print(f"built in {time.monotonic() - t0:.1f} s")
    return launch


def jvm(launch, work, args, timeout):
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(launch, "jvm-options.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith(("-Xmx", "-Xms"))]
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", *opts, "-cp", cp, "graftbench.Main",
           "--work", work, "--threads", str(THREADS), "--out", out]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"harness exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def checks(workload, res, data, work):
    """Returns (ops whose output is wrong, ops that failed). Each failed op
    counts every attempt it made as failed."""
    cdir = os.path.join(work, "check")
    ops = res["ops"]
    raised = {n for n in ops if res["failures"].get(n)}
    # ingest steps are named <family>_b<batch>, and a property check covers
    # a family; fuzzy_export_keep_longest is checked by property too
    ingest_ops = [n for n in ops if re.search(r"_b\d+$", n)]
    names = [n for n in ops if n not in ingest_ops and n not in raised
             and n != "fuzzy_export_keep_longest"]
    wrong = set(check.registry(data, cdir, work, names))
    if ingest_ops:
        bad = set(check.ingest(data, cdir, work))
        wrong |= {n for n in ingest_ops if n.rsplit("_b", 1)[0] in bad}
    if workload == "curation":
        if "fuzzy_export_keep_longest" not in raised:
            wrong |= set(check.keep_longest(data, cdir, work, "fuzzy_export_keep_longest"))
        if check.keep_longest(data, cdir, work, "fuzzy_export_keep_longest__twin"):
            print("warning: the keep-longest property fails on its working twin", file=sys.stderr)
    return wrong - raised, raised


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["engagement", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rebuild-oracle", action="store_true",
                    help="drop this seed's cached DuckDB answers and recompute them")
    a = ap.parse_args()

    t_start = time.monotonic()
    launch = build()
    data, gen_s = gen.ensure(CACHE, a.seed)
    if gen_s:
        print(f"generated inputs for seed {a.seed} in {gen_s:.1f} s")
    if a.rebuild_oracle:
        shutil.rmtree(os.path.join(data, "oracle"), ignore_errors=True)
    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t_jvm = time.monotonic()
    res = jvm(launch, work, {"workload": a.workload, "data": data, "seconds": a.seconds,
                             "trace": a.trace}, timeout=165)
    t_check = time.monotonic()
    wrong, raised = checks(a.workload, res, data, work)
    t_end = time.monotonic()
    for n, msg in res["errors"].items():
        print(f"failed: {n}: {msg}")
    for n in sorted(wrong):
        print(f"wrong output: {n}")

    passes = res["passes"]
    attempted = passes * len(res["ops"])
    failed = sum(passes if n in wrong or n in raised else 0 for n in res["ops"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        print(f"tracing overhead: {res['trace.overhead_pct']:+.2f}% of pass time")
    # a layer the workload does not run reads 0
    metrics = {m["name"]: {"value": float(res.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    print(f"phases: build+inputs {t_jvm - t_start:.1f} s, jvm {t_check - t_jvm:.1f} s, "
          f"checks {t_end - t_check:.1f} s")
    print(f"timed passes: {res['timed_passes']}, wall {', '.join(f'{x:.3f}' for x in res['pass_walls'])} s, "
          f"cpu {', '.join(f'{x:.2f}' for x in res['pass_cpus'])} s")
    print(f"wall: first_pass_s {res['first_pass_s']} pass_s {res['pass_s']}")
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
