#!/usr/bin/env python3
"""The repository benchmark: migrate / curate / board, end to end and per layer.

    python3 perfbench/run.py --workload {migrate,curate,board} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  The first run builds the program and
the harness from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged.  Each run generates
its inputs from the seed, starts one JVM on local[nproc], sets up and
warms up, measures closed-loop iterations for S seconds, checks the
outputs, and prints one JSON line last: the end-to-end metrics with
--trace 0, the per-layer metrics (from a traced run) with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("migrate", "curate", "board")
# The program's own JVM options (build.sbt, tools/run_main.sh), default
# GC and JIT threads, but a fixed 3 GiB heap with a 1 GiB young
# generation in place of its -Xmx8g: under G1's adaptive sizing the
# peak RSS of identical runs spread 2.5-3.9 GiB.  Fixed, it tracks the
# live set: 400 MiB held live for the whole run raised it by 412 MiB
# on curate and by 216 MiB on board (4-core host, one run each).
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-Dstdout.encoding=UTF-8"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def number(v):
    """JSON has no NaN: a figure that was not measured reads 0."""
    return 0.0 if v is None or v != v else float(v)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project",
                                                          "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
            timeout=840).returncode
    with open(log) as f:
        out = f.read().splitlines()
    cps = [ln for ln in out if ln and not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        die(f"build failed (log: {log})", 1)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def generate(workload, seed, work):
    """Generate the inputs three times; returns (dir, median seconds).
    The board reads fixed tables and generates nothing."""
    if workload == "board":
        return gen.BOARD_DATA, 0.0
    times = []
    for k in range(3):
        d = os.path.join(work, f"inputs-{k}")
        t0 = time.perf_counter()
        gen.GENERATORS[workload](d, seed)
        times.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(d)
    return os.path.join(work, "inputs-0"), statistics.median(times)


def run_jvm(cp, a, inputs, work, deadline):
    result = os.path.join(work, "result.json")
    jvm_work = os.path.join(work, "jvm")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--inputs", inputs, "--work", jvm_work, "--result", result])
    if a.plant:
        cmd += ["--plant", a.plant]
    # the JVM switches the program's telemetry itself (Trace.enable)
    env = {k: v for k, v in os.environ.items()
           if k != "DISABLE_TELEMETRY_VECTORIO"}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(result):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"{a.workload} JVM exited with {rc}", 1)
    with open(result) as f:
        return json.load(f)


def check_outputs(workload, res, work, inputs):
    """Oracle checks outside the JVM.  Returns the run's
    (attempted, failed, notes), counting the JVM's own checks."""
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if workload == "migrate":
        return attempted, failed, []
    import oracle  # reads the checkout's tools/check.py
    dump = os.path.join(work, "jvm", "oracle")
    cache = os.path.join(BUILD, "oracle-cache") if workload == "board" else None
    verdicts = oracle.compare(dump, inputs, cache)
    bad = {q for q, why in verdicts.items() if why is not None}
    notes = [f"{q}: {verdicts[q]}" for q in sorted(bad)]
    if workload == "curate":
        return attempted, failed + len(bad), notes
    # board: a query fails once, whichever check it fails.  Queries
    # without oracle SQL are checked by row count, which must be
    # non-zero and the same in the dump and in the timed passes.
    with open(os.path.join(dump, "timed_rows.json")) as f:
        timed = json.load(f)
    with open(os.path.join(dump, "threw.json")) as f:
        bad |= set(json.load(f))
    dumped = oracle.dumped_rowcounts(dump)
    unchecked = [q for q in timed if q not in verdicts]
    for q in unchecked:
        if dumped.get(q) != timed[q] or timed[q] == 0:
            bad.add(q)
            notes.append(f"{q}: rows dumped={dumped.get(q)} timed={timed[q]}")
    return attempted + len(verdicts) + len(unchecked), len(bad), notes


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("row", "digest", "probe"),
                    help="plant a fault in migrate (tests only): an altered "
                    "row at the target, a flipped digest, or a fault probe "
                    "that injects no 429s")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources under {ROOT}/src/main/scala/graft; "
            "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build
    # 180 s for a run, plus whatever the build took on a first run
    deadline = t_start + build_s + 170

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s = generate(a.workload, a.seed, work)
        t_jvm = time.time()
        res = run_jvm(cp, a, inputs, work, deadline)
        t_check = time.time()
        attempted, failed, notes = check_outputs(a.workload, res, work, inputs)
        print(f"[perfbench] run phases: build {build_s:.1f} s, jvm "
              f"{t_check - t_jvm:.1f} s (finish {res['finish_s']:.1f} s), checks "
              f"{time.time() - t_check:.1f} s, total {time.time() - t_start:.1f} s;"
              " warm-up walls " + " ".join(f"{w:.3f}" for w in res["warmup_walls"])
              + "; iteration walls " + " ".join(f"{w:.3f}" for w in res["wall_s"]),
              file=sys.stderr)
        if a.trace:
            spans = os.path.join(work, "result.json.spans.json")
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                BUILD, "traces", f"{a.workload}-{a.seed}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wall = statistics.median(res["wall_s"])
    items = {"migrate": res["details"].get("rows"),
             "curate": res["details"].get("docs"),
             "board": res["details"].get("queries")}[a.workload]
    e2e = {
        "setup_s": gen_s + res["setup_s"],
        "wall_s": wall,
        "cpu_s": statistics.median(res["cpu_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "items_per_s": items / wall,
    }
    # every timing is a median over this many timed iterations (board
    # query percentiles: over query_samples)
    details = dict(res["details"], failed_ratio=failed / max(attempted, 1),
                   timed_iterations=len(res["wall_s"]),
                   iterations=res["iterations"],
                   iterations_failed=res["iterations_failed"], setup_gen_s=gen_s,
                   setup_boot_s=res["boot_s"],
                   setup_prepare_s=res["prepare_s"][0],
                   setup_warmup_s=res["warmup_s"])
    for n in notes:
        print(f"[perfbench] check failed: {n}", file=sys.stderr)
    print(f"[perfbench] {a.workload} seed={a.seed}: " + " ".join(
        f"{k}={number(v):.6g}" for k, v in sorted(details.items())))
    # a traced run prints every per-layer metric; a layer this workload
    # does not exercise reads 0
    values = res["layers"] if a.trace else e2e
    want = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": number(values.get(m["name"])),
                           "unit": m["unit"]} for m in want}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
