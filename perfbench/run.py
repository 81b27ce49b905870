#!/usr/bin/env python3
"""KG-construction benchmark: build the program from source, run one workload.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere inside a checkout; everything it writes goes under the
checkout's build directory ($CARGO_TARGET_DIR if it is relative, else
`.bench_build`). The first run builds the program and the harness with sbt
(perfbench/build.sbt depends on the program's own build at the repository
root) and caches the runtime classpath keyed on the sources' sizes and
modification times; later runs start the JVM directly.

One run is one JVM process: a single driver thread on a local[nproc] Spark
session (see perfbench/src/main/scala/perfbench/Main.scala). The last stdout
line is the result JSON; the lines before it name every reading with its
unit. Exit status is non-zero when any output check failed, and also when no
result could be produced (for example when the program's sources are absent).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# prepare_sweep and curate_corpus run only when named: BENCHMARK.json does not
# declare them (see README.md)
WORKLOADS = ["detect_bucketed", "prepare_sweep", "materialize_resume", "curate_corpus"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (the same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if os.path.isabs(d):
        d = ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(out):
    """Compile program + harness once per source state; return the java argfile."""
    argfile = os.path.join(out, "classpath.args")
    stamp_file = os.path.join(out, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(argfile) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return argfile
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    # every dependency comes from the local caches: the build never fetches
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as logf:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf, stdin=subprocess.DEVNULL,
            text=True, timeout=BUILD_TIMEOUT_S)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(f"perfbench: build failed (exit {proc.returncode}); see {log}\n")
        sys.exit(2)
    with open(argfile, "w") as f:
        f.write("-cp\n" + lines[-1].strip() + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return argfile


def declared_metrics(trace):
    """[(name, unit)] of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [(m["name"], m["unit"]) for m in b["per_layer" if trace else "end_to_end"]]


def run_one(argfile, out, workload, seed, seconds, trace):
    """Run one workload in one JVM; return (exit code, result dict or None)."""
    work = os.path.join(out, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: a growing one speeds iterations up for as long as it grows
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--metrics", ",".join(f"{n}={u}" for n, u in declared_metrics(trace)),
              "--trace-dir", os.path.join(out, "traces")])
    err_path = os.path.join(out, f"stderr-{workload}.log")
    with open(err_path, "w") as errf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=errf,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S}s\n")
            return 1, None
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    for l in lines[:-1]:
        if l.startswith("perfbench "):
            print(l)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(f"perfbench: {workload} produced no result (exit {proc.returncode})\n")
        return proc.returncode or 1, None
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.stderr.write("perfbench: the program's sources are not in this checkout\n")
        sys.exit(2)
    out = build_dir()
    argfile = build(out)

    if args.workload != "all":
        code, result = run_one(argfile, out, args.workload, args.seed, args.seconds, args.trace)
        if result is None:
            sys.exit(code or 1)
        print(json.dumps(result))
        sys.exit(code)

    results, worst = {}, 0
    for w in WORKLOADS:
        print(f"perfbench workload {w}")
        code, result = run_one(argfile, out, w, args.seed, args.seconds, args.trace)
        worst = worst or code or (1 if result is None else 0)
        results[w] = result
        if result is not None:
            for name, m in result["metrics"].items():
                print(f"perfbench {w} {name} {m['value']} {m['unit']}")
    print(json.dumps(results))
    sys.exit(worst)


if __name__ == "__main__":
    main()
