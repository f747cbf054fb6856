#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

On first use (or when the engine or harness sources changed) it builds
the engine and the harness in `perfbench/harness` with sbt under
`.bench_build/`. Each run then starts one JVM (`perfbench.Main`) in a
fresh run directory under `.bench_build/runs/`, which it removes at the
end, reads the input tables in `perfbench/data/`, checks the outputs
against what the seeded generator expects, and prints one JSON object as
the last line of standard output: the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` its per-layer metrics. The line
before it gives each set-up's time and the machine-speed calibration.
A traced run keeps its spans, jobs and query executions as JSON lines in
`.bench_build/traces/<workload>-s<seed>/`.
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
# Input tables: byte copies of the engine's scale-0.01 test tables that
# the workloads read (documents and embeddings).
DATA = os.path.join(HERE, "data")
TRACE_FILES = ("spans.jsonl", "jobs.jsonl", "execs.jsonl")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for top in ("src/main", "perfbench"):
        for d, subdirs, names in os.walk(os.path.join(root, top)):
            subdirs[:] = sorted(
                s for s in subdirs if s not in ("target", "__pycache__")
                and not (s == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if not n.endswith(".pyc")]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build(root, bb):
    """Compile engine + harness and export the classpath."""
    stamp = os.path.join(bb, "stamp")
    fp = fingerprint(root)
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return
    os.makedirs(bb, exist_ok=True)
    log = os.path.join(bb, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=sbt_env(), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    if p.returncode != 0 or not lines or "harness" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (see .bench_build/build.log)")
    with open(os.path.join(bb, "classpath"), "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)


def run_jvm(bb, run_dir, args):
    cp = open(os.path.join(bb, "classpath")).read()
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--run-dir", run_dir,
              "--out", result]
           + (["--corrupt-expectation"] if args.corrupt_expectation else []))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S - 20)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    sys.stderr.write("".join(l for l in open(log) if "[perfbench]" in l))
    if rc != 0 or not os.path.isfile(result):
        sys.stderr.write("".join(open(log).readlines()[-60:]))
        fail(f"harness exited with {rc}")
    return json.load(open(result))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # Self-test hook: one expected value is deliberately corrupted, so
    # the run must report failed > 0.
    ap.add_argument("--corrupt-expectation", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("no engine sources here: run from the root of a checkout")
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    bb = os.path.join(root, ".bench_build")
    build(root, bb)

    run_dir = os.path.join(bb, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(bb, run_dir, args)
        if args.trace:
            traces = os.path.join(bb, "traces", f"{args.workload}-s{args.seed}")
            shutil.rmtree(traces, ignore_errors=True)
            os.makedirs(traces)
            for name in TRACE_FILES:
                shutil.copy(os.path.join(run_dir, name), traces)
        attempted, failed = res["attempted"], res["failed"]
        got = res["metrics"]
        got["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        metrics = {}
        for m in wanted:
            # The harness states units of end-to-end metrics; they must
            # agree with BENCHMARK.json.
            if m["name"] not in got or got[m["name"]]["unit"] not in ("", m["unit"]):
                fail(f"harness did not report {m['name']} in {m['unit']}")
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        print("perfbench: diagnostics " + json.dumps(
            {k: v["value"] for k, v in got.items()
             if k in ("calib_ms", "warmup_s") or k.startswith("setup") and k.endswith("_s")}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
