#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_marketplace --seed 1 --seconds 5 --trace 0

The first run builds the engine and the harness with sbt (the engine's own
build, unchanged, plus perfbench/build.sbt); later runs reuse the build until
a source file changes. Each run works in its own directory under
perfbench/out/ and removes it at the end; a traced run keeps its spans in
perfbench/out/spans-<workload>-seed<n>.jsonl.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_marketplace", "sql_marketplace", "pipeline_text")
# The sf0.1 fixture of TESTDATA.md (graft.Bench's default), or the directory
# PERFBENCH_FIXTURE names.
FIXTURE = os.environ.get("PERFBENCH_FIXTURE", os.path.expanduser("~/testdata/sf0.1"))
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
STAMP = os.path.join(BUILD_DIR, "sources.sha256")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150
# The repository's offline sbt settings (ROADMAP's tier-1 command), used
# when SBT_OPTS is not set.
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.exists(r):
            raise SystemExit(f"perfbench: {os.path.relpath(r, ROOT)} is missing; "
                             "run from the root of a checkout of the engine")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (exit code, output);
    on a timeout the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return open(CLASSPATH).read().strip()
    log("building the engine and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench/target" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def run_jvm(cp, args, run_dir, cores):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--run-dir", run_dir, "--fixture", FIXTURE,
            "--cores", str(cores)]
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir)
    if code != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: the harness exited with {code}")
    sys.stderr.write("".join(l + "\n" for l in out.splitlines() if l.startswith("[perfbench")))
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    out_root = os.path.join(HERE, "out")
    run_dir = os.path.join(out_root, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    try:
        res = run_jvm(cp, args, run_dir, cores)
        for p in res["problems"]:
            log(f"failed: {p}")
        wrong = checks.check(res["checks"])
        for w in wrong:
            log(f"wrong: {w}")
        # The raw result, every operation's time included, kept for analysis.
        os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
        with open(os.path.join(out_root, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(res, fh)
        if args.trace:
            dest = os.path.join(out_root, f"spans-{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), dest)
            log(f"{res['spans']} spans written to {os.path.relpath(dest, ROOT)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(json.dumps({
        "correct": not wrong,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(res["metrics"].items())},
    }))


if __name__ == "__main__":
    main()
