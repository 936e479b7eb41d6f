#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload repl_filter --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run it from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
later runs start the JVM directly. Prints a readable report, then one JSON
result line as the last line of stdout, and exits 0 only when every output
was correct. See perfbench/README.md.
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
ROOT = os.path.abspath(os.getcwd())
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("repl_filter", "snapshot_ops")
# a run must end within three minutes, and a first run that also builds
# within fifteen
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"

ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild."""
    picked = []
    for base in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            picked += [os.path.join(d, f) for f in files]
    for f in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, f)):
            picked.append(os.path.join(ROOT, f))
    pdir = os.path.join(ROOT, "project")
    if os.path.isdir(pdir):
        picked += [os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".sbt")]
    return sorted(set(picked))


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=20)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def classpath(digest):
    """Builds engine and benchmark once per source digest; returns the classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath-%s.txt" % digest)
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        # a cleaned build tree leaves the cached classpath pointing nowhere
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Xmx3g")
    if "-Dsbt.offline=true" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += " -Dsbt.offline=true"
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    log = os.path.join(BUILD_DIR, "build.log")
    print("perfbench: building engine and benchmark (log: %s)" % log, file=sys.stderr)
    t0 = time.time()
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        die("build failed (exit %s); see %s" % (rc, log), 1)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip().startswith("/")]
    if not lines:
        die("build printed no classpath; see %s" % log, 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)
    return lines[-1]


def java(cp, main, args, work, timeout):
    """Runs a benchmark main; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + JVM_HEAP, "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + ADD_OPENS + ["-cp", cp, main] + args)
    out_path = os.path.join(work, "stdout.txt")
    with open(out_path, "w") as out:
        rc = run_group(cmd, timeout, cwd=work, stdout=out, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    return rc, lines


def overhead(work, result):
    """Tracing overhead: traced minus untraced, as a share of untraced."""
    plain = work.replace("-trace1", "-trace0")
    try:
        with open(os.path.join(plain, "result.json")) as f:
            untraced = {m["name"]: m["value"] for m in json.load(f)["end_to_end"]}
        with open(os.path.join(work, "result.json")) as f:
            traced = {m["name"]: m["value"] for m in json.load(f)["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return None
    out = {}
    for name, v in traced.items():
        u = untraced.get(name)
        if isinstance(u, (int, float)) and isinstance(v, (int, float)) and u:
            out[name] = {"untraced": u, "traced": v, "share": (v - u) / u}
    with open(os.path.join(work, "overhead.json"), "w") as f:
        json.dump(out, f, indent=1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        die("need --workload, --seed and --seconds (or --selftest)")
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("run from the repository root: %s is missing here" % need)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    digest = source_digest()
    cp = classpath(digest)
    cores = min(4, os.cpu_count() or 1)
    if a.selftest:
        work = os.path.join(BUILD_DIR, "runs", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        rc, lines = java(cp, "graft.perfbench.SelfTest",
                         ["--work-dir", work, "--cores", str(cores)], work, RUN_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(0 if rc == 0 else 1)

    work = os.path.join(BUILD_DIR, "runs", "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc, lines = java(cp, "graft.perfbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", repr(a.seconds), "--trace", str(a.trace),
                      "--work-dir", work, "--cores", str(cores),
                      "--commit", git_commit(), "--source-digest", digest],
                     work, RUN_TIMEOUT_S)
    # the generated data is not needed after the run; result.json stays
    for sub in ("data", "spark-local", "checkpoints", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    body = lines[:-1] if result is not None else lines
    if body:
        print("\n".join(body))
    if rc is None:
        die("run exceeded %d s" % RUN_TIMEOUT_S, 1)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("run printed no result (exit %s)" % rc, 1)
    if a.trace == 1:
        ov = overhead(work, result)
        if ov:
            print("tracing overhead (traced vs untraced, same seed):")
            for name, o in sorted(ov.items()):
                print("  %-16s %+.1f%%" % (name, 100 * o["share"]))
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
