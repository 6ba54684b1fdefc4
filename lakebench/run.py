#!/usr/bin/env python3
"""Run one lakebench workload and print its summary as the last stdout line.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout builds the
engine and the benchmark from source with sbt (offline) into
`.bench_build/` and `target/`; later runs reuse the build while the sources
are unchanged. Everything a run writes stays under `.bench_build/`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("policy_daily_load", "curation_daily_ops")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# The JDK 17 module opens Spark needs outside spark-submit (the engine's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, what, **kw):
    """Runs `cmd` in its own process group and returns (exit code, stdout).
    On timeout, SIGTERM or SIGINT the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True,
                            **kw)

    def kill(signum=None, frame=None):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if signum is not None:
            sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        die(f"{what} timed out", 4)
    return proc.returncode, out


def source_fingerprint():
    """Hash of every build input: engine and benchmark sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").strip()
    if not opts:
        opts = "-Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # sbt's scratch files (IPC sockets, JNA stubs) go under .bench_build/,
    # the launcher takes no lock in its boot directory, and no JVM of the
    # build writes perf counters to /tmp
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (f"{opts} -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} "
                       "-Dsbt.boot.lock=false")
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def ensure_built():
    """Returns the runtime classpath, building first if the sources changed."""
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, out = run_child(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
             "export lakebench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, "build", cwd=HERE, env=sbt_env(), stderr=log)
        log.write(out)
    if code != 0:
        die(f"build failed; see {log_path}")
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if "lakebench" in l and os.pathsep in l), None)
    if cp is None:
        die(f"build printed no classpath; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(fp_file, "w") as f:
        f.write(fp + "\n")
    return cp


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources not found next to lakebench/ (run from a repository checkout)")
    if shutil.which("java") is None:
        die("java is not on PATH")
    cp = ensure_built()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # C1-only JIT: runs are short and start cold; full tiered compilation
    # spends the first tens of seconds compiling beside the work
    cmd = ["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "lakebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", os.path.join(run_dir, "data")]
    env = dict(os.environ, LAKEBENCH_COMMIT=commit(),
               LAKEBENCH_SOURCE_SHA=source_fingerprint())
    code, out = run_child(cmd, RUN_TIMEOUT_S, "run", cwd=run_dir, env=env)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    summary = lines[-1] if lines else ""
    # the run's tables are scratch; keep the run record and spans only
    shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
    if code not in (0, 1) or not summary.startswith("{"):
        die(f"run failed with exit code {code}", code or 5)
    print(summary)
    sys.exit(code)


if __name__ == "__main__":
    main()
