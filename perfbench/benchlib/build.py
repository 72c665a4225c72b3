"""Build the program and the harness from source, once per source state.

The harness build (``perfbench/build.sbt``) depends on the repository's
own build, so one sbt invocation compiles both. The resulting classpath
is cached under ``.bench_build`` with a digest of every build input;
later runs reuse it and start the JVM directly.
"""
import hashlib
import os
import signal
import subprocess
import sys

BUILD_DIR = ".bench_build"
INPUTS = ("build.sbt", "project/build.properties", "src/main",
          "perfbench/build.sbt", "perfbench/project/build.properties",
          "perfbench/src")


def missing_sources(root):
    """The repository parts the benchmark cannot run without."""
    return [p for p in ("build.sbt", "src/main/scala") if not os.path.exists(os.path.join(root, p))]


def digest(root):
    h = hashlib.sha256()
    for rel in INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(root):
    """Resolve from the local caches only: the build never downloads."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(root, BUILD_DIR, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in env.get("SBT_OPTS", ""):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    return env


def classpath(root, timeout_s=840):
    """Build if the inputs changed since the last build; return the
    harness's runtime classpath."""
    out_dir = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp.txt")
    want = digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(out_dir, "build.log")
    with open(log_path, "w+") as log:
        # own process group: a timeout stops sbt and its JVM together
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(root),
            stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            code = proc.wait()
        log.seek(0)
        lines = [ln for ln in log.read().splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(f"build failed (exit {code}); see {log_path}\n")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp
