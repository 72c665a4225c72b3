"""Launch the JVM harness (``perfbench.Main``) on one generated spec."""
import json
import os
import signal
import subprocess

# the module openings Spark needs on JDK 17 outside spark-submit, as in
# the repository's build.sbt
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run(cp, spec, work, seconds, trace, heap, cores, timeout_s, setups=3):
    """Run the harness in a fresh JVM and return its result document.
    The JVM gets its own process group, so a timeout stops all of it."""
    os.makedirs(work, exist_ok=True)
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap keeps GC sizing, and so timings and peak RSS, alike
    # from run to run; no perf-data file is written outside the run
    cmd = ["java", *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main", "--spec", spec_path, "--out", out_path,
           "--work", os.path.join(work, "w"), "--seconds", str(seconds),
           "--trace", str(trace), "--setups", str(setups), "--cores", str(cores)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"harness exceeded {timeout_s:.0f} s")
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness exited {code}:\n{tail}")
    with open(out_path) as fh:
        return json.load(fh)
