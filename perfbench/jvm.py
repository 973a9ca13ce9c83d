"""Launching the program's JVMs the way a user would, plus the
outside-the-program trace switches (Spark event log, GC log)."""
import os
import signal
import subprocess

# what spark-submit adds for Spark 4 on JDK 17 (build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

CORES = 4      # the program never runs wider than local[4]
HEAP = "2g"


def java_cmd(classpath, main, args, tmpdir, gc_log=None, event_log=None,
             heap=HEAP, extra=()):
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # scratch (java.io.tmpdir, Spark's block/shuffle dirs) stays in the
    # run directory, and no hsperfdata file is written outside it
    cmd += [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={tmpdir}",
            "-XX:-UsePerfData",
            "-Duser.language=en", "-Duser.country=US",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if gc_log:
        cmd.append(f"-Xlog:gc:file={gc_log}:uptime,tags")
    if event_log:
        cmd += ["-Dspark.eventLog.enabled=true",
                f"-Dspark.eventLog.dir=file://{event_log}",
                "-Dspark.eventLog.compress=false"]
        os.makedirs(event_log, exist_ok=True)
    cmd += list(extra)
    cmd += ["-cp", classpath, main] + list(args)
    return cmd


def env(cores=CORES):
    """The caller's environment minus settings that would override the
    launch: the program's own SPARK_GRAFT_* knobs and SPARK_LOCAL_DIRS."""
    e = {k: v for k, v in os.environ.items()
         if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    e["SPARK_GRAFT_CPUS"] = str(cores)
    return e


def start(cmd, log_path, cores=CORES):
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    log = open(log_path, "wb")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         env=env(cores), start_new_session=True)
    p._bench_log = log
    return p


def stop(p, grace=10.0):
    """Stops the process group and waits until every member has ended."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            p.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    p._bench_log.close()
    return p.returncode


def run(cmd, log_path, timeout, cores=CORES):
    p = start(cmd, log_path, cores)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop(p)
        raise RuntimeError(f"timed out after {timeout}s: see {log_path}")
    stop(p)
    if p.returncode != 0:
        with open(log_path, "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"exit {p.returncode}: {log_path}\n{tail}")
