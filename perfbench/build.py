"""Builds the program and the benchmark's own Scala from source.

The program under `src/main/scala` is compiled with the Scala compiler
that ships in the Spark distribution's jars (the same jars the program
links against), so no build tool or network is needed. Outputs go to
`$CARGO_TARGET_DIR` (default `.bench_build`) under the checkout and are
reused while the sources' content hash is unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars", "*")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources(pattern):
    return sorted(glob.glob(pattern, recursive=True))


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(srcs, classpath, out, log):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise RuntimeError(f"scalac failed ({r.returncode}); see {log}")


def _step(name, srcs, extra, classpath, out):
    if not srcs:
        raise RuntimeError(f"no sources for {name}")
    stamp = out + ".stamp"
    digest = _digest(srcs + extra)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    _scalac(srcs, classpath, out, out + ".log")
    with open(stamp, "w") as f:
        f.write(digest)


def _jar(classes, jar):
    if os.path.exists(jar) and os.path.getmtime(jar) >= os.path.getmtime(classes + ".stamp"):
        return False
    subprocess.run(["jar", "cf", jar + ".tmp", "-C", classes, "."], check=True)
    os.replace(jar + ".tmp", jar)
    return True


def build():
    """Compiles what changed and returns (program classpath, benchmark
    classpath, class-data archive for the generator JVM)."""
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    prog = os.path.join(bd, "classes")
    bench = os.path.join(bd, "bench-classes")
    resources = _sources(os.path.join(ROOT, "src", "main", "resources", "**", "*"))
    resources = [r for r in resources if os.path.isfile(r)]
    prog_srcs = _sources(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"))
    _step("program", prog_srcs, resources, SPARK_JARS, prog)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for r in resources:
        dst = os.path.join(prog, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    bench_srcs = _sources(os.path.join(HERE, "scala", "*.scala"))
    # the benchmark is rebuilt whenever the program is
    _step("benchmark", bench_srcs, prog_srcs, prog + os.pathsep + SPARK_JARS, bench)
    prog_jar, bench_jar = prog + ".jar", bench + ".jar"
    changed = _jar(prog, prog_jar) | _jar(bench, bench_jar)
    prog_cp = os.pathsep.join([prog_jar, SPARK_JARS])
    bench_cp = os.pathsep.join([bench_jar, prog_jar, SPARK_JARS])
    jsa = os.path.join(bd, "gen.jsa")
    if changed or not os.path.exists(jsa):
        _archive(bench_cp, jsa, bd)
    return prog_cp, bench_cp, jsa


def _archive(bench_cp, jsa, bd):
    """A class-data-sharing archive of one small generator run: the
    generator is the benchmark's own JVM, started before every pipeline
    run, and the archive cuts its class loading. Program JVMs never use it."""
    import jvm
    work = os.path.join(bd, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(jsa):
        os.remove(jsa)
    jvm.run(jvm.java_cmd(bench_cp, "graftbench.GenClips",
                         [os.path.join(work, "gen"), "1", "3", "2", "short", "10", "0"],
                         tmpdir=work, heap="1g", extra=[f"-XX:ArchiveClassesAtExit={jsa}"]),
            os.path.join(work, "gen.log"), timeout=300, cores=2)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print("\n".join(build()))
