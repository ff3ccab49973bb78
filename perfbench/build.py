"""Build file of the benchmark: compiles the repository's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) using
the Scala compiler that ships in Spark's jars directory (the same jars
`build.sbt` compiles against), so no sbt start-up or dependency resolution is
needed. The classes are packed into one jar, and a short smoke run dumps a
class-data-sharing archive that later JVMs map instead of loading and
verifying the same classes again (several seconds per JVM start).

Everything lands in `.bench_build/classes-<digest>`, keyed by a digest of
every source file; an unchanged tree reuses it.

    python3 perfbench/build.py      # builds, prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
GC = "-XX:+UseParallelGC"
# the module opens Spark needs on JDK 17 (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the `jars` dir beside the first
    `spark-submit` on PATH that has one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("error: no Spark jars found; set SPARK_HOME")


def nproc():
    return len(os.sched_getaffinity(0))


def java_cmd(cp, tmpdir, archive=None, dump=False):
    """`java` with a fixed heap size and GC, JVM log lines on stderr (stdout is the
    benchmark's), `java.io.tmpdir` inside the checkout and the class-data
    archive mapped (or, with `dump`, written at exit)."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmpdir}"]
    if archive:
        cmd.append(f"-XX:{'ArchiveClassesAtExit' if dump else 'SharedArchiveFile'}={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp)]


def harness_cmd(cp, tmpdir, archive, work, result, workloads, seed, seconds, trace, scale,
                dump=False, main="perfbench.Harness"):
    """The command line of perfbench.Harness, or of perfbench.Prepare, which
    takes the same arguments (see Harness.scala and Prepare.scala)."""
    return java_cmd(cp, tmpdir, archive, dump) + [
        main, "--workloads", ",".join(workloads), "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--scale", scale,
        "--cores", str(nproc()), "--root", ROOT, "--work", work, "--result", result,
        "--build-id", os.path.basename(os.path.dirname(cp[0])).split("-", 1)[1]]


def sources():
    """Every Scala source of the build, repository first, sorted."""
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def has_repo_sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    return os.path.isdir(main) and any(f.startswith(main) for f in sources())


def dump_archive(cp, archive, log):
    """Prepare and run the smoke workloads once to record the classes a run
    loads."""
    work = os.path.join(BUILD, "cds-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        for main, dump in (("perfbench.Prepare", False), ("perfbench.Harness", True)):
            cmd = harness_cmd(cp, os.path.join(work, "tmp"), archive if dump else None, work,
                              os.path.join(work, "result.json"),
                              ["bulk_validate", "operator_registry"], 42, 1, 0, "smoke",
                              dump=dump, main=main)
            subprocess.run(cmd, env=env, cwd=work, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=600, check=True)
    except (subprocess.SubprocessError, OSError) as e:
        print(f"[perfbench] archive dump failed: {e}", file=log, flush=True)
    shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Build if needed; returns (classpath list, source digest, archive or None)."""
    files = sources()
    d = digest(files)
    out = os.path.join(BUILD, "classes-" + d[:16])
    jar = os.path.join(out, "graft-perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    cp = [jar, os.path.join(spark_jars(), "*")]
    if not os.path.exists(os.path.join(out, ".complete")):
        os.makedirs(BUILD, exist_ok=True)
        for old in os.listdir(BUILD):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD, old))
        tmp = os.path.join(BUILD, "classes-tmp")
        os.makedirs(os.path.join(tmp, "classes"))
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
        jars = os.path.join(spark_jars(), "*")
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
             "-d", os.path.join(tmp, "classes"), "-classpath", jars, "@" + argfile],
            check=True, stdout=log, stderr=log)
        subprocess.run(["jar", "cf", os.path.join(tmp, os.path.basename(jar)),
                        "-C", os.path.join(tmp, "classes"), "."],
                       check=True, stdout=log, stderr=log)
        shutil.rmtree(os.path.join(tmp, "classes"))
        os.rename(tmp, out)
        print("[perfbench] dumping the class-data-sharing archive", file=log, flush=True)
        dump_archive(cp, archive, log)
        open(os.path.join(out, ".complete"), "w").close()
    return cp, d, (archive if os.path.exists(archive) else None)


if __name__ == "__main__":
    print(os.pathsep.join(build()[0]))
