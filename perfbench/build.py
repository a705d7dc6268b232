"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala`, with `src/main/resources`) and the
benchmark's own (`perfbench/src`, `perfbench/resources`, plus
`perfbench/test` for the self-tests) are compiled together with the Scala
compiler that ships in `$SPARK_HOME/jars`, against the same Spark jars the
program's own build uses, and packed into one jar. Output goes to
`.perfbench/build/<digest>/`, keyed by a digest of every input file, so a
checkout builds once and later runs reuse it.

    python3 perfbench/build.py [--tests]     # prints the class path
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
RESOURCES = [ROOT / "src" / "main" / "resources", ROOT / "perfbench" / "resources"]

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


class Build:
    def __init__(self, out, jars):
        self.out = out
        self.jar = out / "perfbench.jar"
        self.classpath = os.pathsep.join([str(self.jar)] + [str(j) for j in jars])


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the benchmark builds against $SPARK_HOME/jars")
    jars = sorted(pathlib.Path(home, "jars").glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars under {home}/jars")
    return jars


def inputs(tests):
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    if tests:
        roots.append(ROOT / "perfbench" / "test")
    for r in roots:
        if not r.is_dir():
            raise BuildError(f"missing source directory {r.relative_to(ROOT)}")
    sources = sorted(p for r in roots for p in r.rglob("*.scala"))
    if not sources:
        raise BuildError("no Scala sources found")
    resources = sorted(p for r in RESOURCES if r.is_dir() for p in r.rglob("*") if p.is_file())
    return sources, resources


def java(cp, main, args, timeout=None, stdout=subprocess.PIPE):
    """Runs a benchmark JVM in the checkout; returns (exit code, stdout)."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + str(tmp), "-cp", cp, main] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=stdout, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out


def build(tests=False):
    """Compiles and packs if needed, and returns the Build."""
    jars = spark_jars()
    sources, resources = inputs(tests)
    digest = hashlib.sha256()
    for f in sources + resources:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    for j in jars:
        digest.update(j.name.encode())
    b = Build(WORK / "build" / digest.hexdigest()[:16], jars)
    if not (b.out / "ok").exists():
        compile_into(b, jars, sources, resources)
    return b


def compile_into(b, jars, sources, resources):
    shutil.rmtree(b.out, ignore_errors=True)
    classes = b.out / "classes"
    classes.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler, scala-library and scala-reflect jars are required")
    argfile = b.out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + str(b.out),
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(map(str, jars)), "-d", str(classes), "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError(f"scalac exited with {proc.returncode}")
    with zipfile.ZipFile(b.jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in classes.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(classes).as_posix())
        for r in RESOURCES:
            for f in resources:
                if r in f.parents:
                    z.write(f, f.relative_to(r).as_posix())
    shutil.rmtree(classes)
    (b.out / "ok").write_text("")


if __name__ == "__main__":
    try:
        print(build(tests="--tests" in sys.argv[1:]).classpath)
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
