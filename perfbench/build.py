"""Build the benchmark: compile the program's sources, then the
benchmark's own sources against them, with the Scala compiler that
ships in the Spark distribution (no sbt, no network).

Outputs go under perfbench/.build/, keyed by a hash of the sources, so
an unchanged tree is not compiled twice. Run from the repository root:

    python3 perfbench/build.py

Prints the runtime classpath on its last line.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = BENCH / ".build"


def spark_jars():
    """The Spark distribution's jars: SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(pathlib.Path(d).parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if (pathlib.Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = pathlib.Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution found "
                     "(set SPARK_HOME or put spark-submit on PATH)")


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, classpath, dest, files):
    compiler = [str(next(jars.glob(f"scala-{n}-2.13.*.jar")))
                for n in ("compiler", "library", "reflect")]
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(tmp.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    argfile.unlink()
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    tmp.rename(dest)


def build():
    """Compile if needed; return the runtime classpath string."""
    if not (PROGRAM_SRC / "graft" / "Graft.scala").exists():
        raise SystemExit(f"build: program sources missing under {PROGRAM_SRC}")
    jars = spark_jars()
    jar_cp = str(jars / "*")
    prog_files = sources(PROGRAM_SRC)
    prog_dir = OUT / ("program-" + digest(prog_files))
    if not prog_dir.exists():
        scalac(jars, jar_cp, prog_dir, prog_files)
    bench_files = sources(BENCH_SRC)
    bench_dir = OUT / ("bench-" + digest(bench_files, prog_dir.name))
    if not bench_dir.exists():
        scalac(jars, os.pathsep.join([str(prog_dir), jar_cp]), bench_dir,
               bench_files)
    for stale in OUT.iterdir():
        if stale.is_dir() and stale not in (prog_dir, bench_dir):
            shutil.rmtree(stale, ignore_errors=True)
    return os.pathsep.join([str(bench_dir), str(prog_dir), jar_cp])


if __name__ == "__main__":
    print(build())
