"""Compiles the program (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes with the Scala compiler that ships among the Spark
jars. Rebuilds only when a source file changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build"


def spark_jars():
    jars = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not jars.is_dir():
        sys.exit(f"build: no Spark jars at {jars}")
    return jars


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        sys.exit("build: src/main/scala not found; run from the repository root")
    return (sorted(program.rglob("*.scala"))
            + sorted((ROOT / "perfbench" / "src").rglob("*.scala")))


def build():
    """Returns the class directory, compiling first when sources changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    classes, stamp = OUT / "classes", OUT / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(tmp),
         f"@{argfile}"],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
