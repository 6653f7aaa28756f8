"""Build file of the benchmark: compiles the program's sources
(src/main/scala) and the benchmark driver (perfbench/src) with the Scala
compiler that ships in Spark's jar directory, into .bench_build/ at the
root of the checkout. Each half is rebuilt only when a digest of its
sources changes.

    python3 perfbench/build.py          # prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt takes unmanaged jars from."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        text = ""
        if os.path.exists(sbt):
            with open(sbt) as fh:
                text = fh.read()
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        jars = found.group(1) if found else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, files, classpath, stamp):
    dest = os.path.join(OUT, name)
    stamp_file = os.path.join(OUT, name + ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return dest
    if not files:
        raise SystemExit(f"no Scala sources for {name}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    jars = spark_jars()
    compiler = ":".join(glob.glob(os.path.join(jars, p))[0] for p in
                        ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    argfile = os.path.join(OUT, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    print(f"[build] compiling {name}: {len(files)} files", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", classpath, "-d", dest, "@" + argfile],
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest


def build():
    """Compile what changed; return the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    jar_names = ",".join(sorted(os.listdir(jars)))
    main_files = sources(os.path.join(ROOT, "src", "main", "scala"))
    main_stamp = digest(main_files, jar_names)
    main = _compile("main", main_files, os.path.join(jars, "*"), main_stamp)
    bench_files = sources(os.path.join(ROOT, "perfbench", "src"))
    bench = _compile("bench", bench_files, main + ":" + os.path.join(jars, "*"),
                     digest(bench_files, main_stamp))
    return ":".join([bench, main, os.path.join(jars, "*")]), main_stamp


if __name__ == "__main__":
    print(build()[0])
