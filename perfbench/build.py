"""Builds the program and the benchmark's Scala code with the Scala compiler
that ships among the Spark jars the root build.sbt names (``unmanagedBase``;
``SPARK_JARS`` overrides it), so no build tool or download is needed.
Outputs go to ``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the
checkout; a build is skipped when its sources are unchanged.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars(root):
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath, out_root, jars_dir, extra_stamp=""):
    if not srcs:
        raise SystemExit(f"build: no sources for {name}")
    out = os.path.join(out_root, name)
    stamp = _stamp(srcs, SCALA + extra_stamp)
    stamp_file = os.path.join(out, "STAMP")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(
        os.path.join(jars_dir, f"scala-{p}-{SCALA}.jar")
        for p in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", classes, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-6000:])
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def build(root):
    """Compiles program and benchmark under ``root``; returns the runtime
    classpath entries."""
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars_dir = spark_jars(root)
    jars = os.path.join(jars_dir, "*")
    program = _compile("program", _sources(os.path.join(root, "src", "main", "scala")),
                       [jars], out_root, jars_dir)
    bench = _compile("bench", _sources(os.path.join(root, "perfbench", "scala")),
                     [program, jars], out_root, jars_dir, extra_stamp=open(
                         os.path.join(out_root, "program", "STAMP")).read())
    return [bench, program, os.path.join(root, "src", "main", "resources"), jars]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
