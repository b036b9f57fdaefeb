"""Builds the engine and the benchmark harness from source.

Compiles `src/main/scala` and `perfbench/harness` with the Scala compiler that
ships in the Spark jar directory named by `build.sbt` (`unmanagedBase`), into
`<build dir>/classes`. A stamp of the source and jar listing skips the compile
when nothing changed. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness")
ENGINE = os.path.join(ROOT, "src", "main", "scala")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def jar_dir():
    """The Spark jar directory: `unmanagedBase` in build.sbt, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    out = []
    for top in (ENGINE, HARNESS):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles if needed; returns the runtime classpath."""
    if not os.path.isdir(ENGINE):
        raise SystemExit(f"perfbench: engine sources not found ({os.path.relpath(ENGINE, ROOT)})")
    jars = jar_dir()
    classes = os.path.join(build_dir(), "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp_path = os.path.join(build_dir(), "classes.stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return cp
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
