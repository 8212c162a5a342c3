"""Build file of the benchmark: compiles the program (src/main/scala and its
resources) together with the benchmark harness (perfbench/harness) using the
Scala compiler shipped among the program's dependency jars.

    python3 perfbench/build.py      # prints the classes directory

Output goes to .bench_build/classes-<hash of every input>, so an unchanged
tree is compiled once per checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def spark_jars():
    """The program's dependency jars: the `unmanagedBase` its build.sbt names,
    else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail(f"dependency jar directory {d!r} not found")
    return d


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    out = []
    for r in roots:
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile the program and the harness with the Scala compiler shipped in
    the dependency jars. Output is keyed by a hash of every input, so an
    unchanged tree is built once per checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    jars = spark_jars()
    srcs = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + [os.path.join(dp, f) for dp, _, fs in os.walk(res) for f in sorted(fs)]:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out, jars
    for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    log(f"building {len(srcs)} sources into {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    if os.path.isdir(res):
        shutil.copytree(res, out, dirs_exist_ok=True)
    open(os.path.join(out, "BUILD_OK"), "w").close()
    log(f"built in {time.time() - t0:.1f}s")
    return out, jars


if __name__ == "__main__":
    print(build()[0])
