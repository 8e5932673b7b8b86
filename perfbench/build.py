"""Builds the engine (`src/main`) and the benchmark harness from source.

No sbt: the engine's only compile dependencies are the Spark jars that
`build.sbt` names as its unmanaged base, and Spark ships the matching
Scala compiler, so one `scalac` call per part is the whole build. Outputs
go under the build directory (`$CARGO_TARGET_DIR`, else `.bench_build`)
and are reused while a hash of the sources is unchanged.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The unmanaged jar directory `build.sbt` compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(d, "**", "*.java"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_part(name, srcs, classpath, log):
    out = os.path.join(build_dir(), name)
    stamp = os.path.join(build_dir(), name + ".stamp")
    key = digest(srcs) + classpath
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    args = os.path.join(build_dir(), name + ".args")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath, "@" + args]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"compiling {name} failed (exit {r.returncode})")
    java_srcs = [s for s in srcs if s.endswith(".java")]
    if java_srcs:
        r = subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-d", out, "-cp",
                            classpath + os.pathsep + out] + java_srcs,
                           stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit(f"compiling {name} (java) failed")
    with open(stamp, "w") as f:
        f.write(key)
    return out


def build(log=sys.stderr):
    """Compile what changed; return the runtime classpath."""
    engine_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(engine_src) or not sources(engine_src):
        raise SystemExit(f"no engine sources under {engine_src}")
    os.makedirs(build_dir(), exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine = compile_part("engine", sources(engine_src), jars, log)
    harness = compile_part("harness", sources(os.path.join(HERE, "harness", "src")),
                           engine + os.pathsep + jars, log)
    return os.pathsep.join([harness, engine, jars])


if __name__ == "__main__":
    print(build())
