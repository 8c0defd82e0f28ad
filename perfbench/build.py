#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` + `src/main/resources` of the
repository root) and the benchmark harness (`perfbench/src/main/scala`)
with the Scala compiler that ships in Spark's jar directory, into
`<build dir>/classes`, and packs each into a jar under `<build dir>/jars`
(jars, not directories, so that run.py can keep a class-data-sharing
archive of the JVM's start-up). The repository's own `build.sbt` is not
used and not touched; sbt is not needed. A source-hash stamp skips the
compile when nothing changed since the last build in the same checkout.

Usage: python3 perfbench/build.py [--test]
  --test  also compile perfbench/src/test/scala (the generator check).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src", "main", "scala")
TEST_SRC = os.path.join(ROOT, "perfbench", "src", "test", "scala")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    root build declares as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + files
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode}) for {out}")


def pack(classes, jar):
    """Zips a class directory into a jar with fixed entry times."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for dirpath, dirs, files in os.walk(classes):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                info = zipfile.ZipInfo(os.path.relpath(full, classes), (1980, 1, 1, 0, 0, 0))
                with open(full, "rb") as fh:
                    z.writestr(info, fh.read())
    os.replace(tmp, jar)


def build(with_test=False):
    """Compile what is stale; return (classpath entries, spark jar dir)."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        raise SystemExit("build: engine or benchmark sources missing")
    jars = spark_jars()
    base = build_dir()
    cls_main = os.path.join(base, "classes", "main")
    cls_bench = os.path.join(base, "classes", "bench")
    cls_test = os.path.join(base, "classes", "test")
    stamp_file = os.path.join(base, "classes", "stamp")
    res = sorted(p for p in glob.glob(os.path.join(ENGINE_RES, "**"), recursive=True)
                 if os.path.isfile(p))
    groups = [engine + res, bench] + ([bench + sources(TEST_SRC)] if with_test else [])
    stamp = "\n".join(stamp_of(g) for g in groups)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    old_parts = old.split("\n")
    new_parts = stamp.split("\n")
    jar_cp = os.path.join(jars, "*")
    if old_parts[:1] != new_parts[:1]:
        shutil.rmtree(os.path.join(base, "classes"), ignore_errors=True)
        old_parts = []
        scalac(jars, [jar_cp], cls_main, engine)
        for p in res:
            dst = os.path.join(cls_main, os.path.relpath(p, ENGINE_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
    if old_parts[1:2] != new_parts[1:2]:
        shutil.rmtree(cls_bench, ignore_errors=True)
        scalac(jars, [cls_main, jar_cp], cls_bench, bench)
    if with_test and old_parts[2:3] != new_parts[2:3]:
        shutil.rmtree(cls_test, ignore_errors=True)
        scalac(jars, [cls_bench, cls_main, jar_cp], cls_test, sources(TEST_SRC))
    jar_dir = os.path.join(base, "jars")
    jar_main = os.path.join(jar_dir, "engine.jar")
    jar_bench = os.path.join(jar_dir, "perfbench.jar")
    if old_parts[:2] != new_parts[:2] or not (os.path.exists(jar_main)
                                               and os.path.exists(jar_bench)):
        # new jars invalidate the start-up archives made from the old ones
        shutil.rmtree(jar_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(base, "cds"), ignore_errors=True)
        os.makedirs(jar_dir)
        pack(cls_main, jar_main)
        pack(cls_bench, jar_bench)
    kept = new_parts if with_test else new_parts[:2] + old_parts[2:3]
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write("\n".join(kept))
    cp = [jar_bench, jar_main] + ([cls_test] if with_test else [])
    return cp, jars


if __name__ == "__main__":
    cp, _ = build(with_test="--test" in sys.argv[1:])
    print("built:", os.pathsep.join(cp))
