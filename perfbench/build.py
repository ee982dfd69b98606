"""Builds what the benchmark runs, from source, inside the checkout.

- `src/main/scala` -> `<build>/classes` with the Scala 2.13 compiler that
  ships in the Spark jar directory (no sbt, no network);
- `perfbench/CatalogDriver.scala` -> `<build>/driver-classes`;
- the catalog's entry names and oracle SQL -> `<build>/driver-classes/catalog.json`;
- the sf0.1 and sf0.01 tables -> `<build>/data/sf<N>` (gen_data.py).

Each product is rebuilt only when the sha256 of its inputs changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

import gen_data

SCALA_VERSION = "2.13.17"
HERE = os.path.dirname(os.path.abspath(__file__))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: SPARK_JARS_DIR, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError(f"no Spark jar directory: set SPARK_JARS_DIR or unmanagedBase in {root}/build.sbt")
    return m.group(1)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fresh(out, stamp):
    try:
        with open(os.path.join(out, ".stamp")) as f:
            return f.read() == stamp
    except OSError:
        return False


def _scalac(jars, sources, classpath, out, stamp):
    """Compiles into `<out>.tmp`, then swaps it into place with its stamp."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = ":".join(f"{jars}/scala-{m}-{SCALA_VERSION}.jar"
                           for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp, "-cp", classpath] + sources
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {out}:\n{proc.stdout[-4000:]}{proc.stderr[-4000:]}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(root, build_dir):
    """Returns (Spark jar dir, program classes dir, driver classes dir,
    catalog.json path, {sf: data dir})."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    if not os.path.isfile(os.path.join(root, "examples/tools.yaml")):
        raise BuildError(f"missing {root}/examples/tools.yaml")
    jars = spark_jars(root)
    if not os.path.isfile(f"{jars}/scala-compiler-{SCALA_VERSION}.jar"):
        raise BuildError(f"no Scala {SCALA_VERSION} compiler in {jars}")
    spark_cp = f"{jars}/*"

    classes = os.path.join(build_dir, "classes")
    stamp = _digest(sources, SCALA_VERSION)
    if not _fresh(classes, stamp):
        _scalac(jars, sources, spark_cp, classes, stamp)

    driver = os.path.join(build_dir, "driver-classes")
    driver_src = [os.path.join(HERE, "CatalogDriver.scala")]
    dstamp = _digest(driver_src, stamp)
    if not _fresh(driver, dstamp):
        _scalac(jars, driver_src, f"{classes}:{spark_cp}", driver, dstamp)

    catalog = os.path.join(driver, "catalog.json")
    if not os.path.isfile(catalog):
        cmd = java_cmd(jars, f"{driver}:{classes}", "perfbench.CatalogDriver",
                       ["--list", catalog], build_dir, build_dir, heap="1g")
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise BuildError(f"listing the catalog failed:\n{proc.stderr[-4000:]}")

    data = {}
    gstamp = _digest([os.path.join(HERE, "gen_data.py")])
    for sf in ("0.1", "0.01"):
        d = os.path.join(build_dir, "data", f"sf{sf}")
        if not _fresh(d, gstamp):
            shutil.rmtree(d, ignore_errors=True)
            gen_data.generate(d + ".tmp", float(sf))
            with open(os.path.join(d + ".tmp", ".stamp"), "w") as f:
                f.write(gstamp)
            os.rename(d + ".tmp", d)
        data[sf] = d
    return jars, classes, driver, catalog, data


def java_cmd(jars, classpath, main, args, tmp_dir, local_dir, heap="4g", props=()):
    """The JVM command line for a graft main class, with its temp and Spark
    local dirs pinned inside the run directory (and no hsperfdata file in
    the system temp dir)."""
    return (["java"] + ADD_OPENS +
            [f"-Xmx{heap}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp_dir}", f"-Dspark.local.dir={local_dir}"] +
            list(props) + ["-cp", f"{classpath}:{jars}/*", main] + list(args))
