"""Builds the server from the checkout's sources with the Scala compiler
that ships among Spark's jars (no sbt, no network), then the benchmark's
own Scala on top of it.

Everything lands under `.bench_build/perfbench/` in the checkout and is
reused while the sources it came from are unchanged.

The data is the engine's own test data, found where the repo's `Bench`
finds it: `SPARK_GRAFT_SF_DIR`, else the default `Bench.scala` names. The
scale-factor directories (`sf0.01`, `sf0.1`, ...) sit side by side there.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class BuildError(Exception):
    pass


def data_dir(scale):
    """The test data directory of one scale factor, e.g. "sf0.1"."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        bench = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")
        try:
            with open(bench) as fh:
                m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("test data not found: set SPARK_GRAFT_SF_DIR")
        sf = m.group(1)
    d = os.path.join(os.path.dirname(os.path.normpath(sf)), scale)
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise BuildError(f"test data {d} lacks {', '.join(missing)}")
    return d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("Spark jars with scala-compiler not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found")
    return exe


def _stamp(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(sources, out_dir, classpath, log):
    os.makedirs(out_dir, exist_ok=True)
    args_file = out_dir + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out_dir]
    if classpath:
        cmd += ["-cp", classpath]
    with open(log, "a") as fh:
        r = subprocess.run(cmd + ["@" + args_file], stdout=fh, stderr=subprocess.STDOUT,
                           cwd=ROOT, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac failed, see {log}")


def build():
    """Returns a dict with the app/bench class dirs, jar dir and the
    served statements dumped from the program."""
    app_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not app_src:
        raise BuildError("no server sources under src/main/scala")
    bench_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    stamp = _stamp(app_src + bench_src)
    jars = spark_jars()
    base = os.path.join(OUT, "build-" + stamp)
    app, bench = os.path.join(base, "app"), os.path.join(base, "bench")
    stmts = os.path.join(base, "statements.json")
    if not os.path.exists(stmts):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        log = os.path.join(base, "build.log")
        print(f"[perfbench] compiling {len(app_src)} server sources", file=sys.stderr)
        _scalac(app_src, app, None, log)
        _scalac(bench_src, bench, app, log)
        cp = os.pathsep.join([bench, app, os.path.join(jars, "*")])
        r = subprocess.run([java(), "-cp", cp, "perfbench.DumpStatements"],
                           capture_output=True, text=True, timeout=120, cwd=base)
        if r.returncode != 0:
            raise BuildError("DumpStatements failed: " + r.stderr[-2000:])
        json.loads(r.stdout)
        with open(stmts + ".tmp", "w") as fh:
            fh.write(r.stdout)
        os.replace(stmts + ".tmp", stmts)
    with open(stmts) as fh:
        statements = json.load(fh)
    return {"app": app, "bench": bench, "jars": jars, "statements": statements}
