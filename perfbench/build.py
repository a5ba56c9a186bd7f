#!/usr/bin/env python3
"""Build the program and the benchmark harness from source, and prepare
the inputs that do not depend on the run's seed.

Everything goes under ``.bench_build/`` in the checkout, keyed by a hash
of its sources, so a second build of the same tree is a no-op:

- ``classes/program-<key>``: ``src/main/scala`` compiled with the Scala
  compiler that ships in ``$SPARK_HOME/jars`` (the jars the project's
  sbt build compiles against);
- ``classes/bench-<key>``: ``perfbench/scala`` compiled against it;
- ``data/suite-<key>``: the suite_mix tables (``gen_data.py``, fixed
  seed) and ``oracle.pkl``, the DuckDB oracle's canonical results.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import fcntl
import glob
import hashlib
import json
import os
import pickle
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

BUILD_DIR = ".bench_build"
SUITE_SCALE = 0.05
SUITE_DATA_SEED = 42
BULK_SCALE = 0.4  # of gen_data.BULK_ROWS: 240k rows
JVM_HEAP = "3g"
JVM_YOUNG = "1g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install whose jars/ "
                         "holds the Scala compiler")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if home and os.path.exists(exe) else "java"


def jvm_options():
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # a fixed heap touched in full at start-up, a fixed young generation
    # and a direct-memory cap keep the resident size (a metric) from
    # following GC timing: which heap regions G1 had touched by the end
    # of a run varied by hundreds of MB between identical runs
    return opts + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
                   "-XX:+AlwaysPreTouch", "-XX:MaxDirectMemorySize=1g",
                   "-XX:+UseG1GC", "-Duser.timezone=UTC",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def _sources(root, rel):
    files = sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {rel}")
    return files


def _key(*parts):
    h = hashlib.sha256()
    for p in map(str, parts):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
        else:
            h.update(p.encode())
    return h.hexdigest()[:16]


def _compile(out, classpath, files, log):
    tmp = out + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BuildError(f"compilation failed ({os.path.basename(out)}):\n{tail}")
    os.replace(tmp, out)


def harness_cmd(classes, *args):
    cp = os.pathsep.join(classes + [spark_jars()])
    return [java()] + jvm_options() + ["-cp", cp, "perfbench.Harness"] + list(args)


def _prepare_suite(root, build, classes):
    gen = os.path.join(HERE, "gen_data.py")
    data = os.path.join(build, "data", f"suite-{_key(gen, SUITE_SCALE, SUITE_DATA_SEED)}")
    if not os.path.isdir(data):
        subprocess.run([sys.executable, gen, "suite", str(SUITE_SCALE),
                        str(SUITE_DATA_SEED), data], check=True)
    sql_file = os.path.join(build, f"oracle_sql-{os.path.basename(classes[-1])}.json")
    if not os.path.exists(sql_file):
        subprocess.run(harness_cmd(classes, "oracle-sql", sql_file + ".tmp"),
                       check=True, stdout=subprocess.DEVNULL)
        os.replace(sql_file + ".tmp", sql_file)
    with open(sql_file) as f:
        oracle_sql = json.load(f)
    oracle = os.path.join(data, f"oracle-{_key(sql_file)}.pkl")
    if not os.path.exists(oracle):
        import duckdb
        con = duckdb.connect()
        for t in glob.glob(os.path.join(data, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        expected = checks.oracle_expected(con, oracle_sql)
        with open(oracle + ".tmp", "wb") as f:
            pickle.dump(expected, f)
        os.replace(oracle + ".tmp", oracle)
    return data, oracle


def ensure_built(root):
    """Build what is missing; returns (classpath dirs, suite data dir,
    oracle pickle, whether anything was built)."""
    build = os.path.join(root, BUILD_DIR)
    os.makedirs(os.path.join(build, "classes"), exist_ok=True)
    with open(os.path.join(build, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prog_src = _sources(root, "src/main/scala")
        bench_src = _sources(root, "perfbench/scala")
        prog_key = _key(*prog_src)
        prog = os.path.join(build, "classes", f"program-{prog_key}")
        bench = os.path.join(build, "classes", f"bench-{_key(prog_key, *bench_src)}")
        built = False
        if not os.path.isdir(prog):
            _compile(prog, spark_jars(), prog_src, os.path.join(build, "compile-program.log"))
            built = True
        if not os.path.isdir(bench):
            _compile(bench, os.pathsep.join([prog, spark_jars()]), bench_src,
                     os.path.join(build, "compile-bench.log"))
            built = True
        classes = [prog, bench]
        data, oracle = _prepare_suite(root, build, classes)
        return classes, data, oracle, built


def bulk_data(root, seed):
    """The pipe_bulk input of one seed and its DuckDB direct aggregate."""
    gen = os.path.join(HERE, "gen_data.py")
    data = os.path.join(root, BUILD_DIR, "data", f"bulk-{seed}-{_key(gen)}")
    exp_file = os.path.join(data, "expected.json")
    if not os.path.exists(exp_file):
        if not os.path.isdir(data):
            subprocess.run([sys.executable, gen, "bulk", str(BULK_SCALE), str(seed), data], check=True)
        import duckdb
        exp = checks.bulk_expected(duckdb.connect(), os.path.join(data, "bulk.parquet"))
        with open(exp_file + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(exp_file + ".tmp", exp_file)
    with open(exp_file) as f:
        return data, json.load(f)


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        sys.exit(str(e))
