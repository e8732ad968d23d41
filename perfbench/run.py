#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline), generates the corpus and computes the
DuckDB references; later runs reuse them while the sources are unchanged.
Everything the run writes stays under `.perfbench/` in the checkout.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Exit code 0 only when
such a line was printed.

Extra flags (tests and local use): `--small` (sf0.001 corpus and a small
vector corpus), `--ops N` (exactly N ops instead of the rounds `--seconds`
sets) and `--report PATH` (per-op JSON report). `JAVA_TOOL_OPTIONS` reaches
the JVM, e.g. to set a default locale.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("interactive_sf01", "migrate_batches", "dedup_vectors")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
        glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
        [os.path.join(HERE, "build.sbt"),
         os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    jar_dir = os.path.join(HERE, "target", "scala-2.13")
    stamp_file = os.path.join(STATE, "build.stamp")
    jars = glob.glob(os.path.join(jar_dir, "perfbench_*.jar"))
    if jars and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jars[0]
    log("building engine and harness (sbt package) ...")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    jars = glob.glob(os.path.join(jar_dir, "perfbench_*.jar"))
    if rc != 0 or not jars:
        fail(f"build failed (rc={rc}); see .perfbench/build.log", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jars[0]


def corpus(small):
    name, scale = ("sf0.001", "0.001") if small else ("sf0.1", "0.1")
    base = os.path.join(STATE, "data-small" if small else "data")
    path = os.path.join(base, "sf0.1")  # the workloads read <data>/sf0.1
    if not os.path.exists(os.path.join(path, "_done")):
        log(f"generating the {name} corpus ...")
        tmp = f"{path}.tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), tmp, scale],
                       check=True)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return base


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)", 2)
    return home


def java(jar, args, **kw):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g",
        f"-Duser.home={STATE}/home",
        f"-Djava.io.tmpdir={STATE}/tmp",
        f"-Dspark.local.dir={STATE}/spark-local",
        f"-Dspark.sql.warehouse.dir={STATE}/warehouse",
        "-cp", f"{jar}:{spark_home()}/jars/*",
    ] + args
    return subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, **kw)


def references(jar, data, stamp):
    out = os.path.join(data, f"refs-{stamp}")
    if os.path.exists(os.path.join(out, "migrate.tsv")):
        return out
    log("computing DuckDB references ...")
    dump = java(jar, ["perfbench.OracleDump"], stdout=subprocess.PIPE,
                check=True, timeout=120)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    oracle = os.path.join(tmp, "oracle.json")
    with open(oracle, "wb") as f:
        f.write(dump.stdout.strip().splitlines()[-1])
    subprocess.run([sys.executable, os.path.join(HERE, "refs.py"),
                    os.path.join(data, "sf0.1"), oracle, tmp], check=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--ops", type=int, default=0)
    ap.add_argument("--report", default="")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/; run from a checkout", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required", 2)
    spark_home()
    for d in ("home", "tmp", "spark-local", "warehouse", "traces"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    stamp = source_stamp()
    jar = build(stamp)
    data = corpus(a.small)
    refs = references(jar, data, stamp)
    ref_file = {"interactive_sf01": "interactive.tsv",
                "migrate_batches": "migrate.tsv"}.get(a.workload, "")
    # Two task threads leave the box's other cores to the JIT and the GC:
    # at local[4] on a 4-vCPU shared-host VM every stage waited for its
    # slowest core, and runs of the same code spread by 0.3-0.6.
    cores = max(1, min(2, os.cpu_count() or 1))
    args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work,
            "--traces", os.path.join(STATE, "traces"),
            "--refs", os.path.join(refs, ref_file) if ref_file else "",
            "--cores", str(cores),
            "--ops", str(a.ops), "--report", a.report,
            "--small", "1" if a.small else "0"]
    try:
        run = java(jar, args, stdout=subprocess.PIPE,
                   timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = run.stdout.decode("utf-8", "replace").strip().splitlines()
    if run.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {run.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
