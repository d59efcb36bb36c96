#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 flowbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (the Scala compiler among the engine's Spark jars),
then reuses the build until a source file changes. Query workloads get seeded fixture tables
(datagen.py). The JVM (graft.flowbench.Main) sets up, measures and checks
the collector's rows; this script then checks each query op's first
result against its DuckDB oracle SQL and prints a table of every metric,
then one JSON line: {"correct", "attempted", "failed", "metrics"}.
Everything it writes stays under flowbench/target/.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # datagen and the oracle rule leave no caches
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "flowbench")
TARGET = os.path.join(BENCH, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
JVM_TIMEOUT_S = 160
# the query workloads' data generator and oracle check need these
QUERY_PACKAGES = ("numpy", "pyarrow", "pandas", "duckdb")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[flowbench] {msg} ({time.time() - T0:.1f} s)", file=sys.stderr, flush=True)


def python_with_packages():
    """An interpreter that imports the query workloads' packages: None when
    this one does, else the first python3 on PATH or among pyenv's shims
    that does. Sessions that skip the login profile may find a bare
    system python3 first.
    """
    if all(importlib.util.find_spec(m) for m in QUERY_PACKAGES):
        return None
    dirs = [d for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    dirs.append(os.path.join(os.environ.get("PYENV_ROOT", os.path.expanduser("~/.pyenv")),
                             "shims"))
    probe = "import " + ", ".join(QUERY_PACKAGES)
    for d in dirs:
        py = os.path.join(d, "python3")
        if not os.access(py, os.X_OK) or os.path.realpath(py) == os.path.realpath(sys.executable):
            continue
        if subprocess.run([py, "-c", probe], stdout=subprocess.DEVNULL,
                          stderr=subprocess.DEVNULL, timeout=60).returncode == 0:
            return py
    raise SystemExit("no python3 found that imports " + ", ".join(QUERY_PACKAGES))


def jar_dir():
    """The Spark distribution's jar directory, as the engine's build names it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("the engine build names no Spark jar directory")
    return m.group(1)


def source_files():
    """Every file the build reads, sorted: its stamp covers all of them."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    return files


def build():
    """Compile engine + harness with the Scala compiler that ships among
    the Spark jars; returns the runtime classpath. The build reads no
    dependency cache and needs no build tool, so a checkout builds the same
    wherever it is. A lock keeps concurrent first runs from building twice.
    """
    os.makedirs(TARGET, exist_ok=True)
    jars = jar_dir()
    classes = os.path.join(TARGET, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    files = source_files()
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "build.stamp")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return cp
        log("building engine and harness (scalac)")
        work = os.path.join(TARGET, "build-tmp")
        shutil.rmtree(work, ignore_errors=True)
        out = os.path.join(work, "classes")
        os.makedirs(os.path.join(work, "java"))
        os.makedirs(out)
        args_file = os.path.join(work, "sources.txt")
        with open(args_file, "w") as f:
            f.writelines(p + "\n" for p in files if p.endswith(".scala"))
        # the compiler recurses deeply on the engine's larger files
        res = subprocess.run(
            ["java", "-Xss64m", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'java')}",
             "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp",
             "-nowarn", "-d", out, "@" + args_file],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:])
            raise SystemExit("build failed")
        # the resources ride with the classes, as a packaged build has them
        for base in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
            res_dir = os.path.join(base, "resources")
            if os.path.isdir(res_dir):
                shutil.copytree(res_dir, out, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(out, classes)
        shutil.rmtree(work, ignore_errors=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def run_jvm(cp, args, data_dir, out_file, tmp):
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_TMP_DIR"] = tmp
    # Spark prefers this variable to spark.local.dir: keep shuffle files here
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # bind Spark to loopback whatever the host name resolves to
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.flowbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--out", out_file])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        output, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    keep = [l for l in output.splitlines()
            if "[flowbench]" in l or "Exception" in l or l.startswith("\tat ")]
    for l in keep[:60]:
        print(l, file=sys.stderr)
    if proc.returncode != 0:
        sys.stderr.write(output[-6000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")


def oracle_check(verify, data_dir):
    """Each op's first result against its DuckDB oracle; failing op names."""
    if not verify:
        return []
    import duckdb
    import pandas as pd
    from datagen import TABLES
    # the repository's own replica of the oracle comparison rule
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    bad = []
    for op, v in verify.items():
        try:
            files = glob.glob(os.path.join(v["dir"], "*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            if canon(got) != canon(con.execute(v["sql"]).df()):
                bad.append(op)
        except Exception as e:  # an unreadable result is a wrong one
            log(f"oracle check of {op} failed: {type(e).__name__}: {e}")
            bad.append(op)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise SystemExit("run from the repository root: engine sources not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")

    if args.workload != "collector":
        py = python_with_packages()
        if py:
            os.execv(py, [py] + sys.argv)
    cp = build()
    log("build checked")
    data_dir = ""
    if args.workload != "collector":
        sys.path.insert(0, BENCH)
        import datagen
        # keyed by the generator's source too, so an edit to it regenerates
        with open(os.path.join(BENCH, "datagen.py"), "rb") as f:
            gen = hashlib.sha256(f.read()).hexdigest()[:12]
        data_dir = datagen.generate(
            args.seed, os.path.join(TARGET, "data", f"{gen}-seed{args.seed}"))
    out_file = os.path.join(TARGET, "results",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    log("inputs ready")
    # scratch of this run only, so runs never share or remove each other's
    tmp = os.path.join(TARGET, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        run_jvm(cp, args, data_dir, out_file, tmp)
        log("JVM done")
        with open(out_file) as f:
            rep = json.load(f)
        bad = oracle_check(rep["verify"], data_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for op in bad:
        log(f"FAILED: {op} differs from its oracle")
    log("oracle checked")
    failed = rep["failed"] + len(bad)
    attempted = rep["attempted"] + len(rep["verify"])
    rep["e2e"]["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    rep["oracle_failed"] = bad
    with open(out_file, "w") as f:
        json.dump(rep, f, indent=1, sort_keys=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for section in ("e2e", "layer"):
        for k, m in rep[section].items():
            v = m["value"]
            print(f"  {k:<40} {'null' if v is None else format(v, '.6g'):>14} {m['unit']}")
    for k, v in rep["info"].items():
        print(f"  {k:<40} {v}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = rep["layer"] if args.trace else rep["e2e"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["value"] is None:
            if not args.trace:  # every end-to-end metric must be measured
                raise SystemExit(f"metric {m['name']} was not measured")
            value = 0.0  # a layer this workload does not exercise
        else:
            value = got["value"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
