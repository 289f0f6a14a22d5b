#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload serve_sync --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt compiles ../src/main/scala
together with perfbench/src); later runs reuse the build while the sources
are unchanged. Everything a run writes goes under .bench_build/perfbench,
apart from sbt's own output in perfbench/target and perfbench/project/target.

Workloads: serve_sync, gate_suite (see perfbench/DESIGN.md).
With --trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. The last stdout line is the result JSON;
the exit code is non-zero when any answer was wrong or the run failed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve_sync", "gate_suite")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the root build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        die("cannot find the Spark jars: set SPARK_HOME")
    return m.group(1)


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("hash") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and "scala-library" in l]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {os.path.join(WORK, 'build.log')}", 1)
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def private_tmp_available():
    """Whether the JVM can get a private /tmp (a mount namespace). Some gates
    keep fixtures under /tmp; the bind mount keeps them inside the checkout."""
    try:
        return subprocess.run(
            ["unshare", "-m", "--propagation", "private", "true"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def run_jvm(classpath, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xmx2g", "-Xms2g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--out", out]
    private = private_tmp_available()
    if private:
        cmd = ["unshare", "-m", "--propagation", "private", "sh", "-c",
               'mount --bind "$0" /tmp && exec "$@"', tmp] + cmd
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if not private:
        # without a private /tmp, remove the fixtures the gates left there
        key = re.sub(r"[^a-zA-Z0-9]", "_", os.path.join(run_dir, "tables"))
        for d in glob.glob(f"/tmp/graft_journal_*{key}*"):
            shutil.rmtree(d, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"the benchmark JVM failed ({code}):\n{tail}", 1)
    with open(out) as f:
        return json.load(f)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def check_gates(run_dir):
    """Compare each gate's rows with its DuckDB oracle on the same tables.
    Returns (checked, failures)."""
    import duckdb
    import pandas as pd
    out = os.path.join(run_dir, "gate_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(run_dir, "tables", "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for gate in sorted(os.listdir(out)):
        if not os.path.isdir(os.path.join(out, gate)):
            continue
        files = sorted(glob.glob(os.path.join(out, gate, "*.parquet")))
        if gate not in oracles:
            failures.append(f"{gate}: no oracle SQL")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
        try:
            oracle_df = con.sql(oracles[gate]).arrow().to_pandas()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{gate}: oracle error {e}")
            continue
        if spark_df is None:
            failures.append(f"{gate}: no rows written")
            continue
        a, b = canon(spark_df), canon(oracle_df)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            failures.append(f"{gate}: shape {list(a.columns)}x{len(a)} != {list(b.columns)}x{len(b)}")
            continue
        for c in a.columns:
            neq = a[c].astype(str) != b[c].astype(str)
            if neq.any():
                i = neq.idxmax()
                failures.append(f"{gate}: col={c} row={i} spark={a[c].astype(str)[i]!r} "
                                f"oracle={b[c].astype(str)[i]!r}")
                break
    return len(oracles), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if args.workload == "gate_suite":
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.generate(os.path.join(run_dir, "tables"), args.seed)

    res = run_jvm(classpath, args, run_dir)
    if args.workload == "gate_suite":
        checked, failures = check_gates(run_dir)
        res["attempted"] += checked
        res["failed"] += len(failures)
        res["errors"] += failures
        res["correct"] = res["failed"] == 0

    keep = os.path.join(WORK, "results")
    os.makedirs(keep, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(keep, name + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    for trace in glob.glob(os.path.join(run_dir, "trace-*.json")):
        phase = os.path.basename(trace)[len("trace-"):-len(".json")]
        shutil.copy(trace, os.path.join(keep, f"{name}.trace-{phase}.json"))

    rate = res["failed"] / max(1, res["attempted"])
    shown = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in res["metrics"].items())
    print(f"{args.workload} seed={args.seed} trace={args.trace} error_rate={rate:.6g} "
          f"({res['failed']}/{res['attempted']}) {shown}")
    for e in res["errors"][:10]:
        log(f"wrong answer: {e}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
