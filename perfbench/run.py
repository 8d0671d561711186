#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (`perfbench/build.sbt`); later runs reuse
the build while the sources are unchanged. Every input is generated
from `--seed`: MP4 clips by the engine's own encoders (in the JVM) and
the query tables by `gen_tables.py`. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json, or with `--trace 1` its
per-layer metrics). `--size tiny` runs a seconds-long smoke version.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD_FILE = os.path.join(TARGET, "perfbench-build.json")
WORKLOADS = ("video_backlog", "query_mix")
# query_mix table scale (rows ~ 6M x sf in lineitem)
QUERY_SF = {"full": 0.01, "tiny": 0.001}
RUN_DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 840.0

def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every file the build reads, so an edited source rebuilds.
    The engine's heap size comes from the environment at build time."""
    h = hashlib.sha1()
    for k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_JVM_OPTS"):
        h.update(f"{k}={os.environ.get(k, '')}".encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; return the
    classpath and the engine's own JVM options (its build's javaOptions)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala/graft)", 2)
    fp = source_fingerprint()
    if os.path.isfile(BUILD_FILE):
        with open(BUILD_FILE) as fh:
            saved = json.load(fh)
        if saved["fingerprint"] == fp:
            return saved["classpath"], saved["java_options"]
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath", "show javaOptions"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log_path}")
        log.write(p.stdout)
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and not l.startswith("[")]
    # `show` lists a Seq one element a line: "[info] * <option>"
    opts = [l[len("[info] * "):].strip() for l in lines if l.startswith("[info] * ")]
    if p.returncode != 0 or not cps or not opts:
        fail(f"build failed (exit {p.returncode}), see {log_path}")
    with open(BUILD_FILE, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cps[-1], "java_options": opts}, fh)
    return cps[-1], opts


def run_jvm(cp, java_options, argv, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + java_options + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main"] + argv
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"engine run failed ({rc})")


def oracle_check(data_dir, results_dir):
    """Compare each query result with the engine's DuckDB oracle SQL,
    normalised as `tools/check_oracle.py` does: same column names and
    types, same rows. Returns the query count and the failing queries."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon

    def read(rel):
        return {c: str(t) for c, t in zip(rel.columns, rel.types)}, canon(rel.columns, rel.fetchall())

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name, sql in oracle.items():
        try:
            got = read(con.sql(f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'"))
            want = read(con.sql(sql))
            if got != want:
                bad[name] = (f"types {got[0]} vs {want[0]}" if got[0] != want[0]
                             else f"{len(got[1][1])} rows vs {len(want[1][1])} expected")
        except Exception as e:  # an unreadable result is a wrong result
            bad[name] = str(e)[:200]
    return len(oracle), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    start = time.time()
    cp, java_options = build()
    deadline = time.time() + RUN_DEADLINE_S - 10
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}"
    work = os.path.join(TARGET, "work", f"{tag}-{os.getpid()}")
    runs = os.path.join(TARGET, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        argv = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--size", args.size, "--work", work, "--out", out]
        data = None
        if args.workload == "query_mix":
            sys.path.insert(0, HERE)
            import gen_tables
            data = os.path.join(work, "data")
            gen_tables.generate(data, args.seed, QUERY_SF[args.size])
            argv += ["--data", data]
        run_jvm(cp, java_options, argv, work, deadline)
        with open(out) as fh:
            res = json.load(fh)
        checks = res["checks"]
        failed = res["failed"]
        if data is not None:
            n, bad = oracle_check(data, os.path.join(work, "results"))
            passes = int(res["inputs"].get("passes", 1))
            failed += len(bad) * passes
            checks.append({"name": f"query_mix: {n - len(bad)}/{n} queries match the oracle",
                           "ok": not bad, "detail": json.dumps(bad)})
            res["checks"] = checks
            res["failed"] = failed
            with open(out, "w") as fh:
                json.dump(res, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    missing = []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            # a per-layer metric of another workload's layers
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    e2e_missing = [m for m in missing if not args.trace]
    correct = all(c["ok"] for c in checks) and failed == 0 and not e2e_missing
    for c in checks:
        print(("ok   " if c["ok"] else "FAIL ") + c["name"] + ("" if c["ok"] else f": {c['detail']}"))
    print(f"inputs: {json.dumps(res['inputs'])}; wall {time.time() - start:.1f}s")
    print(json.dumps({"correct": correct, "attempted": max(1, int(res["attempted"])),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
