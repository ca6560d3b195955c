#!/usr/bin/env python3
"""Benchmark of the medallion warehouse and its operator keys.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the harness in perfbench/src (once per source
state), makes the workload's inputs from the seed, runs one closed-loop
client in one JVM on local[nproc], checks the outputs, and prints one
JSON object as the last line of standard output. Exits non-zero when the
program cannot be built or run, or when an output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# name -> (kind, orders); a pipeline workload's inputs are made by gen.py
WORKLOADS = {
    "pipeline-2k": ("pipeline", 2000),
    "keys-sf0.1": ("keys", None),
}

END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
    ("heap_peak_mb", "MB"),
]

PIPELINE_LAYERS = ["bronze", "silver", "gold", "qa"]
BRONZE_TABLES = ["olist_customers", "olist_geolocation", "olist_orders", "olist_order_items",
                 "olist_order_payments", "olist_order_reviews", "olist_products",
                 "olist_sellers", "product_category_name_translation"]
SILVER_TABLES = ["customers", "sellers", "product_category_translation", "products",
                 "geolocation", "orders", "order_items", "order_payments", "order_reviews"]
GOLD_TABLES = ["dim_date", "dim_customer", "dim_product", "dim_seller",
               "fact_orders", "fact_order_items", "fact_reviews"]


def key_list(seed=None):
    """The committed key list; a seed permutes its order."""
    with open(os.path.join(HERE, "keys.txt")) as f:
        keys = [l.split("#")[0].strip() for l in f]
    keys = [k for k in keys if k]
    if seed is not None:
        random.Random(seed).shuffle(keys)
    return keys


def per_layer():
    """(name, unit) of every per-layer metric a traced run prints."""
    m = [("trace_overhead_frac", "ratio")]
    for layer, tables in (("bronze", BRONZE_TABLES), ("silver", SILVER_TABLES),
                          ("gold", GOLD_TABLES)):
        m += [(f"{layer}.s", "s")] + [(f"{layer}.{t}.s", "s") for t in tables]
    m += [("qa.s", "s"), ("audit.s", "s"), ("audit.events", "count")]
    for layer in PIPELINE_LAYERS:
        m += [(f"{layer}.jobs", "count"), (f"{layer}.tasks", "count"),
              (f"{layer}.task_s", "s"), (f"{layer}.task_util", "ratio"),
              (f"{layer}.driver_gap_s", "s"), (f"{layer}.shuffle_write_bytes", "bytes")]
        if layer != "qa":  # QA only reads
            m += [(f"{layer}.output_bytes", "bytes")]
    m += [("warehouse.files", "count"), ("warehouse.bytes", "bytes"),
          ("storage_ratio", "ratio")]
    m += [("keys.build_s", "s"), ("keys.plan_s", "s"), ("keys.actions", "count"),
          ("keys.exec_s", "s"), ("keys.jobs", "count"), ("keys.stages", "count"),
          ("keys.tasks", "count"), ("keys.task_s", "s"),
          ("keys.single_task_stage_frac", "ratio"), ("keys.driver_gap_s", "s"),
          ("keys.shuffle_read_bytes", "bytes"), ("keys.shuffle_write_bytes", "bytes"),
          ("keys.spill_bytes", "bytes"), ("keys.p50_s", "s"), ("keys.p75_s", "s")]
    m += [(f"keys.{f}.s", "s") for f in sorted({k.split("-")[0] for k in key_list()})]
    m += [("codegen.compiles", "count"), ("codegen.compile_s", "s"),
          ("jvm.jit_s", "s"), ("jvm.gc_s", "s"), ("host.canary_s", "s")]
    return m


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_LIMIT_S = 170  # every run must end within 180 s


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(d, "**", "*.java"), recursive=True)
    return sorted(files)


def build():
    """Compiles the program with the harness once per source state and
    returns the runtime classpath."""
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp = stamp.hexdigest()
    cp_file = os.path.join(BUILD, "classpath-" + stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and l.startswith(HERE)]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def jvm(cp, work, args, timeout):
    """Runs the harness; its log goes to a file so that stdout ends with
    the result line."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *JVM_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness did not finish within {timeout:.0f} s")
        finally:
            # some keys keep scratch files under a fixed per-process root
            # (graft.ops.Tables); remove what this run's JVM left there
            shutil.rmtree(f"/tmp/graft-ops/p{p.pid}", ignore_errors=True)


def oracle_check(dump, sf_dir):
    """Compares each dumped key result with its oracle SQL in DuckDB, with
    the program's own compare (tools/selfcheck.py). Returns failed keys."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"), dump, sf_dir],
                       capture_output=True, text=True, timeout=120)
    bad = {}
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("SCHEMA", "ROWCOUNT", "VALUES", "ORACLE-ERR",
                                            "READ-ERR", "MISSING"):
            bad[parts[1].rstrip(":")] = line
    if p.returncode != 0 and not bad:
        bad["<selfcheck>"] = (p.stdout + p.stderr)[-500:]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for f in ("src/main/scala/graft/SparkEntry.scala", "src/main/scala/graft/olist/Orchestrator.scala",
              "tools/selfcheck.py", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} is missing: run from the root of a full checkout")
    cp = build()
    t_built = time.time()

    kind, orders = WORKLOADS[a.workload]
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    checks = []
    prep_s = []
    args = ["--mode", kind, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", os.path.join(work, "result.json")]
    try:
        if kind == "pipeline":
            # three generations: the median is the set-up share, and equal
            # bytes across them check the generator's determinism
            digests = []
            for i in range(3):
                d = os.path.join(work, f"csv{i}")
                t0 = time.perf_counter()
                expected = gen.generate(d, orders, a.seed)
                prep_s.append(time.perf_counter() - t0)
                digest = hashlib.sha256()
                for p in sorted(glob.glob(d + "/*.csv")):
                    with open(p, "rb") as f:
                        digest.update(f.read())
                digests.append(digest.hexdigest())
            if len(set(digests)) != 1:
                checks.append("generator is not deterministic for one seed")
            with open(os.path.join(work, "expected.txt"), "w") as f:
                f.writelines(f"{k} {v}\n" for k, v in sorted(expected.items()))
            args += ["--input", os.path.join(work, "csv0"),
                     "--expected", os.path.join(work, "expected.txt")]
            sf_dir = None
        else:
            sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
            if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
                fail(f"no sf0.1 tables at {sf_dir} (set SPARK_GRAFT_SF_DIR)")
            t0 = time.perf_counter()
            keys = key_list(a.seed)
            with open(os.path.join(work, "keys.txt"), "w") as f:
                f.writelines(k + "\n" for k in keys)
            prep_s.append(time.perf_counter() - t0)
            args += ["--input", sf_dir, "--keys", os.path.join(work, "keys.txt")]

        code = jvm(cp, work, args, RUN_LIMIT_S - (time.time() - t_built) - 15)
        try:
            with open(os.path.join(work, "result.json")) as f:
                r = json.load(f)
        except (OSError, ValueError):
            fail(f"harness exited {code} without a result")
        if code != 0:
            checks.append(f"harness exited {code}")
        checks += r["checks"]
        failed = r["failed"]
        attempted = r["attempted"]
        if kind == "keys":
            # a key whose cold execution failed is already counted, and has no dump
            cold_failed = {o["name"] for o in r["ops"] if o["pass"] == 0 and o["error"]}
            bad = {k: v for k, v in oracle_check(os.path.join(work, "dump"), sf_dir).items()
                   if k not in cold_failed}
            for k, line in sorted(bad.items()):
                checks.append(f"oracle mismatch: {line}")
            failed += len(bad)
            attempted += len(set(keys))

        e2e = dict(r["e2e"])
        e2e["setup_s"] = statistics.median(r["setup_s"]) + r["prep_s"] + statistics.median(prep_s)
        if a.trace:
            names = per_layer()
            values = {n: float(r["layers"].get(n, 0.0)) for n, _ in names}
        else:
            names = END_TO_END
            missing = [n for n, _ in names if e2e.get(n) is None]
            if missing:
                checks.append(f"no value for {', '.join(missing)}")
            values = {n: e2e.get(n) or 0.0 for n, _ in names}

        for c in checks:
            print(f"CHECK FAILED: {c}")
        print(f"workload {a.workload} seed {a.seed}: {attempted} operations, {failed} failed "
              f"({failed / max(attempted, 1):.4f} failed_frac)")
        if kind == "keys" and "keys.n" in r["layers"]:
            lay = r["layers"]
            print(f"per-key median warm wall over n={int(lay['keys.n'])} keys: "
                  f"p50 {lay['keys.p50_s']:.4f} s, p75 {lay['keys.p75_s']:.4f} s")
        for o in r["ops"]:
            print(f"op {o['name']} pass {o['pass']}{' traced' if o['traced'] else ''}: "
                  + (f"{o['wall_s']:.4f} s" if not o["error"] else f"failed: {o['error'][:200]}"))
        print("canary s: " + " ".join(f"{c:.4f}" for c in r["canary_s"]))
        for n, unit in names:
            print(f"{n} = {values[n]:.6g} {unit}")
        if a.trace:
            with open(os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"ops": r["ops"], "spans": r["spans"]}, f)
        out = {"correct": not checks, "attempted": attempted, "failed": failed,
               "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}
        print(json.dumps(out))
        return 0 if not checks else 1
    finally:
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            shutil.copy(log, os.path.join(BUILD, f"last-{a.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
