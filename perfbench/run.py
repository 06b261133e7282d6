#!/usr/bin/env python3
"""Benchmark runner: builds the library and the benchmark driver from
source, stages seeded inputs into a run-owned directory, runs one workload
in a fresh JVM, checks its outputs, and prints one JSON result line.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 5 --trace 0

Workloads and metrics are described in perfbench/README.md. `--smoke` runs
the small corpus (used by perfbench/test_smoke.py).
Exit code 0 means a result line was printed; any other code means the run
could not measure (build failure, JVM failure or timeout).
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170.0
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# The LLM-tier registry queries batch_etl runs after the star jobs, one or
# two per operator module, chosen so one pass fits the run length.
LLM_QUERIES = [
    "dedup_minhash_lsh", "bm25_top_docs", "hybrid_rrf_top_docs", "embedding_near_dup",
    "multimodal_phash_dupes",
]

# Per-scale index-maintenance sizes: documents in the micro-batch folded
# per pass, and doc ids in the forget list.
SIZES = {"full": {"batch_size": 25, "forget": 50}, "smoke": {"batch_size": 10, "forget": 10}}
WORKLOADS = ["batch_etl", "index_maintenance"]
# Timed passes per untraced run, at least; more while the run length lasts.
# An index pass is short and its CPU time still falls from one pass to the
# next, so the median of four keeps its spread near the batch's.
MIN_PASSES = {"batch_etl": 1, "index_maintenance": 4}


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        fail("SPARK_HOME must name a Spark installation with its jars")
    return os.path.join(jars, "*")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Compile the library and the driver unless the sources are unchanged."""
    lib = sources(os.path.join(REPO, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "scala"))
    if not lib:
        fail("no library sources under src/main/scala")
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(lib + bench))
    cp = spark_jars()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_checks(input_dir, out_dir):
    """The comparison of tools/check_oracle.py over one output directory:
    each `<out_dir>/<query>` against its DuckDB oracle SQL in
    `<out_dir>/oracle_sql.json`, run over the staged input."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        load_check_oracle().main(input_dir, out_dir)
    return [{"name": "oracle." + line.split()[1].rstrip(":"),
             "ok": line.startswith("PASS"), "detail": line[:300]}
            for line in buf.getvalue().splitlines() if line.startswith(("PASS ", "FAIL "))]


def check_star(input_dir, out_dir):
    """Mart tables against the StarSchema DuckDB oracle, and each pass's
    observed row counts against the oracle's row counts."""
    import duckdb
    mart = os.path.join(out_dir, "mart")
    checks = oracle_checks(input_dir, mart)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(mart, "oracle_sql.json")))
    want = {k: con.execute(f"SELECT count(*) FROM ({v})").fetchone()[0]
            for k, v in oracle.items()}
    for rec in json.load(open(os.path.join(out_dir, "star_counts.json"))):
        ok = rec["counts"] == want
        checks.append({"name": f"observe_counts.pass{rec['pass']}", "ok": ok,
                       "detail": "" if ok else f"got={rec['counts']} want={want}"})
    return checks


def run(args):
    scale = "smoke" if args.smoke else "full"
    size = SIZES[scale]
    build_dir = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    # the run's deadline excludes a first build
    t_start = time.monotonic()
    tables = gen.base_tables(scale)
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ["tmp", "local", "input", "root", "out"]}
    for d in dirs.values():
        os.makedirs(d)
    host0 = host.sample()
    proc = None
    try:
        t0 = time.monotonic()
        cpu0 = time.process_time()
        gen.stage(tables, dirs["input"], args.seed, size["batch_size"], size["forget"])
        stage_cpu_s = time.process_time() - cpu0
        cpus = str(os.cpu_count() if not os.environ.get("SPARK_GRAFT_CPUS")
                   else os.environ["SPARK_GRAFT_CPUS"])
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
               f"-Djava.io.tmpdir={dirs['tmp']}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", classes + os.pathsep + spark_jars(), "graft.perfbench.Driver",
                f"workload={args.workload}", f"input={dirs['input']}",
                f"root={dirs['root']}", f"out={dirs['out']}", f"seed={args.seed}",
                f"seconds={args.seconds if not args.smoke else 0}",
                f"trace={args.trace}", f"cpus={cpus}",
                f"queries={','.join(LLM_QUERIES)}",
                # a settling pass, then untraced, traced, traced, untraced
                f"min_passes={5 if args.trace else MIN_PASSES[args.workload]}"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
        ready = []

        def watch(stream):
            for line in stream:
                if line.strip() == "PERFBENCH_READY" and not ready:
                    ready.append(time.monotonic() - t0)
        with open(os.path.join(run_dir, "driver.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    env=env, cwd=run_dir)
            reader = threading.Thread(target=watch, args=(proc.stdout,))
            reader.start()
            try:
                proc.wait(timeout=max(DEADLINE_S - (time.monotonic() - t_start), 1.0))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            reader.join()
        setup_s = ready[0] if ready else None
        if proc.returncode != 0 or setup_s is None:
            with open(os.path.join(run_dir, "driver.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"driver exited with {proc.returncode}", 3)
        res = json.load(open(os.path.join(dirs["out"], "result.json")))
        checks = list(res["checks"])
        if args.workload == "batch_etl":
            checks += (check_star(dirs["input"], dirs["out"])
                       + oracle_checks(dirs["input"], os.path.join(dirs["out"], "llm")))
        host1 = host.sample()
        setup_cpu_s = stage_cpu_s + res["marks"]["ready"]["cpu_ns"] / 1e9
        record = metrics.compute(res, checks, setup_s, setup_cpu_s, int(cpus),
                                 bool(args.trace))
        record["host"] = host.bracket(host0, host1)
        record["heap"] = HEAP
        record["args"] = vars(args)
        record["wall_s"] = time.monotonic() - t_start
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1)
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        print(f"[perfbench] check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"host": record["host"], "heap": HEAP}), file=sys.stderr)
    metric_set = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    missing = [k for k, _ in metric_set if record["metrics"].get(k) is None]
    if missing:
        fail(f"metrics missing: {missing}", 4)
    out = {k: {"value": record["metrics"][k], "unit": u} for k, u in metric_set}
    print(json.dumps({"correct": not bad and record["failed"] == 0,
                      "attempted": record["attempted"], "failed": record["failed"],
                      "metrics": out}))


def main():
    # a terminated runner still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    run(ap.parse_args())


if __name__ == "__main__":
    main()
