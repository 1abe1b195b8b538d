#!/usr/bin/env python3
"""Benchmark entry point: one cold-JVM run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the runner
from source (sbt, offline) when they are missing or stale, makes the
workload's inputs, starts one JVM (perfbench.Runner) and prints, as the
last line of stdout, one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
Workload definitions and expected output hashes are in workloads.json;
everything the run writes goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics
import gen_hdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 170
SETUPS = 3
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def build():
    """Compiles engine + runner unless the classes match the sources."""
    h = hashlib.sha256()
    for p in sorted(sources()):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    stamp = os.path.join(WORK, "build.stamp")
    if (os.path.isdir(CLASSES) and os.path.isfile(stamp)
            and open(stamp).read() == h.hexdigest()):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile"], cwd=BENCH, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def hdb_inputs(seed, spec):
    """Generated inputs for the seed, made once per checkout."""
    out = os.path.join(WORK, "inputs", f"hdb-seed{seed}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.isfile(manifest):
        shutil.rmtree(out, ignore_errors=True)
        gen_hdb.generate(seed, out, **spec)
    return json.load(open(manifest))


def check_hdb(out_dir, manifest):
    """Reads both sinks back (DuckDB, not Spark) and compares their
    digests with the generator's. Returns (op -> error or None, stats)."""
    import duckdb
    con = duckdb.connect()
    res = {}
    scraped_rows = 0
    for i, day in enumerate(manifest["days"]):
        part = f"{out_dir}/scraped/transformed_date={day['date']}"
        try:
            rows = con.execute(
                f"SELECT location, price FROM read_parquet('{part}/*.parquet')"
            ).fetchall()
        except duckdb.Error as e:
            res[f"day{i + 1}"] = f"scraped {day['date']} unreadable: {e}"
            continue
        scraped_rows += len(rows)
        got = gen_hdb.digest(f"{loc}|{price}" for loc, price in rows)
        res[f"day{i + 1}"] = (None if got == day["scraped_digest"] else
                              f"scraped {day['date']}: {len(rows)} rows, "
                              f"expected {day['scraped_rows']}")
    rows = con.execute(
        "SELECT CAST(date_of_sale AS VARCHAR), street_name, price, "
        f"floor_area_sqm FROM read_parquet('{out_dir}/historical/*/*.parquet',"
        " hive_partitioning = true)").fetchall()
    got = gen_hdb.digest("|".join(map(str, r)) for r in rows)
    if got != manifest["historical_digest"]:
        res["historical"] = (f"historical: {len(rows)} rows, expected "
                             f"{manifest['rows']['historical']}")
    else:
        res["historical"] = None
    days = len(manifest["days"])
    stats = {
        "listings_in": manifest["rows"]["propnex"] + manifest["rows"]["srx"],
        "rows_in": manifest["rows"]["propnex"] + manifest["rows"]["srx"] +
        days * manifest["rows"]["historical"],
        "in_bytes": manifest["bytes"]["propnex"] + manifest["bytes"]["srx"] +
        days * manifest["bytes"]["historical"],
        "out_bytes": gen_hdb.tree_bytes(out_dir),
        "scraped_rows_out": scraped_rows,
        "historical_rows_out": len(rows),
    }
    return res, stats


def load_spec():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from the "
             "root of a full checkout")
    return json.load(open(os.path.join(BENCH, "workloads.json")))


def run_runner(spec, workload, seed, seconds, trace, run_dir, limit,
               **extra):
    """Makes the inputs, runs one runner JVM and returns (config,
    result, manifest); manifest is None for gate workloads."""
    wl = spec["workloads"][workload]
    cores = os.cpu_count()
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "workload": workload, "cores": cores, "seconds": seconds,
        "trace": bool(trace), "setups": SETUPS,
        "work_dir": run_dir, "out": os.path.join(run_dir, "result.json"),
        "prepares": wl["prepares"], "ops": wl["ops"], **extra,
    }
    manifest = None
    if "generator" in wl:
        manifest = hdb_inputs(seed, wl["generator"])
        cfg["data_dir"] = manifest["dims"]
        cfg["warm_inputs"] = ["district_code", "district_region",
                              "town_district", "agency_id"]
        cfg["hdb"] = {"dims": manifest["dims"],
                      "historical": manifest["historical"],
                      "days": [{k: d[k] for k in ("date", "propnex", "srx")}
                               for d in manifest["days"]]}
    else:
        cfg["data_dir"] = os.path.join(ROOT, spec["fixtures"])
        cfg["warm_inputs"] = [f"{t}.parquet" for t in wl["tables"]]
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = [java, "-XX:+IgnoreUnrecognizedVMOptions", "-XX:-UsePerfData",
           f"-Xmx{HEAP}",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir}",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-cp", f"{CLASSES}{os.pathsep}{spark_jars}", "perfbench.Runner",
           cfg_path]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"runner {'timed out' if rc is None else f'exited {rc}'}")
    return cfg, json.load(open(cfg["out"])), manifest


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload}")
    os.makedirs(WORK, exist_ok=True)
    t_build = time.monotonic()
    build()
    build_s = time.monotonic() - t_build

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    cfg, result, manifest = run_runner(
        spec, args.workload, args.seed, args.seconds, args.trace, run_dir,
        RUN_LIMIT_S - (time.monotonic() - t_start - build_s))
    hdb_checks = stats = None
    if manifest is not None:
        hdb_checks = []
        for n in range(1, len(result["passes"]) + 1):
            check, stats = check_hdb(f"{run_dir}/out/pass{n}", manifest)
            hdb_checks.append(check)
    attempted, failed, msgs = metrics.failures(
        result, wl.get("expected", {}), hdb_checks)
    for m in msgs:
        print(f"perfbench: FAILED {m}", file=sys.stderr)

    if args.trace:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        spans = result["trace"]["spans"]
        with open(os.path.join(trace_dir, f"{run_id}.spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps({"run": run_id, **s}) + "\n")
        values = metrics.per_layer(result, cfg["cores"], attempted, failed,
                                   spans, stats)
        declared = bench["per_layer"]
    else:
        values = metrics.end_to_end(result, attempted, failed)
        declared = bench["end_to_end"]
    # every declared metric is printed; a layer this workload does not
    # exercise reads 0
    out = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
           for m in declared}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
