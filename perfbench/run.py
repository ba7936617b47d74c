"""The repository's benchmark: one command, run from the root of a checkout.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), writes the workload's
seeded inputs (perfbench/gen.py), runs the JVM harness (perfbench/scala),
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 a SparkListener and span recorder are attached and the metrics
are its per_layer list. The full artifact — every op, the noise samples,
the session shape, input sizes, the tracing overhead — lands in
.bench_build/artifacts/, the span log of a traced run beside it.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import build  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
# set-ups per run; setup_s is their median. A manifest set-up folds the
# whole corpus (~25 s in a fresh JVM), so it sets up once: a second one
# would push one two-commit comparison of all workloads past an hour.
SETUPS = {"minisql_repl": 5, "relational_sf0.1": 5, "manifest_cdc": 1}
# run by hand, not part of BENCHMARK.json: one two-commit comparison runs
# each listed workload ~24 times within an hour, and a third workload of
# ~40 s a run does not fit beside ~30 s REPL and ~85 s manifest runs
EXTRA_WORKLOADS = {
    "relational_sf0.1": "the 14 relational bench queries in seeded order "
    "over the sf0.1 test data, DuckDB-checked; scans, joins, aggregations "
    "and shuffle carry it; the only workload on Queries"}
RUN_LIMIT_S = 170  # a run must end within 180 s

# the module flags Spark needs on JDK 17 when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm(classes, args, log_path, timeout):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java"] + opens + ["-Xmx3g", "-XX:-UsePerfData",
                               "-Djava.io.tmpdir=" + tmp,
                               "-cp", cp, "graft.perfbench.PerfBench"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def sf_dir():
    """The sf0.1 test-data directory: the one graft.Bench reads when
    SPARK_GRAFT_SF_DIR is unset. Read-only; no run writes there."""
    path = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")
    if not os.path.exists(path):
        raise SystemExit("perfbench: %s is missing; run from a checkout of "
                         "the repository" % os.path.relpath(path, ROOT))
    with open(path) as f:
        m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)',
                      f.read())
    if not m or not os.path.exists(os.path.join(m.group(1),
                                                "documents.parquet")):
        raise SystemExit("perfbench: no sf0.1 test data (graft.Bench's "
                         "default SPARK_GRAFT_SF_DIR)")
    return m.group(1)


def relational_check(check_dir, data, tmp):
    """Compares each query result the harness dumped under `check_dir`
    with its registered oracle SQL run by DuckDB over the same tables:
    columns sorted by name, rows sorted, exact values (tools/check.py's
    rule). Returns {query: what is wrong} for the queries that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET temp_directory = '%s'" % tmp)
    con.execute("SET threads = %d" % (os.cpu_count() or 1))
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (name, p))
    with open(os.path.join(check_dir, "oracle.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        got_path = os.path.join(check_dir, name, "*.parquet")
        try:
            got = con.execute("SELECT * FROM '%s'" % got_path).fetchdf()
            if sql is None:  # no oracle: the result must not be empty
                if len(got) == 0:
                    bad[name] = "no oracle and 0 rows"
                continue
            want = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 — a failing query is a mismatch
            bad[name] = "error: %s" % str(e)[:300]
            continue
        want = want[sorted(want.columns)]
        got = got[sorted(got.columns)]
        if list(want.columns) != list(got.columns):
            bad[name] = "columns %s, oracle %s" % (list(got.columns),
                                                   list(want.columns))
        elif len(want) != len(got):
            bad[name] = "%d rows, oracle %d" % (len(got), len(want))
        elif not want.sort_values(by=list(want.columns), ignore_index=True) \
                .equals(got.sort_values(by=list(got.columns),
                                        ignore_index=True)):
            bad[name] = "values differ from the oracle"
    return bad


def fail_ops(res, bad):
    """Marks every op of a query whose checked result was wrong as failed:
    the timed runs of that query computed the same wrong result."""
    for o in res["ops"]:
        if o["label"] in bad and o["ok"]:
            o["ok"] = False
            res["failed"] += 1
            if len(res["errors"]) < 20:
                res["errors"].append({"op": o["id"], "label": o["label"],
                                      "error": bad[o["label"]]})
    res["error_frac"] = res["failed"] / max(1, res["attempted"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = {w["name"]: w["why"] for w in spec["workloads"]}
    workloads.update(EXTRA_WORKLOADS)
    if a.workload not in workloads:
        raise SystemExit("perfbench: unknown workload %r (have %s)"
                         % (a.workload, ", ".join(workloads)))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build(BUILD_DIR)
    data = sf_dir()
    # keyed by the generator's own source too, so edited generators never
    # reuse stale inputs
    with open(gen.__file__, "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = os.path.join(BUILD_DIR, "inputs", "%s-%d-%s" % (
        a.workload, a.seed, gen_hash))
    sizes = gen.generate(a.workload, a.seed, inputs, data)

    run_dir = os.path.join(BUILD_DIR, "runs", "%s-%d-%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    try:
        code = jvm(classes, ["--workload", a.workload, "--inputs", inputs,
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--setups", str(SETUPS[a.workload]), "--data", data,
                    "--work", os.path.join(run_dir, "work"), "--out", out],
                   log, RUN_LIMIT_S - (time.time() - t_start))
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit("perfbench: harness %s" % (
                "timed out" if code is None else "exited with %s" % code))
        with open(out) as f:
            res = json.load(f)
        if a.workload == "relational_sf0.1":
            tmp = os.path.join(run_dir, "duckdb-tmp")
            os.makedirs(tmp)
            t0 = time.time()
            bad = relational_check(os.path.join(run_dir, "work", "check"),
                                   data, tmp)
            res["oracle_check_s"] = time.time() - t0
            res["oracle_mismatches"] = bad
            fail_ops(res, bad)
        art_dir = os.path.join(BUILD_DIR, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        stem = os.path.join(art_dir, "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
        if a.trace:
            shutil.copy(out + ".spans.jsonl", stem + ".spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    source = res["per_layer"] if a.trace else res["end_to_end"]
    # a layer this workload never crosses spent nothing there: 0
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    finite = all(isinstance(v["value"], (int, float))
                 and math.isfinite(v["value"]) for v in metrics.values())
    res.update({"seed": a.seed, "why": workloads[a.workload],
                "input_sizes": sizes, "wall_s": time.time() - t_start})
    if a.trace:
        # tracing overhead: this traced run's end-to-end figures minus the
        # untraced run's of the same workload and seed, when one is on record
        base = stem[:-1] + "0.json"
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            res["tracing_overhead"] = {
                k: res["end_to_end"][k] - untraced[k] for k in untraced}
        else:
            res["tracing_overhead"] = None
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"correct": res["failed"] == 0 and finite,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
