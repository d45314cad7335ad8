#!/usr/bin/env python3
"""The repository's benchmark: CSV->DB pipeline runs and query passes.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, into
.bench_build/), generates the workload's inputs from the seed, runs one
JVM with one closed-loop client on Spark local[4], checks every output
and prints the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a run that first measures untraced, then traced.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
TPCH_DATA = HERE / "data" / "sf0.01"  # the repository's test tables, read only
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "perfbench" / "scala-2.13" / "classes"
STAMP = BUILD / "perfbench.stamp"
WORK = ROOT / ".bench_work"

CORES = 4
HEAP = "2g"
DEADLINE_S = 170        # a run must end within 180 s
BUILD_DEADLINE_S = 840  # the first run of a checkout may take 900 s
SALES_ROWS = 40_000

TPCH_QUERIES = [
    "q1_lineitem_agg", "q2_min_bal_supplier", "q3_shipping_priority",
    "q4_priority_exists", "q5_nation_revenue", "sql_q6_forecast",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_part_value", "q12_priority_lines",
    "q13_custdist", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_qty", "q18_large_volume",
    "q19_disjunctive", "q20_excess_shipments", "q21_waiting_supplier",
    "q22_idle_customers"]

# workload -> fewest measured units in a window (pipeline runs / passes)
WORKLOADS = {"etl_fresh_load": 7, "query_tpch": 1}

# name -> unit; the lists BENCHMARK.json declares, in its order
END_TO_END = {"setup_s": "s", "run_s_p50": "s", "op_s_p50": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "ingest.charset_s": "s", "ingest.schema_s": "s",
    "ingest.read_amplification": "ratio", "validate.structure_s": "s",
    "validate.rows_s": "s", "load.upsert_s": "s",
    "load.upsert_rows_per_s": "rows/s", "load.update_s": "s",
    "load.update_rows_per_s": "rows/s", "load.append_s": "s",
    "load.connections": "count", "load.batches": "count",
    "runner.self_s": "s", "load.multiwriter_failures": "count",
    "queries.build_s": "s", "plans.plan_s": "s", "exec.run_s": "s",
    "exec.task_s": "s", "exec.cpu_util": "ratio", "exec.jobs": "count",
    "exec.shuffle_mb": "MB", "exec.input_mb": "MB",
    "setup.first_build_s": "s", "trace.overhead_s": "s"}

# Spark 4 on JDK 17 outside spark-submit needs these (as the repo's build
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(*parts):
    print(*parts, file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless this source tree is
    already built."""
    if not (PROGRAM_SRC / "graft").is_dir():
        raise BenchError(f"program sources not found under {PROGRAM_SRC}")
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("perfbench: building program and harness (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
        env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_DEADLINE_S, check=False)
    if proc.returncode != 0:
        log(proc.stdout.decode(errors="replace")[-4000:])
        raise BenchError("build failed")
    STAMP.write_text(digest)
    log(f"perfbench: built in {time.time() - t0:.0f} s")


def generate(seed, trace, data):
    """Write the etl workload's inputs; return the ground truth the checks
    use. Version B of the sales batch feeds the traced UPDATE-branch run."""
    sys.path.insert(0, str(HERE))
    sys.dont_write_bytecode = True
    import gen
    data.mkdir(parents=True)
    truth = {}
    for i, v in enumerate(["a", "b"] if trace else ["a"]):
        body, truth[v] = gen.sales_csv(seed, SALES_ROWS, i)
        (data / f"sales_{v}.csv").write_bytes(body)
    return truth


def run_jvm(main, argv, work, deadline):
    """Run a harness main to completion; return its peak RSS in MB, as the
    kernel accounts it for the child process."""
    cp = os.pathsep.join([str(CLASSES), str(Path(spark_home()) / "jars" / "*")])
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    # a fixed heap and the throughput collector: G1's heap sizing and
    # concurrent work made run times and peak RSS spread widely
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work / 'derby'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + argv
    with open(work / "jvm.log", "wb") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    proc.returncode = os.waitstatus_to_exitcode(status)
                    break
                if time.time() > deadline:
                    raise BenchError("harness overran its time budget")
                time.sleep(0.05)
        finally:
            if proc.returncode is None:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
    if proc.returncode != 0:
        log((work / "jvm.log").read_text(errors="replace")[-4000:])
        raise BenchError(f"harness exited with {proc.returncode}")
    return usage.ru_maxrss / 1024.0


def check_etl(result, truth):
    """Problems of each run: errors, and what the database holds against
    the generator's truth. A run into a database an earlier run loaded
    must leave the clean count as is and append its own dead letters."""
    problems = []
    rejected_in = {}
    for r in result["runs"]:
        p = []
        if not r.get("ok"):
            p.append(r.get("error", "failed"))
        else:
            t = truth[r["version"]]
            for k in ("n_input", "n_clean", "n_rejected", "clean_rows",
                      "sum_quantity", "sum_price_cents", "sum_total_cents",
                      "sum_customer_id", "sum_date", "sum_text_len",
                      "n_completed", "n_loaded_at"):
                if r[k] != t[k]:
                    p.append(f"{k} {r[k]} != {t[k]}")
            grew = r["rejected_rows"] - rejected_in.get(r["db"], 0)
            if grew != t["n_rejected"]:
                p.append(f"dead letter grew by {grew} != {t['n_rejected']}")
            rejected_in[r["db"]] = r["rejected_rows"]
        problems.append(p)
    return problems


def check_queries(result, data):
    """Compare each query's set-up pass rows with DuckDB running its oracle
    SQL over the same tables. Returns {query: problem}."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    problems = dict(result["setup_errors"])
    res_dir = Path(result["results_dir"])

    def rows_of(rel):
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(cols), [tuple(r[i] for i in order) for r in rel.fetchall()]

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or \
                math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        return a == b

    for name, sql in result["oracle"].items():
        if name in problems:
            continue
        try:
            s_cols, s_rows = rows_of(con.sql(f"SELECT * FROM '{res_dir / name}/*.parquet'"))
            d_cols, d_rows = rows_of(con.sql(sql))
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            problems[name] = f"oracle: {e}"
            continue
        if s_cols != d_cols or len(s_rows) != len(d_rows):
            problems[name] = f"shape {s_cols}x{len(s_rows)} != {d_cols}x{len(d_rows)}"
            continue
        key = lambda r: tuple(str(x) for x in r)  # noqa: E731
        for a, b in zip(sorted(s_rows, key=key), sorted(d_rows, key=key)):
            if not all(same(x, y) for x, y in zip(a, b)):
                problems[name] = f"row {a} != {b}"
                break
    return problems


def harness(workload, seconds, trace, work, data, queries, deadline):
    out = work / "result.json"
    argv = [f"workload={workload}", f"seconds={seconds}", f"trace={trace}",
            f"data={data}", f"work={work}", f"out={out}", f"cores={CORES}",
            f"min_ops={WORKLOADS[workload]}", f"queries={','.join(queries)}"]
    rss = run_jvm("perfbench.Harness", argv, work, deadline)
    result = json.loads(out.read_text())
    if not result.get("ok"):
        raise BenchError(f"harness failed: {result.get('error')}")
    return result, rss


def summarize(workload, result, truth, data):
    """(attempted, failed, {traced: (unit times, op times)}) of one run.
    A unit is a pipeline run (etl) or a pass over the queries; an
    operation is a pipeline run or one query."""
    times = {False: ([], []), True: ([], [])}
    if workload == "etl_fresh_load":
        problems = check_etl(result, truth)
        for r in result["runs"]:
            if r["phase"] in ("timed", "traced"):
                for t in times[r["phase"] == "traced"]:
                    t.append(r["seconds"])
        attempted = len(problems)
        failed = sum(1 for p in problems if p)
        for r, p in zip(result["runs"], problems):
            if p:
                log(f"perfbench: {r['phase']} run check failed:", "; ".join(p))
    else:
        problems = check_queries(result, data)
        for name, p in problems.items():
            log(f"perfbench: check failed: {name}: {p}")
        passes = {}
        for o in result["ops"]:
            key = (o["traced"], o["pass"])
            passes[key] = passes.get(key, 0.0) + o["seconds"]
            times[o["traced"]][1].append(o["seconds"])
        for (traced, _), secs in passes.items():
            times[traced][0].append(secs)
        attempted = len(result["ops"])
        failed = sum(1 for o in result["ops"] if not o["ok"] or o["query"] in problems)
        for o in result["ops"]:
            if not o["ok"]:
                log(f"perfbench: {o['query']} failed: {o.get('error')}")
    return attempted, failed, times


def per_layer(layers, traced_units, overhead_s):
    """Per-layer values: time and counts per unit (run or pass), ratios as
    measured, the one-time figures once."""
    once = {"ingest.read_amplification", "exec.cpu_util",
            "load.upsert_rows_per_s", "load.update_s", "load.update_rows_per_s",
            "load.multiwriter_failures", "setup.first_build_s"}
    values = {}
    for name in PER_LAYER:
        v = float(layers.get(name, 0.0))
        values[name] = v if name in once else v / max(1, len(traced_units))
    values["trace.overhead_s"] = overhead_s
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    t0 = time.time()  # set-up starts after the one-time build
    deadline = t0 + DEADLINE_S
    WORK.mkdir(exist_ok=True)
    work = WORK / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    try:
        queries, truth = [], {}
        if a.workload == "etl_fresh_load":
            data = work / "data"
            truth = generate(a.seed, a.trace, data)
        else:
            if not TPCH_DATA.is_dir():
                raise BenchError(f"query tables not found under {TPCH_DATA}")
            data = TPCH_DATA
            queries = list(TPCH_QUERIES)
            random.Random(a.seed).shuffle(queries)
        result, rss = harness(a.workload, a.seconds, a.trace, work, data,
                              queries, deadline)
        attempted, failed, times = summarize(a.workload, result, truth, data)
        units, ops = times[False]
        e2e = {"setup_s": result["first_op_ms"] / 1e3 - t0,
               "run_s_p50": statistics.median(units),
               "op_s_p50": statistics.median(ops),
               "peak_rss_mb": rss}
        log(f"perfbench: {a.workload} seed={a.seed}: {len(units)} units, "
            f"{len(ops)} ops, failed {failed}/{attempted}, " +
            ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()) +
            " units=[" + ", ".join(f"{u:.3f}" for u in units) + "]")
        if a.workload == "etl_fresh_load":
            log(f"perfbench: rows_per_s={SALES_ROWS / e2e['run_s_p50']:.0f}")
        if a.trace:
            layers = result["layers"]
            if layers.get("load.multiwriter_error"):
                log("perfbench: load.multiwriter_failures: "
                    + layers["load.multiwriter_error"])
            traced_units = times[True][0]
            values = per_layer(layers, traced_units,
                               statistics.median(traced_units) - e2e["run_s_p50"])
            log("perfbench: per-layer " + ", ".join(
                f"{k}={v:.4g}" for k, v in values.items()))
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(f"perfbench: {e}")
        sys.exit(2)
