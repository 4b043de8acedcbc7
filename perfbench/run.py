#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload {catalog,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds graft and the harness
with sbt (offline); later runs reuse the build while no source changed.
Inputs are generated from the seed, outputs are checked (DuckDB oracle
twins, row counts, the serve state rebuild), and the last line of
standard output is the JSON result. Everything it writes goes under
`.bench_build/` (or $CARGO_TARGET_DIR) in the working directory; see
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
T0 = time.monotonic()
DEADLINE_S = 170.0          # the whole command, or what follows a build
BUILD_DEADLINE_S = 600.0    # the build itself (a checkout's first run)

# workload -> (tables, base sf, embedding factor, document factor)
INPUTS = {
    "catalog": ("all", 0.01, 1, 1),
    "serve": ("embeddings", 0.1, 2, 1),
}

ARCHIVE = "graft-classes.jsa"
E2E = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
       ("ops_per_s", "1/s"), ("live_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input to the build: graft's and the harness's."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"),
            os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile graft and the harness into jars and return the runtime
    classpath. A class data archive of the classes a short training pass
    loads is built alongside: it halves JVM and Spark start-up."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    for f in (cp_file, stamp_file, os.path.join(out, ARCHIVE)):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log("building graft and the harness (sbt) ...")
    t = time.monotonic()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspathAsJars"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    log(f"built in {time.monotonic() - t:.0f} s; training the class archive ...")
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = inputs(out, 0, INPUTS["catalog"])
    run_jvm(cp, "train", 0, 1, 0, work, data, time.monotonic() + 600,
            [f"-XX:ArchiveClassesAtExit={os.path.join(out, ARCHIVE)}"])
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build and training took {time.monotonic() - t:.0f} s")
    return cp


def inputs(out, seed, spec):
    """Generate (or reuse) the seeded inputs for one (seed, factors)."""
    tables, sf, ef, df = spec
    cache = os.path.join(out, "inputs")
    key = f"s{seed}-sf{sf}-e{ef}-d{df}-{tables.replace(',', '+')}"
    d = os.path.join(cache, key)
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), d, str(seed),
                        str(sf), str(ef), str(df), tables], check=True)
        open(os.path.join(d, "_DONE"), "w").close()
    # keep the cache small: the eight most recently used entries
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e)
                     for e in os.listdir(cache))
    os.utime(d)
    for _, e in entries[:-8]:
        if e != key:
            shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    return d


def run_jvm(cp, workload, seed, seconds, trace, work, data, deadline, extra=()):
    archive = os.path.join(os.path.dirname(work), ARCHIVE)
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off", *extra,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
              "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs",
              "java.base/sun.security.action", "java.base/sun.util.calendar"]:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if not extra and os.path.exists(archive):
        java.append(f"-XX:SharedArchiveFile={archive}")
    cmd = java + ["-cp", cp, "graftbench.Main", "--workload", workload,
                  "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace), "--data", data, "--work", work]
    # Spark's scratch space stays inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, env=env,
                         start_new_session=True)
    try:
        outs, _ = p.communicate(timeout=max(5.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("harness did not finish in time", 4)
    with open(os.path.join(work, "harness.log"), "w") as f:
        f.write(outs)
    return p.returncode, outs


def oracle_check(check_dir, data_dir):
    """Compare each written output with its DuckDB oracle twin, by
    tools/compare.py's rule: columns sorted by name, rows sorted, values
    equal exactly. Returns {op: reason} for every mismatch."""
    import duckdb
    sql_file = os.path.join(check_dir, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return {"oracle_sql": "missing"}
    with open(sql_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        out = os.path.join(check_dir, name)
        try:
            got = con.execute(f"SELECT * FROM '{out}/*.parquet'").df()
            exp = con.execute(sql).df()
        except Exception as e:  # a missing output or an oracle error
            bad[name] = f"oracle compare: {e}"[:300]
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            bad[name] = f"columns {list(got.columns)} vs {list(exp.columns)}"
            continue
        if len(got) != len(exp):
            bad[name] = f"rows {len(got)} vs {len(exp)}"
            continue
        g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        for c in g.columns:
            eq = (g[c] == e[c]) | (g[c].isna() & e[c].isna())
            if not eq.all():
                i = (~eq).idxmax()
                bad[name] = f"column {c} row {i}: {g[c][i]!r} vs {e[c][i]!r}"[:300]
                break
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("no graft sources here: run from the repository root")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(out, "perfbench")
    os.makedirs(out, exist_ok=True)
    # a run that had to build gets a fresh budget for the rest
    t_build = time.monotonic()
    cp = build(root, out)
    deadline = (T0 if time.monotonic() - t_build < 5 else time.monotonic()) + DEADLINE_S

    t_gen = time.monotonic()
    data = inputs(out, args.seed, INPUTS[args.workload])
    log(f"inputs ready in {time.monotonic() - t_gen:.1f} s")

    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t_jvm = time.monotonic()
    code, log_text = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                             work, data, deadline)
    log(f"harness ran {time.monotonic() - t_jvm:.1f} s")
    res_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_file):
        sys.stderr.write(log_text[-6000:])
        die(f"harness exited with {code}", 5)
    with open(res_file) as f:
        res = json.load(f)

    failures = dict(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "catalog":
        check_dir = os.path.join(work, "check")
        t_chk = time.monotonic()
        bad = oracle_check(check_dir, data)
        log(f"oracle compare {time.monotonic() - t_chk:.1f} s")
        with open(os.path.join(check_dir, "oracle_sql.json")) as f:
            attempted += len(json.load(f))
        failed += len(bad)
        failures.update({f"oracle {k}": v for k, v in bad.items()})

    e2e = dict(res["e2e"], setup_s=res["setup_s"], live_heap_mb=res["live_heap_mb"])
    # peak RSS mostly shows the fixed -Xms heap, so it is printed, not gated
    detail = res["detail"] + [["peak_rss_mb", res["peak_rss_mb"], "MB"]]
    for name, value, unit in detail:
        print(f"{args.workload}  {name:<28} {value:>14.4f} {unit}")
    for name, unit in E2E:
        print(f"{args.workload}  {name:<28} {e2e[name]:>14.4f} {unit}")
    if args.trace:
        layers = per_layer(res)
        for name, value in sorted(res.get("overhead", {}).items()):
            print(f"{args.workload}  tracing_overhead.{name:<11} {value:>+14.4f} share")
        for name, value in sorted(layers.items()):
            print(f"{args.workload}  {name:<36} {value:>16.4f}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()
                   if k in LAYER_UNITS}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E}
    for op, why in failures.items():
        print(f"{args.workload}  FAILED {op}: {why}")

    keep = os.path.join(out, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ["result.json", "samples.json", "trace.json", "harness.log"]:
        if os.path.exists(os.path.join(work, f)):
            shutil.copy(os.path.join(work, f), keep)
    shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


# units of the per-layer metrics reported with --trace 1
LAYER_UNITS = {
    "session.start_ms": "ms", "sources.scan_rows": "rows/op",
    "sources.scan_bytes": "bytes/op", "sources.store_build_ms": "ms",
    "sources.store_bytes": "bytes",
    **{f"kernel.{k}_rows_per_s": "rows/s" for k in
       ["l2sq", "dot", "topk", "pqgrid", "argmin", "minhash", "shingles",
        "simhash", "gram"]},
    "queries.build_ms": "ms", "queries.sink_ms": "ms", "queries.build_jobs": "jobs/op",
    "plan.analysis_ms": "ms/op", "plan.optimizer_ms": "ms/op",
    "plan.planning_ms": "ms/op", "plan.executions": "count/op",
    "plan.exchanges": "count/op", "plan.broadcast_exchanges": "count/op",
    "plan.sort_merge_joins": "count/op", "plan.nested_loop_joins": "count/op",
    "codegen.compile_ms": "ms", "codegen.compiles": "count",
    "exec.jobs": "count/op", "exec.stages": "count/op", "exec.tasks": "count/op",
    "exec.in_job_ms": "ms/op", "exec.driver_gap_ms": "ms/op",
    "exec.sched_delay_ms": "ms/op", "exec.task_run_ms": "ms/op",
    "exec.task_cpu_ms": "ms/op", "exec.core_busy_share": "ratio",
    "shuffle.write_bytes": "bytes/op", "shuffle.read_bytes": "bytes/op",
    "jvm.driver_gc_ms": "ms", "jvm.heap_after_gc_mb": "MB",
}


def per_layer(res):
    """Every per-layer metric of a traced run, by its benchmark name."""
    layers = dict(res["layers"])
    layers.update(res["kernels"])
    layers["session.start_ms"] = res["session_start_ms"]
    layers["sources.store_build_ms"] = statistics.median(res["setup_runs_s"]) * 1e3
    layers["sources.store_bytes"] = res["store_bytes"]
    layers["codegen.compiles"] = res["codegen_compiles_total"]
    layers["codegen.compile_ms"] = res["codegen_compile_ms_total"]
    layers["jvm.driver_gc_ms"] = res["jvm_gc_ms_total"]
    layers["jvm.heap_after_gc_mb"] = res["heap_after_gc_mb"]
    return layers


if __name__ == "__main__":
    main()
