#!/usr/bin/env python3
"""graft benchmark: workloads measured end to end and layer by layer.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft source checkout. The first run compiles the
benchmark together with the engine sources (sbt, offline); later runs reuse
the build while the sources are unchanged. A timed run (--trace 0) starts
one JVM, with its own local[nproc] Spark session, per workload. A traced run
(--trace 1) runs every workload's layer legs in one JVM on one session, so
that it measures every layer, whichever workload is named: each per_layer
metric comes from the workload whose legs run its layer (OWNER). All
temporary state lives in one run directory that is deleted on exit,
failures included.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). A full result file with attribution fields
(and, when traced, a span file) is kept under <build dir>/results/.
The process exits non-zero when any correctness gate fails or a declared
metric was not measured.

--mutate corrupts each workload's result before its gate (self-check: the
gate must then fail).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
SUITE_DATA = os.path.join(HERE, "data", "suite")
WORKLOADS = ["extract_commit", "curate_suite"]
# the workload whose traced legs measure each layer. trace.* is measured on
# extract_commit's warm jobs, the one repeatable unit whose traced and
# untraced walls can be compared within a run.
OWNER = {"io": "extract_commit", "pipeline": "extract_commit", "kernel": "extract_commit",
         "stream": "extract_commit", "trace": "extract_commit", "ops": "curate_suite"}
JVM_BUDGET_S = 170  # the whole run must end within 180 s
HEAP = "2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """sha256 over every file the benchmark build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir, digest):
    """Compiles with sbt unless the last build is of these exact sources."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building (sbt compile) ...")
    os.makedirs(build_dir, exist_ok=True)
    log_path = os.path.join(build_dir, "build.log")
    t0 = time.time()
    with open(log_path, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                              "compile", "Compile/copyResources"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             timeout=850)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (sbt exit {rc}); log: {log_path}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return classes


def cpu_times():
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), f[7] if len(f) > 7 else 0
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def bytes_under(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def jvm_command(classes, args, workload, run_dir, out_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME is not set")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-XX:ParallelGCThreads={os.cpu_count()}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", f"-Dderby.system.home={run_dir}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(spark_home, 'jars', '*')}", "graftbench.Main",
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--run-dir", run_dir, "--out", out_path, "--data", SUITE_DATA]
    if args.mutate:
        cmd += ["--mutate", "1"]
    return cmd


def run_jvm(cmd, log_path, budget):
    """Runs the benchmark JVM in its own process group; kills the group on
    timeout or interruption and waits for it."""
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            log(f"benchmark JVM exceeded {budget:.0f} s; killed")
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def canon_rows(cols, rows, drop_one=False):
    """oracle_check-style canonical form: columns by name, values
    normalized, rows sorted. Returns (row count, sha256)."""
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, bool):
            return str(int(v))
        return "<null>" if v is None else str(v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    if drop_one and canon:
        canon = canon[1:]
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for row in canon:
        h.update(repr(row).encode())
    return len(canon), h.hexdigest()


def oracle_results(oracle, con, cache_path, run_dir):
    """Canonical (rows, hash) of every oracle query. The suite tables and the
    expected-docs table are fixed files, so results are cached in the build
    dir, keyed by the SQL and the content of those files."""
    h = hashlib.sha256()
    for p in sorted(os.listdir(SUITE_DATA)) + ["expected_docs.csv"]:
        with open(os.path.join(SUITE_DATA, p) if p.endswith(".parquet")
                  else os.path.join(ENGINE_SRC, "resources", "graft", p), "rb") as fh:
            h.update(fh.read())
    base = h.hexdigest()
    try:
        with open(cache_path) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    out = {}
    for q, sql in oracle.items():
        key = hashlib.sha256((base + sql.replace(run_dir, "<run>")).encode()).hexdigest()
        if key not in cache:
            o = con.execute(sql)
            cache[key] = list(canon_rows([d[0] for d in o.description], o.fetchall()))
        out[q] = tuple(cache[key])
    with open(cache_path, "w") as fh:
        json.dump(cache, fh)
    return out


def curate_gate(result, cache_path, run_dir):
    """Each suite query's Spark rows against SparkEntry.oracleSql run by
    DuckDB on the same parquet: equal row count and equal content hash."""
    import duckdb
    g = result["details"]["oracle_gate"]
    tables, outputs = g["tables"], g["outputs"]
    with open(os.path.join(outputs, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for name in sorted(os.listdir(tables)):
        t = name[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{name}/*.parquet')")
    try:
        wanted = oracle_results(oracle, con, cache_path, run_dir)
    except Exception as e:  # an oracle that cannot run fails the gate
        return {}, [f"oracle: {type(e).__name__}: {str(e)[:200]}"]
    checked, failures = {}, []
    for i, q in enumerate(g["queries"]):
        if not os.path.isdir(os.path.join(outputs, q)):
            continue  # the JVM already counted this query's failure
        s = con.execute(f"SELECT * FROM read_parquet('{os.path.join(outputs, q)}/*.parquet')")
        got = canon_rows([d[0] for d in s.description], s.fetchall(), drop_one=g["mutate"] and i == 0)
        want = wanted.get(q)
        checked[q] = {"rows": got[0], "hash": got[1][:16]}
        if want is None:
            if got[0] == 0:
                failures.append(f"{q}: empty result and no oracle")
            continue
        checked[q].update(oracle_rows=want[0], oracle_hash=want[1][:16])
        if got != want:
            failures.append(f"{q}: rows/hash {got[0]}/{got[1][:16]} != oracle {want[0]}/{want[1][:16]}")
    return checked, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mutate", action="store_true")
    args = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"graft engine sources not found under {ENGINE_SRC}: run from a graft checkout")
    if not os.path.isdir(SUITE_DATA):
        die(f"suite tables not found under {SUITE_DATA}")
    with open(spec_path) as fh:
        spec = json.load(fh)

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    digest = source_digest()
    t_build = time.time()
    classes = build(build_dir, digest)
    t_start += time.time() - t_build  # the 180 s limit excludes the build

    results_dir = os.path.join(build_dir, "results")
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    os.makedirs(results_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    requested = WORKLOADS if args.workload == "all" else [args.workload]
    # timed: a fresh JVM per workload; traced: one JVM runs every workload's legs
    jvm_runs = ["all"] if args.trace else requested

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpu0, load0 = cpu_times(), loadavg()
    jvms, out_paths = [], []
    try:
        for w in jvm_runs:
            jvm_dir = os.path.join(run_dir, w)
            os.makedirs(os.path.join(jvm_dir, "tmp"), exist_ok=True)
            out_path = os.path.join(results_dir, f"{base}.{w}.jvm.json")
            jvm_log = os.path.join(results_dir, f"{base}.{w}.log")
            rc = run_jvm(jvm_command(classes, args, w, jvm_dir, out_path), jvm_log,
                         JVM_BUDGET_S - (time.time() - t_start))
            if rc != 0 or not os.path.exists(out_path):
                with open(jvm_log) as fh:
                    sys.stderr.write("".join(fh.readlines()[-30:]))
                die(f"benchmark JVM failed (exit {rc}); log: {jvm_log}", 4)
            out_paths.append(out_path)
            with open(out_path) as fh:
                jvms.append(json.load(fh))
            for res in jvms[-1]["results"]:
                if res["workload"] == "curate_suite":
                    checked, failures = curate_gate(res, os.path.join(build_dir, "oracle-cache.json"), jvm_dir)
                    res["details"]["oracle_checked"] = checked
                    res["failed"] += len(failures)
                    res["failures"] += [f"gate {f}" for f in failures]
            shutil.rmtree(jvm_dir, ignore_errors=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    left_behind = bytes_under(run_dir) if os.path.exists(run_dir) else 0
    cpu1, load1 = cpu_times(), loadavg()
    d_total, d_steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    results = [res for j in jvms for res in j["results"]]
    by_workload = {res["workload"]: res for res in results}

    kind = "per_layer" if args.trace else "end_to_end"
    declared = [(m["name"], m["unit"]) for m in spec[kind]]
    all_declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics, extra, problems = {}, {}, []
    multi = len(requested) > 1
    for name, unit in declared:
        # a layer metric comes from the workload that runs its layer's legs
        for w in [OWNER[name.split(".")[0]]] if args.trace else requested:
            m = by_workload.get(w, {"metrics": {}})["metrics"].get(name)
            if m is None or m["value"] is None or not math.isfinite(m["value"]):
                problems.append(f"{w}: metric {name} not measured")
                continue
            if m["unit"] != unit:
                problems.append(f"{w}: metric {name} in {m['unit']}, declared {unit}")
            metrics[f"{w}/{name}" if multi and not args.trace else name] = {"value": m["value"], "unit": unit}
    for res in results:
        w, got = res["workload"], res["metrics"]
        undeclared = set(got) - all_declared
        if any("." in n for n in undeclared):
            problems.append(f"{w}: undeclared layer metrics {sorted(n for n in undeclared if '.' in n)}")
        if not args.trace and w in requested:  # measured and printed, not declared (see README)
            extra.update({f"{w}/{n}" if multi else n: got[n] for n in sorted(undeclared)})
        for f in res["failures"]:
            log(f"{w}: {f}")
    for p in problems:
        log(p)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    correct = failed == 0 and not problems

    artifact = {
        "command": ["python3", "perfbench/run.py"] + sys.argv[1:],
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "mutate": args.mutate,
        "git_commit": git_commit(), "source_sha256": digest,
        "nproc": os.cpu_count(), "heap": HEAP, "jvm_flags": jvms[0]["jvm_flags"],
        "spark_version": jvms[0]["spark_version"], "session_start_s": [j["session_start_s"] for j in jvms],
        "loadavg_start": load0, "loadavg_end": load1,
        "host.steal_ratio": (d_steal / d_total) if d_total > 0 else 0.0,
        "wall_s": time.time() - t_start,
        "temp_bytes_left": left_behind,
        "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else None,
        "problems": problems,
        "results": results,
        "span_file": out_paths[0] + ".spans.jsonl" if args.trace else None,
    }
    with open(os.path.join(results_dir, base + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    for p in out_paths:
        os.remove(p)

    for name, m in metrics.items():
        print(f"{name:<44} {m['value']:>16.6g} {m['unit']}")
    for name, m in extra.items():
        print(f"{name:<44} {m['value'] if m['value'] is not None else float('nan'):>16.6g} {m['unit']} (not declared)")
    print(f"{'error_rate':<44} {artifact['error_rate']:>16.6g} failed/attempted")
    print(f"{'host.steal_ratio':<44} {artifact['host.steal_ratio']:>16.6g} ratio")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
