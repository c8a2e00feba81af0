#!/usr/bin/env python3
"""The repository benchmark.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload mapreduce_sql --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (perfbench/build.sbt,
output in .bench_build/), generates the seeded inputs, runs the JVM
harness (perfbench/src/main/scala/perfbench/Harness.scala), checks
every query's output against its DuckDB oracle and prints the metrics.
The last line of stdout is one JSON object; with --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer ones. A traced run also
writes one JSON record per query to .bench_build/trace/.
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

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
WORKLOADS = ["mapreduce_sql", "text_curation", "index_lifecycle"]
HEAP = "3g"
JVM_TIMEOUT_S = 160
DUCKDB_MEMORY = "2GB"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(code, msg):
    log(f"perfbench: {msg}")
    sys.exit(code)


def files_under(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
        for d, _, names in sorted(os.walk(p)):
            for n in sorted(names):
                yield os.path.join(d, n)


def sha1_files(paths):
    h = hashlib.sha1()
    for f in files_under(paths):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    candidates = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in candidates:
        if os.path.isdir(d) and any(n.startswith("spark-core_") for n in os.listdir(d)):
            return d
    fail(2, "no Spark installation found (set SPARK_HOME)")


def build():
    """Compile the program and the harness unless this source tree was
    already built; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(2, "program sources (src/main/scala) not found next to perfbench/")
    stamp = sha1_files(SOURCES)
    stamp_file, cp_file = os.path.join(OUT, "stamp"), os.path.join(OUT, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building program and harness (sbt compile)")
    with open(os.path.join(OUT, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.forcestart=false",
                             "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        log(open(os.path.join(OUT, "build.log")).read()[-3000:])
        fail(3, f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), stamp


def run_jvm(classpath, args, work):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        log(open(f"{work}/jvm.log", errors="replace").read()[-4000:])
        fail(4, f"harness JVM failed ({rc})")
    with open(f"{work}/result.json") as f:
        return json.load(f)


# ---------------------------------------------------------------- oracle

def norm_cell(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if v is None:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def norm_rows(df):
    df = df[sorted(df.columns)]
    return [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]


def digest(cols, rows):
    h = hashlib.sha1(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def oracle_check(result, data_dir, work, fingerprint):
    """Compare each query's dumped output with its DuckDB oracle, column
    order ignored and row order kept. Expected digests are cached per
    input fingerprint and oracle text."""
    cache_dir = os.path.join(OUT, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    report = {}
    for q in sorted(result["modules"]):
        cold = next(e for e in result["execs"] if e["pass"] == 0 and e["query"] == q)
        if cold["error"]:
            report[q] = {"status": "error", "detail": cold["error"]}
            continue
        got = pd.read_parquet(f"{work}/out/{q}")
        cols, rows = sorted(got.columns), norm_rows(got)
        entry = {"rows": len(rows), "vacuous": len(rows) == 0}
        sql = result["oracle_sql"].get(q)
        if sql is None:
            report[q] = dict(entry, status="no-oracle")
            continue
        key = hashlib.sha1(f"{fingerprint}\n{sql}".encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{q}-{key}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
                con.execute("SET threads=2")
                con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
                for t in gen.SIZES.keys() | {"region", "nation"}:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            try:
                exp = con.execute(sql).fetchdf()
                want = {"cols": sorted(exp.columns), "rows": len(exp),
                        "digest": digest(sorted(exp.columns), norm_rows(exp))}
            except Exception as e:  # an oracle that cannot run is a failed check
                report[q] = dict(entry, status="oracle-error", detail=str(e)[:300])
                continue
            with open(cached, "w") as f:
                json.dump(want, f)
        if want["cols"] != cols:
            status = "schema-mismatch"
        elif want["rows"] != len(rows):
            status = "rowcount-mismatch"
        elif want["digest"] != digest(cols, rows):
            status = "value-mismatch"
        else:
            status = "match"
        report[q] = dict(entry, status=status, expected_rows=want["rows"])
    return report


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


MEASURED = 2  # pass 0 is cold, pass 1 an untimed warm-up


def by_pass(execs):
    out = {}
    for e in execs:
        out.setdefault(e["pass"], []).append(e)
    return out


def end_to_end(result, failed, attempted):
    passes = by_pass(result["execs"])
    warm = [p for p in passes if p >= MEASURED]
    warm_walls = [e["wall"] for p in warm for e in passes[p]]
    return {
        "setup_s": (median(result["setup_s"]), "s"),
        "ready_s": (result["jvm_to_ready_s"], "s"),
        "first_pass_s": (sum(e["wall"] for e in passes[0]), "s"),
        "pass_s": (median([sum(e["wall"] for e in passes[p]) for p in warm]), "s"),
        "query_p50_s": (median(warm_walls), "s"),
        "query_p90_s": (percentile(warm_walls, 90), "s"),
        "peak_heap_mb": (max(result["heap_mb"]), "MB"),
        "fail_ratio": (failed / attempted, "ratio"),
    }, len(warm_walls), len(warm)


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans, kids):
    """Self time of each span: its duration minus the part of it that
    its children cover."""
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, reach = 0.0, s["start"]
        for c in sorted((c for c in kids.get(s["id"], []) if c["end"] is not None),
                        key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
    return out


def subtree_self(by_id, kids, selfs, root_id):
    """Self ms per span name over the subtree rooted at root_id."""
    total, stack = {}, [root_id]
    while stack:
        s = by_id[stack.pop()]
        name = "query" if s["name"].startswith("query:") else s["name"]
        total[name] = total.get(name, 0.0) + selfs.get(s["id"], 0.0)
        stack.extend(c["id"] for c in kids.get(s["id"], []))
    return total


def per_layer(result, records_path):
    passes = by_pass(result["execs"])
    cores = result["cores"]
    traced_warm = [p for p in passes if p >= MEASURED and passes[p][0]["traced"]]
    plain_warm = [p for p in passes if p >= MEASURED and not passes[p][0]["traced"]]
    probe = passes.get(-1, [])

    def pass_sum(p, f):
        return sum(f(e) for e in passes[p])

    def warm(f):
        return median([pass_sum(p, f) for p in traced_warm])

    c = lambda k: (lambda e: e["counters"].get(k, 0))
    m = {
        "SparkEntry.build_s": (warm(lambda e: e["build"]), "s"),
        "SparkEntry.exec_s": (warm(lambda e: e["exec"]), "s"),
        "plan.jobs": (warm(c("jobs")), "count"),
        "plan.first_pass_jobs": (pass_sum(0, c("jobs")), "count"),
        "plan.stages": (warm(c("stages")), "count"),
        "plan.tasks": (warm(c("tasks")), "count"),
        "plan.exchanges": (warm(c("exchanges")), "count"),
        "plan.driver_gap_s": (warm(c("driver_gap_ms")) / 1e3, "s"),
        "plan.core_util": (median([pass_sum(p, c("task_ms")) / 1e3 /
                                   (pass_sum(p, lambda e: e["wall"]) * cores)
                                   for p in traced_warm]), "ratio"),
        "plan.task_s": (warm(c("task_ms")) / 1e3, "s"),
        "plan.gc_s": (warm(c("gc_ms")) / 1e3, "s"),
        "plan.shuffle_write_mb": (warm(c("shuffle_write_bytes")) / 1e6, "MB"),
        "plan.shuffle_read_mb": (warm(c("shuffle_read_bytes")) / 1e6, "MB"),
        "plan.spill_mb": (warm(c("spill_bytes")) / 1e6, "MB"),
        "plan.rdd_block_mb": (warm(c("rdd_block_bytes")) / 1e6, "MB"),
        "tables.scan_mb": (warm(c("scan_bytes")) / 1e6, "MB"),
        "sources.scratch_write_mb": (pass_sum(0, lambda e: e["writes"].get("bytes", 0)) / 1e6, "MB"),
        "sources.scratch_files": (pass_sum(0, lambda e: e["writes"].get("files", 0)), "count"),
        "sources.warm_write_mb": (warm(lambda e: e["writes"].get("bytes", 0)) / 1e6, "MB"),
        "sources.warm_files": (warm(lambda e: e["writes"].get("files", 0)), "count"),
    }
    streams = [e for p in traced_warm for e in passes[p]] + probe
    n_traced = max(1, len(traced_warm))
    probe_sum = lambda k: sum(e["counters"].get(k, 0) for e in probe)
    warm_stream = lambda k: (sum(e["counters"].get(k, 0) for p in traced_warm for e in passes[p])
                             / n_traced + probe_sum(k))
    m["streaming.batches"] = (warm_stream("stream_batches"), "count")
    m["streaming.rows_in"] = (warm_stream("stream_rows_in"), "count")
    m["streaming.state_rows"] = (warm_stream("stream_state_rows"), "count")
    m["streaming.batch_p50_ms"] = (median([b for e in streams
                                           for b in e["counters"].get("stream_batch_ms", [])]), "ms")
    for k, v in sorted(result["probes"].items()):
        unit = "ns" if k.endswith("_ns") else "MB" if k.endswith("_mb") else "s"
        m[k] = (v, unit)
    # Each traced pass against the untraced pass right after it, so
    # both sides are equally warm.
    wall = lambda p: pass_sum(p, lambda e: e["wall"])
    m["trace.overhead_ratio"] = (median([wall(p) / wall(p + 1) - 1.0 for p in traced_warm
                                         if p + 1 in plain_warm]), "ratio")

    families = {}
    for p in traced_warm:
        for e in passes[p]:
            mod = result["modules"][e["query"]]
            families[mod] = families.get(mod, 0.0) + e["wall"] / len(traced_warm)
    operators = {f"operators.{k}_s": (v, "s") for k, v in sorted(families.items())}

    # One record per query: cold and warm counters, and self time per span name.
    spans = result["spans"]
    kids = children(spans)
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans, kids)
    os.makedirs(os.path.dirname(records_path), exist_ok=True)
    with open(records_path, "w") as f:
        for q in sorted(set(e["query"] for e in result["execs"])):
            ex = [e for e in result["execs"] if e["query"] == q and e["traced"]]
            warm_ex = [e for e in ex if e["pass"] >= MEASURED or e["pass"] < 0]  # < 0: probe
            selfs_q = {}
            for e in warm_ex:
                for k, v in subtree_self(by_id, kids, selfs, e["span"]).items():
                    selfs_q[k] = selfs_q.get(k, 0.0) + v / len(warm_ex)
            cold = next((e for e in ex if e["pass"] == 0), None)
            f.write(json.dumps({
                "query": q, "module": result["modules"].get(q, "EventStreams"),
                "cold": cold, "warm": warm_ex,
                "self_ms": {k: round(v, 3) for k, v in selfs_q.items()}}) + "\n")
        f.write(json.dumps({"summary": {k: v[0] for k, v in {**m, **operators}.items()}}) + "\n")
    return m, operators


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # Turn a termination signal into an exit, so the cleanup below runs
    # and the JVM child is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath, stamp = build()
    work = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        inputs = gen.generate(a.seed, data)
        fingerprint = sha1_files([data])
        t1 = time.time()
        result = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work], work)
        t2 = time.time()
        oracle = oracle_check(result, data, work, fingerprint)
        log(f"perfbench: inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, oracle {time.time() - t2:.1f} s")
        records = os.path.join(OUT, "trace", f"{a.workload}-s{a.seed}.jsonl")
        report(a, result, oracle, inputs, stamp, records)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, result, oracle, inputs, stamp, records_path):
    bad = {q for q, r in oracle.items() if r["status"] not in ("match", "no-oracle")}
    execs = result["execs"]
    attempted = len(execs)
    failed = sum(1 for e in execs if e["error"] or e["query"] in bad)
    e2e, n_samples, n_warm = end_to_end(result, failed, attempted)
    print(f"workload {a.workload} seed {a.seed} cores {result['cores']} "
          f"warm_passes {n_warm} warm_query_samples {n_samples}")
    print("inputs " + json.dumps(inputs))
    print("excluded " + json.dumps(result["excluded"]))
    for q, r in sorted(oracle.items()):
        flag = " VACUOUS" if r.get("vacuous") else ""
        print(f"oracle {q} {r['status']} rows={r.get('rows')}{flag}"
              + (f" {r['detail']}" if r.get("detail") else ""))
    passes = by_pass(execs)
    for q in sorted(result["modules"]):
        cold = [e["wall"] for e in passes[0] if e["query"] == q]
        warm = [e["wall"] for p in passes if p >= MEASURED for e in passes[p] if e["query"] == q]
        print(f"query {q} cold_s {sum(cold):.3f} warm_median_s {median(warm):.3f} warm_n {len(warm)}")
    for e in execs:
        if e["error"]:
            print(f"error {e['query']} pass {e['pass']}: {e['error']}")
    print("set-ups " + " ".join(f"{x:.3f}" for x in result["setup_s"])
          + f" s; warm passes measured {result['measured_s']:.3f} s; JIT waits "
          + " ".join(f"{x:.2f}" for x in result["jit_wait_s"]) + " s")
    print("passes " + " ".join(f"{p}:{sum(e['wall'] for e in es):.3f}"
                               for p, es in sorted(passes.items())))
    print("retained_heap_mb " + " ".join(f"{x:.1f}" for x in result["heap_mb"]))
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.6g} {unit}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    counts = {q: r.get("rows") for q, r in oracle.items()}
    if a.trace:
        layer, operators = per_layer(result, records_path)
        for k, (v, unit) in {**layer, **operators}.items():
            print(f"{k} {v:.6g} {unit}")
        print(f"trace records {os.path.relpath(records_path, ROOT)}")
        for q in result["modules"]:
            traced = [e for e in execs if e["traced"] and e["query"] == q]
            counts[f"cold_jobs:{q}"] = sum(e["counters"]["jobs"] for e in traced if e["pass"] == 0)
            counts[f"warm_jobs:{q}"] = sorted({e["counters"]["jobs"] for e in traced if e["pass"] >= MEASURED})
        counts["sources.scratch_files"] = layer["sources.scratch_files"][0]
        metrics = {m["name"]: layer[m["name"]] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    repeat_check(a, stamp, counts)

    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def repeat_check(a, stamp, counts):
    """Counts that must repeat exactly for the same seed and build: rows
    per query and, when traced, jobs per query execution and the files
    the cold pass writes. Compared with the previous run of this seed."""
    path = os.path.join(OUT, "repeat", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    prev = None
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    if prev and prev["stamp"] == stamp:
        diff = sorted(k for k in counts.keys() | prev["counts"].keys()
                      if counts.get(k) != prev["counts"].get(k))
        print(f"repeat_check {'exact' if not diff else 'differs'} "
              f"({len(counts)} counts)" + (f": {', '.join(diff[:20])}" if diff else ""))
    else:
        print("repeat_check none (first run of this seed and build)")
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "counts": counts}, f)


if __name__ == "__main__":
    main()
