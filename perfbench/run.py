#!/usr/bin/env python3
"""Benchmark runner: builds the repository and the benchmark, runs one
workload in a fresh JVM, checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. See perfbench/README.md for the workloads
and metrics. The last stdout line is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}};
the exit code is 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "3g"
CPUS = 4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("plant", "gates_plant")
PLANT_OPS = ("aep", "tie", "elec", "wake", "yaw", "eya")
# per-pass listener counters behind the spark.* and storage.* metrics
COUNTERS = {"spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
            "spark.task_run_s": "task_run_s", "spark.shuffle_write_mb": "shuffle_write_mb",
            "spark.shuffle_read_mb": "shuffle_read_mb", "spark.input_mb": "input_mb",
            "spark.gc_s": "gc_s", "spark.spill_mb": "spill_mb",
            "storage.blocks_written": "blocks_written", "storage.mb_written": "mb_written"}


def declared_metrics():
    """(end_to_end, per_layer) as name -> unit maps, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated q-quantile (0..1) of xs."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_summary(xs):
    """Median, the highest whole percentile with >= 10 samples above it, n."""
    n = len(xs)
    out = {"median": median(xs), "n": n}
    if n >= 20:
        q = int(100 * (1 - 10 / n))
        out[f"p{q}"] = percentile(xs, q / 100)
    return out


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """sbt-compile the root project and the benchmark once per source digest;
    returns the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp = os.path.join(STATE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("digest") == digest and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                                stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    cp = [p for p in lines[-1].split(os.pathsep) if p]
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def jvm_options(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    opts = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts


def run_jvm(cp, args, work):
    out = os.path.join(work, "result.json")
    cmd = (["java"] + jvm_options(work) + ["-cp", os.pathsep.join(cp), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--data", DATA, "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            lines = fh.readlines()
        errors = [i for i, l in enumerate(lines) if "Exception" in l or "Error" in l]
        start = errors[0] if errors else max(0, len(lines) - 60)
        sys.stderr.write("".join(lines[start:start + 60]))
        return None
    with open(out) as fh:
        return json.load(fh)


def oracle_checks(work, passes):
    """Compare every pass's output of each gate with its DuckDB oracle, using
    the repository's oracle comparison (tools/check.py)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ beside tools/check.py
    from check import compare
    out_dir = os.path.join(work, "gate_out")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    for t in glob.glob(os.path.join(DATA, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    checks = []
    for g in sorted(sql):
        try:
            oracle = con.execute(sql[g]).fetchdf()
        except Exception as e:  # an oracle that cannot run fails every pass
            oracle, why = None, f"oracle: {type(e).__name__}: {e}"
        for p in passes:
            path = os.path.join(out_dir, f"p{p}", g)
            if oracle is None:
                errs = [why]
            elif not os.path.exists(os.path.join(path, "_SUCCESS")):
                errs = ["no output"]
            else:
                errs = compare(g, pd.read_parquet(path), oracle)
            checks.append({"name": f"oracle.{g}.p{p}", "ok": not errs,
                           "detail": "; ".join(errs)[:300]})
    con.close()
    return checks


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def layer_metrics(names, res, workload, digest, ops, passes):
    """Every per-layer metric; 0 where the workload does not run that layer."""
    m = dict.fromkeys(names, 0.0)

    def op_times(name):
        return [o["s"] for o in ops if o["name"] == name]

    if workload == "plant":
        m["plant.load_s"] = median(op_times("plant.load"))
        for op in PLANT_OPS:
            m[f"analysis.{op}_s"] = median(op_times(op))
        for k, vs in res["layers"].items():
            m[k] = median(vs)
    else:
        ts = [o["s"] for o in ops if o["kind"] == "gate"]
        m["gate_p50_s"] = percentile(ts, 0.5)
        m["gate_p80_s"] = percentile(ts, 0.8)
        for o in ops:
            m[f"gate.{o['name']}_s"] = median(op_times(o["name"]))
    for key, field in COUNTERS.items():
        m[key] = median([p["counters"][field] for p in passes])
    m["pass_s"] = median([p["s"] for p in passes])
    m["op_p50_s"] = median([o["s"] for o in ops if o["kind"] in ("analysis", "gate")])
    m["calibration_s"] = statistics.mean(res["calibration_s"])
    m["peak_heap_mb"] = res["peak_heap_mb"]
    m["spark.driver_only_s"] = median([p["driver_only_s"] for p in passes])
    m["spark.core_util"] = median([p["counters"]["task_run_s"] / (p["s"] * CPUS) for p in passes])
    untraced = untraced_pass_times(workload, digest)
    if untraced:
        m["trace.overhead_s"] = median([p["s"] for p in passes]) - median(untraced)
    return m


def untraced_pass_times(workload, digest):
    """pass_s of every untraced run of this workload on these sources recorded
    in this checkout: the tracing overhead is a traced run's pass_s minus
    their median."""
    out = []
    for f in glob.glob(os.path.join(STATE, "records", f"{workload}-*-trace0.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r["conditions"]["source_digest"] == digest:
            out.append(r["timings"]["pass_s"]["median"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"{ROOT} holds no repository sources to build (build.sbt, src/main/scala)")

    digest = source_digest()
    cp = build(digest)
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(cp, args, work)
        if res is None:
            die("benchmark JVM failed")
        checks = list(res["checks"])
        if args.workload == "gates_plant":
            checks += oracle_checks(work, [p["pass"] for p in res["passes"]])
        spans = os.path.join(work, "result.json.spans.json")
        record_dir = os.path.join(STATE, "records")
        os.makedirs(record_dir, exist_ok=True)
        tag = f"{args.workload}-{args.seed}-trace{args.trace}"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(record_dir, f"{tag}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # cross-run determinism: the same seed must reproduce the same results
    if res["digest"]:
        seen_path = os.path.join(STATE, "digests.json")
        seen = json.load(open(seen_path)) if os.path.exists(seen_path) else {}
        key = f"{args.workload}:{args.seed}:{digest}"
        prev = dict(kv.split(":", 1) for kv in seen.setdefault(key, res["digest"]).split(","))
        now = dict(kv.split(":", 1) for kv in res["digest"].split(","))
        differ = sorted(k for k in now if prev.get(k) != now[k])
        checks.append({"name": "results.identical_across_runs", "ok": not differ,
                       "detail": "results differ from the first run with this seed for: " +
                                 ", ".join(differ)})
        with open(seen_path, "w") as fh:
            json.dump(seen, fh)

    all_ops = res["ops"]
    ops = [o for o in all_ops if o["ok"]]
    passes = res["passes"]
    failed_ops = [o for o in all_ops if not o["ok"]]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(all_ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)

    pass_times = [p["s"] for p in passes]
    op_times = [o["s"] for o in ops if o["kind"] in ("analysis", "gate")]
    end_to_end, per_layer = declared_metrics()
    if args.trace:
        values = layer_metrics(per_layer, res, args.workload, digest, ops, passes)
        values["failed_frac"] = failed / attempted
        units = per_layer
    else:
        calib = statistics.mean(res["calibration_s"])
        values = {
            "setup_s": res["session_s"] + median(res["setup_reps_s"]),
            "pass_rel": median(pass_times) / calib,
        }
        units = end_to_end
    if set(values) != set(units):
        die(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace),
        "conditions": dict(res["conditions"], git_sha=git_sha(), source_digest=digest,
                           pinned_heap=HEAP, master=f"local[{CPUS}]"),
        "timings": {"pass_s": tail_summary(pass_times), "op_s": tail_summary(op_times),
                    "calibration_s": tail_summary(res["calibration_s"]),
                    # the reference taken after each operation, so that an
                    # operation that slows it shows up by name
                    "calibration_after_op_s": {
                        n: tail_summary([o["calibration_s"] for o in all_ops if o["name"] == n])
                        for n in sorted({o["name"] for o in all_ops})},
                    "per_op_s": {n: tail_summary([o["s"] for o in ops if o["name"] == n])
                                 for n in sorted({o["name"] for o in ops})},
                    "setup_reps_s": res["setup_reps_s"], "session_s": res["session_s"]},
        "spans": res["spans"],
        "op_counters": {o["name"]: dict(o["counters"], driver_only_s=o["driver_only_s"])
                        for o in ops if o.get("counters")},
        "failures": [f"{o['name']} (pass {o['pass']}): {o['error']}" for o in failed_ops] +
                    [f"{c['name']}: {c['detail']}" for c in failed_checks],
        "checks": checks,
        "metrics": values,
    }
    with open(os.path.join(record_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(passes)} passes, {len(checks)} checks, {failed} failures")
    print("conditions " + json.dumps(record["conditions"], sort_keys=True))
    for line in record["failures"]:
        print(f"FAILED {line}")
    for k, v in values.items():
        print(f"  {k:<34} {v:.6g} {units[k]}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
