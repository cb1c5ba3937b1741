#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed into
``.bench_scratch/`` (cleared first), starts one JVM that sets up Spark
several times and runs the workload's passes in a closed loop with one
client, then checks every output against DuckDB and prints the metrics:
end-to-end with ``--trace 0``, per-layer with ``--trace 1``. A readable
summary and the full run record (inputs, environment, spans) go to stderr
and ``.bench_scratch/run.json``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check   # noqa: E402
import gen     # noqa: E402
import reduce  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(ROOT, ".bench_scratch")
HARNESS = os.path.join(HERE, "harness")
CPUS = os.cpu_count() or 4
HEAP = "3g"
SETUPS = 3
RUN_LIMIT_S = 170        # a run must end within 180 s once built
CHECK_RESERVE_S = 20     # after the JVM: the output check and the report
DUMP_RESERVE_S = 30      # the untimed dump, fixture shapes and the record
ETL_TRADES = 30_000      # unique trades per generated ETL input

# Each workload: the registered queries it runs (none for the ETL), the
# tables they read, and whether each pass gets a fresh session.
WORKLOADS = {
    "etl_trades": {"queries": [], "tables": []},
    "graph_dedup": {"queries": ["q_docs_clusters_stars"], "tables": ["documents"]},
    # a fresh session per pass misses the per-session table memo, so every
    # pass pays the table lifecycle, not only the first
    "tables_lifecycle": {"queries": ["q_sql_update"], "tables": ["orders"], "fresh_session": True},
    "sql_short": {"queries": ["q_sql_forecast", "q_join_using", "q_set_union", "q_events_hourly"],
                  "tables": ["lineitem", "nation", "region", "customer", "orders", "events"]},
}
# Passes per 10 s of --seconds. The count is fixed, not timed, so that every
# commit runs the same number of passes; the first pass is the cold one.
PASSES_PER_10S = 3
END_TO_END_UNITS = {"setup_s": "s", "first_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
                    "rows_per_s": "1/s", "retained_heap_mb": "MiB", "storage_mb": "MiB"}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


# ---------------------------------------------------------------- run

def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def passes_for(seconds):
    """The pass count scaled to ``seconds``: at least a cold pass and two
    warm ones."""
    return max(3, round(PASSES_PER_10S * seconds / 10))


def run_jvm(cp, args, deadline, log_path):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={args['work']}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            return "timed out"
    return None if proc.returncode == 0 else f"exit code {proc.returncode}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp = build()
    # the JVM is killed at `deadline`; its operations' timeouts are cut from
    # what is left before `passes_until` (timed passes) and `dump_until`, so
    # an operation that hangs is reported as failed, not as a killed run
    deadline = time.time() + RUN_LIMIT_S - CHECK_RESERVE_S
    dump_until = deadline - 10
    passes_until = deadline - DUMP_RESERVE_S
    shutil.rmtree(SCRATCH, ignore_errors=True)
    dirs = {k: os.path.join(SCRATCH, k) for k in ("inputs", "work", "local", "dump")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(os.path.join(dirs["work"], "tmp"))

    w = WORKLOADS[a.workload]
    t0 = time.time()
    if a.workload == "etl_trades":
        inputs = gen.gen_trades(os.path.join(dirs["inputs"], "trades"), a.seed, ETL_TRADES)
        input_rows = inputs["n_trades"]
    else:
        inputs = gen.gen_tables(os.path.join(dirs["inputs"], "tables"), a.seed, w["tables"])
        input_rows = sum(inputs["rows"].values())
    gen_s = time.time() - t0
    input_bytes = _dir_bytes(dirs["inputs"])

    n_passes = passes_for(a.seconds)
    record_path = os.path.join(SCRATCH, "record.json")
    err = run_jvm(cp, {
        "workload": a.workload, "queries": ",".join(w["queries"]),
        "tables": os.path.join(dirs["inputs"], "tables"), "trades": os.path.join(dirs["inputs"], "trades"),
        "warmup": (os.path.join(dirs["inputs"], "trades", "trades.csv") if a.workload == "etl_trades"
                   else os.path.join(dirs["inputs"], "tables", w["tables"][0] + ".parquet")),
        "work": dirs["work"], "local": dirs["local"], "dump": dirs["dump"], "record": record_path,
        "passes": n_passes, "setups": SETUPS, "cpus": CPUS, "trace": a.trace,
        "fresh": int(w.get("fresh_session", False)),
        "passes_until": int(passes_until * 1000), "dump_until": int(dump_until * 1000),
    }, deadline, os.path.join(SCRATCH, "jvm.log"))
    if err or not os.path.exists(record_path):
        with open(os.path.join(SCRATCH, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness JVM failed: {err or 'no record written'}")
    with open(record_path) as f:
        record = json.load(f)

    # --- output checks
    ops = reduce.ops_of(record)
    attempted = {(sp["name"], sp["pass"]) for sp in ops}
    failed_ops = {(f["op"], f["pass"]) for f in record["failures"]}
    mismatched = {}
    if a.workload == "etl_trades":
        want = inputs["expected_metrics"]
        for m in record["etl_metrics"]:
            p = m["pass"]
            got = {k: m[k] for k in want}
            if got != want or m.get("cleaned") != want["successfulTrades"] \
                    or m.get("exceptions") != want["invalidTrades"]:
                failed_ops |= {(sp["name"], p) for sp in ops if sp["pass"] == p}
                mismatched[f"pass {p} metrics"] = f"want {want}, got {m}"
        bad = check.check_etl(os.path.join(dirs["inputs"], "trades"),
                              os.path.join(dirs["work"], "etl_out"), record["oracle_sql"])
        mismatched.update(bad)
        mism_ops = {"etl.sink.cleaned"} if "cleaned_trades.json" in bad else set()
        mism_ops |= {"etl.sink.exceptions"} if "exceptions_report.json" in bad else set()
    else:
        missing = set(w["queries"]) - set(record["oracle_sql"])
        bad = check.check_queries(os.path.join(dirs["inputs"], "tables"), dirs["dump"],
                                  record["oracle_sql"])
        bad.update({q: "no oracle statement" for q in missing})
        mismatched.update(bad)
        mism_ops = set(bad)
    n_failed = reduce.fail_count(attempted, failed_ops, mism_ops)
    correct = n_failed == 0 and not mismatched and not record["dump_failures"]

    e2e, extra = reduce.end_to_end(record, input_rows, input_bytes)
    layers, rows = reduce.per_layer(record, CPUS) if a.trace else ({}, [])
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes": n_passes, "setups": SETUPS, "generator": {
            "seed": a.seed, "gen_s": gen_s, "input_rows": input_rows, "input_bytes": input_bytes,
            **({"n_trades": ETL_TRADES, "planted": inputs["planted"]} if a.workload == "etl_trades" else {})},
        "fixtures": record["fixtures"],
        "env": {**record["env"], "nproc": CPUS, "driver_xmx": HEAP, "git_commit": _git_commit()},
        "queries": w["queries"], "attempted": len(attempted), "failed": n_failed,
        "fail_ratio": n_failed / len(attempted), "mismatches": mismatched,
        "op_failures": record["failures"], "dump_failures": record["dump_failures"],
        "dump_s": record["dump_s"], "fixtures_s": record["fixtures_s"],
        "end_to_end": e2e, **extra, "per_layer": layers, "per_pass_layers": rows,
        "op_latency_s": [{"op": sp["name"], "pass": sp["pass"], "s": reduce.op_latency_s(record, sp)}
                         for sp in ops],
        "wall_s": time.time() - t_start,
    }
    with open(os.path.join(SCRATCH, "run.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for name in ("inputs", "work", "local", "dump"):
        shutil.rmtree(dirs[name], ignore_errors=True)

    log(f"{a.workload} seed={a.seed} passes={n_passes} ops={len(attempted)} failed={n_failed} "
        f"fail_ratio={summary['fail_ratio']:.4f} query samples={extra['query_samples']} "
        f"wall={summary['wall_s']:.1f}s")
    for k, why in mismatched.items():
        log(f"MISMATCH {k}: {why}")
    for k, v in e2e.items():
        log(f"  {k:18s} {v:.6g} {END_TO_END_UNITS[k]}")
    if a.trace:
        units = dict(reduce.layer_units())
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": len(attempted), "failed": n_failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
