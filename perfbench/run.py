#!/usr/bin/env python3
"""Benchmark for the graft engine: daily ETL batches and a query-gate mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt); later runs reuse the build until
a source file changes. Each run starts one
JVM (`local[<cores>]`, one closed-loop client), prints a few
human-readable lines and, last, one JSON object with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# The gate tables: byte copies of the fixed seed-42 sf0.1 tables the
# gates and their DuckDB oracles were written against, listed with
# their SHA-256 in SHA256SUMS.
GATE_DATA = os.path.join(HERE, "data", "sf0.1")

# The gate mix, with the family each gate's subtotal is reported under:
# one gate per operator family, taking a roadmap heavy-tail target
# (q339, q105, q109) where the family has one, else the cheaper gate.
# Seven gates keep a cold JVM's warm pass plus one timed pass at sf0.1
# under a minute.
MIX = [
    ("q154_tpch_q5", "relational"),
    ("q35_ns_complex", "ns"),
    ("q339_lorenz_points", "window_quantile"),
    ("q105_containment", "text_similarity"),
    ("q109_curation_pipeline", "curation"),
    ("q161_triangle_count", "graph"),
    ("q528_stream_available_now_clean", "stream_store"),
]
FAMILIES = list(dict.fromkeys(f for _, f in MIX))
WORKLOADS = {"etl_daily": "etl", "gates_sf0.1": "gates"}  # name -> harness kind
# The program's build sizes the heap for a large measurement box; one
# benchmark JVM on a small box gets a fixed 3 GiB (sf0.1 gates run at
# ~2 GiB resident with it, and slow down under GC pressure at 2 GiB).
HEAP = "3g"
BUILD_TIMEOUT_S = 800
# A run (after the build) ends within this; the checks after the JVM
# get the last CHECK_S of it.
RUN_LIMIT_S, CHECK_S = 170, 15


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_group(cmd, log_path, timeout, **kw):
    """Runs cmd in its own process group, output to log_path; on
    timeout kills the whole group. Returns the exit code, or "timeout"
    once every process of the group has ended."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout"


# --- build -----------------------------------------------------------------

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles program + harness when any source changed; returns the
    java command prefix (classpath and the program's JVM options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "build.stamp")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        log("building program and harness with sbt ...")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -XX:-UsePerfData").strip()
        os.makedirs(os.path.dirname(launch), exist_ok=True)
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"],
                       os.path.join(HERE, "target", "build.log"), BUILD_TIMEOUT_S,
                       cwd=HERE, env=env)
        if rc != 0 or not os.path.exists(launch):
            sys.exit(f"build failed (sbt exit {rc}); see perfbench/target/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp, *opts = open(launch).read().splitlines()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + [o for o in opts if o and not o.startswith("-Xmx")] + \
        ["-Xms" + HEAP, "-Xmx" + HEAP, "-cp", cp]


# --- one run ---------------------------------------------------------------

def prepare(workload, seed, seconds, run_dir):
    """Writes the harness's inputs file; returns (inputs file, data
    dir, expectations used by the checks)."""
    path = os.path.join(run_dir, "inputs.txt")
    if WORKLOADS[workload] == "etl":
        # enough days that the measured window never runs out
        days = inputs.write_etl_inputs(seed, 2 + 2 * seconds, os.path.join(run_dir, "etl"))
        with open(path, "w") as f:
            f.writelines(f"{d['path']}\t{d['clock']}\n" for d in days)
        return path, "", {"days": days}
    tables, digest = gate_tables_digest(GATE_DATA)
    rng = random.Random(seed)
    names = [g for g, _ in MIX]
    with open(path, "w") as f:
        for _ in range(2 + seconds):   # more passes than the window holds
            rng.shuffle(names)
            f.write(",".join(names) + "\n")
    return path, GATE_DATA, {"tables": tables, "data_digest": digest}


def run_jvm(java, kind, inputs_file, data_dir, seconds, trace, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java[:1] + [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] + java[1:] + [
        "perfbench.Harness", kind, inputs_file, data_dir or "-", str(seconds),
        str(trace), run_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    rc = run_group(cmd, os.path.join(run_dir, "jvm.log"), timeout, cwd=run_dir, env=env)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"harness failed ({rc})")
    with open(result) as f:
        return json.load(f)


def check_etl(rec, expect):
    """Per-batch counts against the generator's ids, plus the run-level
    invariants. Returns (failed op names, run-level failures)."""
    days = expect["days"]
    bad = set()
    day_of = {op["name"]: int(op["name"].split("_")[1]) for op in rec["ops"]}
    for op in rec["ops"]:
        d = day_of[op["name"]]
        counts = rec.get(f"counts_{d}", {})
        new_ids = days[d]["distinct_ids"] - (days[d - 1]["distinct_ids"] if d else 0)
        if counts.get("extracted") != inputs.RECORDS_PER_DAY or \
                counts.get("silver_rows") != days[d]["distinct_ids"] or \
                counts.get("bronze_inserted") != new_ids:
            bad.add(op["name"])
    want = days[max(day_of.values())]["distinct_ids"]
    run_bad = [k for k, ok in [
        ("silver_rows", rec["silver_rows"] == want),
        ("bronze_rows", rec["bronze_rows"] == want),
        ("gold_matches_recompute", rec["gold_matches_recompute"])] if not ok]
    return bad, run_bad


def gate_tables_digest(data_dir):
    """Checks every table against SHA256SUMS; returns (table names, the
    digest of SHA256SUMS). Exits if a table is missing or differs."""
    with open(os.path.join(data_dir, "SHA256SUMS"), "rb") as f:
        sums = f.read()
    names = []
    for line in sums.decode().splitlines():
        digest, fname = line.split()
        with open(os.path.join(data_dir, fname), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                sys.exit(f"gate table {fname} differs from its SHA256SUMS entry")
        names.append(fname[:-len(".parquet")])
    return names, hashlib.sha256(sums).hexdigest()


def check_gates(run_dir, data_dir, expect):
    """Each gate's warm-pass dump against its DuckDB oracle, compared
    like the correctness gate does: columns by name, rows sorted, values
    as strings. An oracle's result is kept under .work/, keyed by the
    oracle SQL and the tables' checksums. Returns the names of gates
    that do not match."""
    import duckdb
    import pandas as pd
    dumps = os.path.join(run_dir, "dumps")
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in expect["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True).astype(str)

    def expected(gate):
        key = hashlib.sha256((expect["data_digest"] + oracle[gate]).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{gate}-{key}.parquet")
        if not os.path.exists(path):
            norm(con.execute(oracle[gate]).fetchdf()).to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
        return pd.read_parquet(path)

    bad = set()
    for gate, _ in MIX:
        parts = os.path.join(dumps, gate, "*.parquet")
        try:
            got = norm(con.execute(f"SELECT * FROM read_parquet('{parts}')").fetchdf())
            want = expected(gate)
            if list(got.columns) != list(want.columns) or not got.equals(want):
                bad.add(gate)
        except Exception as e:  # missing dump or oracle, SQL error
            log(f"check {gate}: {e}")
            bad.add(gate)
    con.close()
    return bad


def reduce_run(rec, bad_ops, run_ok, workload):
    """End-to-end and per-layer metrics from one checked record."""
    ops = rec["ops"]
    measured = [o for o in ops if o["round"] >= 1]
    good = [o for o in measured if o["ok"] and o["name"] not in bad_ops and run_ok]
    attempted = len(ops)
    failed = sum(1 for o in ops if not (o["ok"] and o["name"] not in bad_ops and run_ok))
    if not good:
        sys.exit("no operation succeeded; nothing to time")
    secs = [(o["end_us"] - o["start_us"]) / 1e6 for o in good]
    tail_v, tail_p, tail_n = M.tail(secs)
    window = (max(o["end_us"] for o in measured) - min(o["start_us"] for o in measured)) / 1e6
    e2e = {
        "setup_s": rec["setup_s"],
        # every operation weighs the same: a median over a seven-gate
        # pass is one gate's time, which moves more between JVMs
        "op_s.geomean": statistics.geometric_mean(secs),
        "ops_per_s": len(good) / window,
    }
    log(f"{workload}: {len(good)} ops in {window:.1f} s; op_s.p50 {statistics.median(secs):.3f} s; "
        f"op_s.tail {tail_v:.3f} s is p{tail_p:.1f} of n={tail_n}; "
        f"canary start/end {rec['canary_s'][0]:.3f}/{rec['canary_s'][1]:.3f} s; "
        f"peak RSS {rec['peak_rss_mb']:.0f} MB")
    log("measured: " + " ".join(f"{o['name']}={(o['end_us'] - o['start_us']) / 1e6:.2f}"
                                for o in measured))
    if max(rec["canary_s"]) > 1.5 * min(rec["canary_s"]):
        log("host: the canary moved by more than 1.5x during the run; the box was loaded")
    return e2e, attempted, failed, good


def layers(rec, good, cpus):
    """Per-layer metrics: medians over traced measured rounds of each
    round's totals (a round is one batch or one pass over the mix)."""
    spans = rec["spans"]
    span_by_id = {s["id"]: s for s in spans}
    stages_by_job = {}
    for st in rec["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    family = dict(MIX)
    good_names = {(o["round"], o["name"]) for o in good}
    op_spans = {}  # op span id -> (round, gate/batch name)
    for s in spans:
        if s["name"].startswith("op:"):
            parent = span_by_id.get(s["parent"], {})
            if parent.get("name", "").startswith("round:"):
                r = int(parent["name"].split(":")[1])
                if (r, s["name"][3:]) in good_names:
                    op_spans[s["id"]] = (r, s["name"][3:])
    rounds = sorted({r for r, _ in op_spans.values()})
    per_round = {r: {} for r in rounds}

    def add(r, key, v):
        per_round[r][key] = per_round[r].get(key, 0.0) + v

    jobs_by_span = {}
    for j in rec["jobs"]:
        if "end_us" in j and j["span"] in op_spans:
            jobs_by_span.setdefault(j["span"], []).append(j)
    skews, peak_mem = [], 0
    for sid, (r, name) in op_spans.items():
        op = span_by_id[sid]
        wall = (op["end_us"] - op["start_us"]) / 1e6
        for child in spans:
            if child["parent"] == sid and child["name"] in ("build", "plan"):
                add(r, {"build": "queries.build_s", "plan": "plan.plan_s"}[child["name"]],
                    (child["end_us"] - child["start_us"]) / 1e6)
        if name in family:
            add(r, f"family.{family[name]}_s", wall)
        jobs = jobs_by_span.get(sid, [])
        # the op's jobs as its child spans: its self time is driver-side
        # time no job covers, the rest is time some job ran
        driver = M.self_time(op, [{"parent": sid, "start_us": j["start_us"],
                                   "end_us": j["end_us"]} for j in jobs]) / 1e6
        add(r, "exec.exec_s", wall - driver)
        add(r, "exec.jobs", len(jobs))
        if name not in family:  # a pipeline batch
            add(r, "pipeline.jobs", len(jobs))
            add(r, "pipeline.driver_s", driver)
        for j in jobs:
            layer = M.attribute(j["callsite"])
            if layer != "other":
                add(r, f"{layer}_s", (j["end_us"] - j["start_us"]) / 1e6)
            sts = stages_by_job.get(j["id"], [])
            add(r, "exec.stages", len(sts))
            for st in sts:
                add(r, "exec.tasks", st["tasks"])
                add(r, "exec.task_run_s", st["run_ms"] / 1e3)
                add(r, "exec.task_cpu_s", st["cpu_ns"] / 1e9)
                add(r, "exec.gc_s", st["gc_ms"] / 1e3)
                add(r, "exec.input_mb", st["input"] / 2**20)
                add(r, "exec.shuffle_read_mb", st["shuffle_read"] / 2**20)
                add(r, "exec.shuffle_write_mb", st["shuffle_write"] / 2**20)
                add(r, "exec.spill_mb", st["spill"] / 2**20)
                if layer.startswith("store."):
                    add(r, "store.bytes_written_mb", st["output"] / 2**20)
                peak_mem = max(peak_mem, st["peak_mem"])
                if st["tasks"] >= 2 and st["median_task_ms"] > 0:
                    skews.append(st["max_task_ms"] / st["median_task_ms"])
    keys = ["queries.build_s", "plan.plan_s", "exec.exec_s", "exec.task_run_s",
            "exec.task_cpu_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
            "exec.spill_mb", "exec.input_mb", "exec.gc_s", "exec.jobs", "exec.stages",
            "exec.tasks", "pipeline.jobs", "pipeline.driver_s", "store.append_s",
            "store.upsert_s", "store.replace_s", "main.extract_probe_s", "main.touched_s",
            "main.report_s", "main.counts_s", "store.bytes_written_mb"] + \
        [f"family.{f}_s" for f in FAMILIES]
    out = {k: M.median_or_zero([per_round[r].get(k, 0.0) for r in rounds]) for k in keys}
    out["exec.core_busy_ratio"] = out["exec.task_run_s"] / (out["exec.exec_s"] * cpus) \
        if out["exec.exec_s"] else 0.0
    out["exec.peak_exec_mem_mb"] = peak_mem / 2**20
    out["exec.task_skew"] = M.median_or_zero(skews)
    out["plan.codegen_compiles"] = rec["codegen_compiles"]
    out["store.files"] = rec.get("store_files", 0)
    out["host.canary_s"] = max(rec["canary_s"])
    out["peak_rss_mb"] = rec["peak_rss_mb"]
    traced = [(o["end_us"] - o["start_us"]) / 1e6 for o in good if o["traced"]]
    untraced = [(o["end_us"] - o["start_us"]) / 1e6 for o in good if not o["traced"]]
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced)) \
        if traced and untraced else 0.0
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"no program sources next to {HERE}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    java = build()
    t0 = time.monotonic()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        kind = WORKLOADS[a.workload]
        inputs_file, data_dir, expect = prepare(a.workload, a.seed, a.seconds, run_dir)
        rec = run_jvm(java, kind, inputs_file, data_dir, a.seconds, a.trace, run_dir,
                      RUN_LIMIT_S - CHECK_S - (time.monotonic() - t0))
        if kind == "etl":
            bad_ops, run_bad = check_etl(rec, expect)
        else:
            bad_ops, run_bad = check_gates(run_dir, data_dir, expect), []
        for o in rec["ops"]:
            if not o["ok"]:
                log(f"failed: {o['name']}: {o['error'][:300]}")
        for name in sorted(bad_ops) + run_bad:
            log(f"output check failed: {name}")
        e2e, attempted, failed, good = reduce_run(rec, bad_ops, not run_bad, a.workload)
        if a.trace:
            values, wanted = layers(rec, good, int(rec["cpus"])), spec["per_layer"]
        else:
            values, wanted = e2e, spec["end_to_end"]
        line = M.result_line(failed == 0 and not run_bad, attempted, failed, values, wanted)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
