#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
the sources are unchanged. The harness runs the workload in one JVM on
local[nproc]: seeded inputs, set-up repeated three times, then operations
in a closed loop (one client, one call at a time) for --seconds, then
output checks outside the timed region.

Workloads (BENCHMARK.json says why each was chosen):
  fm_hashed_maxint  FM at vector size Int.MaxValue: fit, model write, load,
                    scoring of held-out rows to the noop sink.
  battery_mix       a fixed mix of SparkEntry queries, at least one per
                    engine layer, over a seeded fixture; its traced run
                    also runs the reference Sample app once and Spark's
                    FMRegressor on the same split.

End-to-end metrics, over the timed passes (a warm-up pass runs first):
  setup_s       median of three set-ups (session start, input generation,
                and on battery_mix every query's prepare step), plus the
                wall time of the warm-up pass
  wall_s        sum over operations of the median time of the operation
  cpu_s         the same for executor task CPU
  ok_frac       operations that succeeded / operations attempted

Per-layer metrics come from the traced run: the harness runs each
operation under its own Spark job group, and a listener credits every job
and task to it. A layer a workload does not run reads 0.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Each run also writes its full record, never overwriting
another, to perfbench/.work/records/. The exit code is non-zero when an
output check fails or the run cannot be made.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import unittest
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("fm_hashed_maxint", "battery_mix")
FM_OPS = ("features", "fit", "score", "save", "load")
FM_OP_METRICS = (("s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
                 ("driver_gap_s", "s"), ("shuffle_write_mb", "MB"),
                 ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s"))
LAYERS = ("relational", "relational.source", "relational.advanced", "plans",
          "fm", "ops.dedup", "ops.similarity", "ops.text_analysis",
          "ops.multimodal", "ops.pipeline", "streaming")
LAYER_METRICS = (("s", "s"), ("task_cpu_s", "s"), ("jobs", "count"),
                 ("driver_gap_s", "s"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"))
RUN_DEADLINE_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def layer_of(query):
    """Engine layer of a battery query, from its name's prefix; the
    q<N>_ queries are the relational layer."""
    for prefix, layer in (("adv_asof_", "plans"), ("adv_", "relational.advanced"),
                          ("src_", "relational.source"), ("fm_", "fm"),
                          ("dedup_", "ops.dedup"), ("sim_", "ops.similarity"),
                          ("ta_", "ops.text_analysis"), ("mm_", "ops.multimodal"),
                          ("pipe_", "ops.pipeline"), ("st_", "streaming")):
        if query.startswith(prefix):
            return layer
    return "relational"


# ------------------------------------------------------------------ build --

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def launch():
    """Builds when the sources changed since the last build; returns the
    harness's classpath and the engine's JVM options."""
    launch_file = os.path.join(WORK, "launch.json")
    stamp = source_stamp()
    if os.path.exists(launch_file):
        with open(launch_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], cached["jvm_options"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the engine")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed with exit code {proc.returncode}")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(os.path.join(HERE, "target", "launch.txt")) as f:
        cp, *jvm_options = f.read().splitlines()
    os.makedirs(WORK, exist_ok=True)
    with open(launch_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp, "jvm_options": jvm_options}, f)
    return cp, jvm_options


# ------------------------------------------------------------ the harness --

def run_harness(args, cp, jvm_options, work, out, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    # The engine's options first; later ones win: the benchmark's bounded
    # driver heap, and no file written outside the work directory.
    cmd = [java] + jvm_options + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(args.cpus), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the harness did not finish in time", 4)


# ---------------------------------------------------------------- metrics --

def credit_jobs(rec):
    """Maps each timed operation's group to the jobs submitted under it;
    a job with no group goes to the operation whose window holds its
    start. Other jobs (set-up, prepares, checks) go to None."""
    by_group = {o["group"]: [] for o in rec["ops"]}
    by_group[None] = []
    windows = sorted((o["start_ms"], o["end_ms"], o["group"]) for o in rec["ops"])
    for j in rec["jobs"]:
        g = j["group"]
        if g not in by_group:
            g = None
            if not j["group"]:
                g = next((w[2] for w in windows if w[0] <= j["start_ms"] <= w[1]), None)
        by_group[g].append(j)
    return by_group


def op_stats(op, jobs):
    intervals = [(j["task_intervals"][i], j["task_intervals"][i + 1])
                 for j in jobs for i in range(0, len(j.get("task_intervals", [])), 2)]
    mb = 1e6
    return {
        "s": op["s"],
        "jobs": len(jobs),
        "task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "driver_gap_s": stats.driver_gap(op["start_ms"], op["end_ms"], intervals) / 1e3,
        "shuffle_write_mb": sum(j.get("shuffle_write_bytes", 0) for j in jobs) / mb,
        "shuffle_read_mb": sum(j.get("shuffle_read_bytes", 0) for j in jobs) / mb,
        "spill_mb": sum(j.get("spill_bytes", 0) for j in jobs) / mb,
        "gc_s": sum(j.get("gc_ms", 0) for j in jobs) / 1e3,
    }


def per_op_medians(rec, credited, timed=True):
    """{op name: {stat: median over the op's runs}}, ok runs only: the
    timed runs (pass >= 1), or with timed=False the Sample-app comparison
    of a traced battery run (pass -1)."""
    samples = {}
    for o in rec["ops"]:
        if o["ok"] and (o["pass"] >= 1 if timed else o["pass"] == -1):
            samples.setdefault(o["name"], []).append(op_stats(o, credited[o["group"]]))
    return {name: {k: stats.median([r[k] for r in runs]) for k in runs[0]}
            for name, runs in samples.items()}


def failures(rec):
    """One entry per failed operation: its job group, which names the
    workload, operation and pass, and the exception class and message."""
    return [{"op": o["group"], "error": o["error"]} for o in rec["ops"] if not o["ok"]]


def end_to_end(rec, per_op):
    ops = rec["ops"]
    return {
        "setup_s": (stats.median(rec["setup_s"]) + rec["values"].get("warmup_s", 0.0), "s"),
        "wall_s": (sum(v["s"] for v in per_op.values()), "s"),
        "cpu_s": (sum(v["task_cpu_s"] for v in per_op.values()), "s"),
        "ok_frac": (sum(o["ok"] for o in ops) / max(1, len(ops)), "frac"),
    }


def per_layer(rec, per_op, credited):
    v = rec["values"]
    m = {}
    hashed = rec["workload"] == "fm_hashed_maxint"
    fm_ops = per_op if hashed else per_op_medians(rec, credited, timed=False)
    for op in FM_OPS:
        for stat, unit in FM_OP_METRICS:
            m[f"fm.{op}.{stat}"] = (fm_ops.get(op, {}).get(stat, 0.0), unit)
    m["fm.fit.jobs_per_iter"] = (fm_ops.get("fit", {}).get("jobs", 0) / v.get("fm.max_iter", 1),
                                 "count")
    m["fm.fit.param_rows"] = (v.get("fm.fit.param_rows", 0), "count")
    m["fm.fit.exploded_rows"] = (v.get("fm.fit.exploded_rows", 0), "count")
    m["fm.heap_peak_mb"] = (v.get("heap_peak_mb", 0.0) if hashed else 0.0, "MB")
    score = fm_ops.get("score", {}).get("s", 0.0)
    m["fm.score.rows_per_s"] = (v.get("scored_rows", 0) / score if score else 0.0, "1/s")
    m["fm.test_mae"] = (v.get("test_mae", 0.0), "rating")
    m["mllib.fm.fit_s"] = (v.get("mllib.fm.fit_s", 0.0), "s")
    m["mllib.fm.test_mae"] = (v.get("mllib.fm.test_mae", 0.0), "rating")
    queries = {} if hashed else per_op
    for layer in LAYERS:
        qs = [s for q, s in queries.items() if layer_of(q) == layer]
        for stat, unit in LAYER_METRICS:
            m[f"battery.{layer}.{stat}"] = (sum(s[stat] for s in qs), unit)
    rounds = max(1, v.get("passes", 1))
    m["battery.prepare_s"] = (v.get("battery.prepare_s", 0.0) / rounds, "s")
    ingest = [s for q, s in queries.items() if "_ingest_" in q]
    for stat, unit in (("s", "s"), ("jobs", "count"), ("driver_gap_s", "s")):
        m[f"battery.ingest.{stat}"] = (sum(s[stat] for s in ingest), unit)
    return m


def spans(rec, credited, run_start_ms, run_end_ms):
    """Run, operation and job spans sharing one run id."""
    run_id = uuid.uuid4().hex
    out = [{"id": "run", "parent": None, "name": rec["workload"],
            "start_ms": run_start_ms, "end_ms": run_end_ms, "run_id": run_id}]
    for o in rec["ops"]:
        st = op_stats(o, credited[o["group"]])
        out.append({"id": o["group"], "parent": "run", "name": o["name"],
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"],
                    "run_id": run_id, "ok": o["ok"], "counts": st})
    for g, jobs in credited.items():
        for j in jobs:
            counts = {k: j[k] for k in ("tasks", "cpu_ns", "shuffle_write_bytes",
                                       "shuffle_read_bytes", "spill_bytes", "gc_ms")
                      if k in j}
            out.append({"id": f"job{j['id']}", "parent": g or "run",
                        "name": j["group"] or "(no group)", "start_ms": j["start_ms"],
                        "end_ms": j["end_ms"], "run_id": run_id, "ok": j["ok"],
                        "counts": counts})
    return out


# ----------------------------------------------------------------- checks --

def battery_oracle_checks(rec, fixture_dir):
    """Compares each battery query's output with its DuckDB oracle over
    the same generated tables, after sorting rows and columns."""
    import duckdb
    import numpy as np
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            df[c] = df[c].map(lambda x: tuple(x.tolist() if hasattr(x, "tolist") else x)
                              if x is not None and not np.isscalar(x) else x)
            if df[c].dtype.kind == "f":
                df[c] = df[c] + 0.0  # -0.0 and 0.0 compare as one value
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    con.execute("PRAGMA memory_limit='2GB'")
    for t in glob.glob(os.path.join(fixture_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    out_dir = rec["values"]["battery.out_dir"]
    results = []
    for q, sql in sorted(rec["values"]["battery.oracle_sql"].items()):
        try:
            got = pd.read_parquet(os.path.join(out_dir, q))
            a, b = canon(got), canon(con.sql(sql).df())
            if list(a.columns) != list(b.columns):
                results.append((f"oracle_{q}", False, f"columns {list(a.columns)} vs {list(b.columns)}"))
                continue
            # Floats match to a relative 1e-7: Spark and DuckDB sum doubles
            # in different orders, which can move a rounded sum by one unit
            # in its last kept digit. Every other column matches exactly.
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                          rtol=1e-7, atol=0.0)
            results.append((f"oracle_{q}", True, f"{len(a)} rows equal"))
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            results.append((f"oracle_{q}", False, f"{type(e).__name__}: {str(e)[:300]}"))
    con.close()
    return results


# ------------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    deadline = started + RUN_DEADLINE_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no graft sources (build.sbt, src/main/scala/graft)")
    arithmetic = unittest.TestLoader().loadTestsFromName("test_stats")
    if not unittest.TextTestRunner(stream=open(os.devnull, "w")).run(arithmetic).wasSuccessful():
        fail("the benchmark's arithmetic checks fail (python3 perfbench/test_stats.py)", 3)

    args.cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    loaded = load_start > 2
    if loaded:
        print(f"[perfbench] warning: load average {load_start:.2f} > 2 at start; "
              "this run's timings are suspect", file=sys.stderr)
    cp, jvm_options = launch()
    tag = (f"{args.workload}_seed{args.seed}_trace{args.trace}_"
           f"{datetime.datetime.now(datetime.timezone.utc):%Y%m%dT%H%M%S%fZ}_{os.getpid()}")
    work = os.path.join(WORK, "runs", tag)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    run_start_ms = int(time.time() * 1000)
    try:
        code = run_harness(args, cp, jvm_options, work, out, deadline)
        run_end_ms = int(time.time() * 1000)
        if not os.path.exists(out):
            fail(f"the harness exited with code {code} and wrote no record", 5)
        with open(out) as f:
            rec = json.load(f)
        checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
        if rec["workload"] == "battery_mix" and rec["fatal"] is None:
            checks += battery_oracle_checks(rec, os.path.join(work, "fixture"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, ok, detail in checks:
        if not ok:
            print(f"[perfbench] check {name} failed: {detail}", file=sys.stderr)
    credited = credit_jobs(rec)
    per_op = per_op_medians(rec, credited)
    e2e = end_to_end(rec, per_op)
    layers = per_layer(rec, per_op, credited) if args.trace else {}
    failed = sum(not o["ok"] for o in rec["ops"])
    correct = (rec["fatal"] is None and failed == 0 and bool(checks)
               and all(ok for _, ok, _ in checks))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": args.cpus, "load_avg_start": load_start,
        "load_avg_end": os.getloadavg()[0], "loaded_box": loaded,
        "correct": correct, "attempted": len(rec["ops"]), "failed": failed,
        "failures": failures(rec),
        "fatal": rec["fatal"],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "setup_s_samples": rec["setup_s"],
        # the oracle check's inputs (a path and SQL text) stay out of the record
        "values": {k: v for k, v in rec["values"].items()
                   if k not in ("battery.out_dir", "battery.oracle_sql")},
        "per_op": per_op,
        "wall_s_total": time.time() - started,
    }
    if args.trace:
        record["spans"] = spans(rec, credited, run_start_ms, run_end_ms)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", tag + ".json"), "w") as f:
        json.dump(record, f)
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": max(1, len(rec["ops"])),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
