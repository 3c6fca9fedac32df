#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, one run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It compiles the program (`src/main/scala`)
with the benchmark's JVM harness (`perfbench/src`) when their sources
changed, derives the workload's tables from the seed, runs the harness
(`perfbench.Harness`), checks every query's output against its DuckDB
oracle (`SparkEntry.oracleSql`), and prints one JSON line: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer ones.
The line before it holds the details: input sizes, pass quartiles, the
tail percentile and its sample count, per-query times and oracle results.
See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import derive  # noqa: E402
import stats  # noqa: E402

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
CORES = 4
HEAP = "3g"
YOUNG = "512m"
DEADLINE_S = 170  # the whole run, build excluded
BUILD_DEADLINE_S = 800
PHASES = ("construct", "plan", "execute")
MB = float(1 << 20)

# What `SparkSession` needs on JDK 17 outside spark-submit (build.sbt has the same list).
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_s.p50": "s", "query_s.tail": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "construct.s": "s", "construct.jobs": "count", "construct.stages": "count",
    "construct.tasks": "count", "construct.idle_s": "s",
    "plan.s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.idle_s": "s",
    "executor.busy_frac": "ratio", "task.cpu_s": "s", "task.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "spill_mb": "MB",
    "exec_mem.peak_mb": "MB",
    "sources.read_mb": "MB", "sources.read_rows": "count",
    "sources.write_mb": "MB", "sources.write_rows": "count",
    "streaming.triggers": "count", "streaming.batch_s": "s", "streaming.commit_s": "s",
    "ingest.cached_mb_left": "MB", "ingest.cached_rdds_left": "count",
    "session.temp_views_left": "count", "session.conf_keys_added": "count",
    "spark.tasks_failed": "count", "spark.stages_retried": "count",
    "fail_frac": "ratio", "trace.overhead_s": "s",
}


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def per_layer_units(workloads):
    units = dict(LAYER_UNITS)
    for w in workloads.values():
        for q in w["queries"]:
            units[f"q.{q}.s"] = "s"
            units[f"q.{q}.jobs"] = "count"
    return units


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH. The program compiles and runs against them."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")
    return os.path.join(home, "jars")


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group when it runs past
    `timeout` or this process is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {cmd[0]} ran past its deadline and was killed")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_harness(jar, jars, run_dir, queries, seconds, trace, deadline):
    """Run perfbench.Harness over <run_dir>/data; outputs, spans and the
    JVM's log stay in <run_dir>. Returns the output dir."""
    dirs = {k: os.path.join(run_dir, k) for k in ("out", "tmp", "scratch")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # The heap is not pre-touched, so peak RSS follows what the program
    # retains and holds outside the heap. Two G1 sizing choices are taken
    # out of it: the young generation is fixed, and the heap grows in steps
    # of 2% of what is left uncommitted instead of 20%. With G1's defaults
    # peak RSS of one workload jumped by 0.4 to 0.7 GB between runs,
    # depending on whether one large step was taken. No perf-data file: the
    # JVM would write it to the system temp dir, outside the checkout.
    cmd = ["java", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UnlockExperimentalVMOptions",
           "-XX:G1ExpandByPercentOfAvailable=2", "-XX:-UsePerfData", *JDK17_OPENS,
           f"-Djava.io.tmpdir={dirs['tmp']}",
           "-cp", f"{jar}:{jars}/*", "perfbench.Harness",
           "--data", os.path.join(run_dir, "data"), "--out", dirs["out"], "--work", run_dir,
           "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(CORES), "--queries", ",".join(queries)]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=dirs["scratch"])
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        rc = run_child(cmd, deadline, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
    if rc != 0:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        raise SystemExit(f"perfbench: the harness exited with code {rc}")
    return dirs["out"]


def build(jars):
    """Compile program + harness into .bench_build/perfbench/perfbench.jar
    when their sources changed; returns the jar."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}; run from a checkout root")
    files = sorted(os.path.join(d, f) for top in (PROGRAM_SRC, HARNESS_SRC)
                   for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    jar = os.path.join(BUILD, "perfbench.jar")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return jar
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    rc = run_child(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                    "scala.tools.nsc.Main", "-nowarn", "-d", jar, "-classpath", f"{jars}/*",
                    "@" + argfile],
                   BUILD_DEADLINE_S, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return jar


def check_outputs(data_dir, out_dir, queries):
    """Compare each query's parquet output with its DuckDB oracle, as
    rows EXCEPT ALL both ways over name-sorted columns. Returns
    {query: None when equal, else the reason}."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect(config={
        "threads": CORES, "temp_directory": os.path.join(out_dir, "duckdb_tmp"),
        "autoinstall_known_extensions": False})
    for t in derive.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}
    for q in queries:
        d = os.path.join(out_dir, "results", q)
        if not os.path.isdir(d):
            verdict[q] = "no output"
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE spark_out AS SELECT * FROM '{d}/*.parquet'")
            con.execute(f"CREATE OR REPLACE TEMP TABLE ora_out AS {oracle[q]}")
            scols = sorted(r[0] for r in con.execute("DESCRIBE spark_out").fetchall())
            ocols = sorted(r[0] for r in con.execute("DESCRIBE ora_out").fetchall())
            if scols != ocols:
                verdict[q] = f"columns {scols} vs {ocols}"
                continue
            cols = ", ".join(f'"{c}"' for c in scols)
            n1 = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
            n2 = con.execute("SELECT count(*) FROM ora_out").fetchone()[0]
            d1 = con.execute(f"SELECT {cols} FROM spark_out EXCEPT ALL SELECT {cols} FROM ora_out LIMIT 2").fetchall()
            d2 = con.execute(f"SELECT {cols} FROM ora_out EXCEPT ALL SELECT {cols} FROM spark_out LIMIT 2").fetchall()
            verdict[q] = None if n1 == n2 and not d1 and not d2 else \
                f"rows {n1} vs {n2}, extra spark {d1}, extra oracle {d2}"
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[q] = f"{type(e).__name__}: {e}"
    con.close()
    return verdict


def phase_windows(qrec):
    """[(phase, start_ms, end_ms)] of one query call, each timed around its
    own body; a phase that never started (an earlier one threw) is left out."""
    return [(ph, *qrec["phases"][ph]) for ph in PHASES if ph in qrec["phases"]]


def wall_ms(qrec):
    """A query call's wall, timed apart from its phases: from the call to
    the end of the write and, on a traced pass, the leak probe."""
    return qrec["t1"] - qrec["t0"]


def summarize_trace(recs, queries, cores):
    """Per-layer numbers of the traced passes: per-pass medians of sums,
    except leak probes (max over queries) and failures (run totals)."""
    passes = {r["pass"]: r for r in recs if r["k"] == "pass" and r["traced"]}
    calls = [r for r in recs if r["k"] == "query" and r["pass"] in passes]
    windows = [((c["pass"], c["q"], ph), a, b) for c in calls for ph, a, b in phase_windows(c)]

    def owner(job):
        g = job.get("group") or ""
        if g.startswith("pb|"):
            _, p, q, ph = g.split("|")
            return int(p), q, ph
        # jobs submitted from threads that did not inherit the group
        return next((key for key, a, b in windows if a - 1 <= job["t0"] <= b), None)

    jobs = {r["id"]: r for r in recs if r["k"] == "job"}
    job_owner = {j: owner(r) for j, r in jobs.items()}
    stage_job = {}
    for j in sorted(jobs):
        for s in jobs[j]["stages"]:
            stage_job.setdefault(s, j)

    def stage_owner(stage_id):
        return job_owner.get(stage_job.get(stage_id))

    zero = {k: 0.0 for k in LAYER_UNITS}
    per_pass = {p: dict(zero) for p in passes}
    per_query = {(p, q): {"s": 0.0, "jobs": 0} for p in passes for q in queries}
    tasks_by_window = {}
    for j, key in job_owner.items():
        if key and key[0] in per_pass:
            per_pass[key[0]][f"{key[2]}.jobs"] = per_pass[key[0]].get(f"{key[2]}.jobs", 0) + 1
            per_query[(key[0], key[1])]["jobs"] += 1
    failed_tasks = retried_stages = 0
    for r in recs:
        if r["k"] == "stage":
            key = stage_owner(r["id"])
            retried_stages += r["attempt"] > 0
            if key and key[0] in per_pass and key[2] != "plan":
                per_pass[key[0]][f"{key[2]}.stages"] += 1
        elif r["k"] == "task":
            key = stage_owner(r["stage"])
            failed_tasks += not r["ok"]
            if not key or key[0] not in per_pass:
                continue
            pp = per_pass[key[0]]
            if key[2] != "plan":
                pp[f"{key[2]}.tasks"] += 1
            tasks_by_window.setdefault(key, []).append((r["t0"], r["t1"]))
            pp["executor.busy_frac"] += r["run_ms"]
            pp["task.cpu_s"] += r["cpu_ns"] / 1e9
            pp["task.gc_s"] += r["gc_ms"] / 1e3
            pp["shuffle.write_mb"] += r["shuffle_w"] / MB
            pp["shuffle.read_mb"] += r["shuffle_r"] / MB
            pp["spill_mb"] += r["spill"] / MB
            pp["exec_mem.peak_mb"] = max(pp["exec_mem.peak_mb"], r["peak_mem"] / MB)
            pp["sources.read_mb"] += r["in_b"] / MB
            pp["sources.read_rows"] += r["in_r"]
            pp["sources.write_mb"] += r["out_b"] / MB
            pp["sources.write_rows"] += r["out_r"]
        elif r["k"] == "trigger":
            p = next((i for i, pr in passes.items() if pr["t0"] - 1 <= r["t0"] <= pr["t1"]), None)
            if p is not None:
                per_pass[p]["streaming.triggers"] += 1
                per_pass[p]["streaming.batch_s"] += r["batch_ms"] / 1e3
                per_pass[p]["streaming.commit_s"] += r["commit_ms"] / 1e3
    for key, a, b in windows:
        pp = per_pass[key[0]]
        wall_s = (b - a) / 1e3
        pp[f"{key[2]}.s"] += wall_s
        if key[2] != "plan":
            pp[f"{key[2]}.idle_s"] += stats.self_time(a, b, tasks_by_window.get(key, [])) / 1e3
    for c in calls:
        per_query[(c["pass"], c["q"])]["s"] += wall_ms(c) / 1e3
    for p, pr in passes.items():
        per_pass[p]["executor.busy_frac"] /= (pr["t1"] - pr["t0"]) * cores

    out = {k: statistics.median([per_pass[p][k] for p in passes]) for k in LAYER_UNITS}
    probes = [r for r in recs if r["k"] == "probe"]
    for name, field, scale in (("ingest.cached_mb_left", "cached_bytes", MB),
                               ("ingest.cached_rdds_left", "cached_rdds", 1),
                               ("session.temp_views_left", "temp_views", 1),
                               ("session.conf_keys_added", "conf_added", 1)):
        out[name] = max((r[field] / scale for r in probes), default=0)
    out["spark.tasks_failed"] = failed_tasks
    out["spark.stages_retried"] = retried_stages
    for q in queries:
        out[f"q.{q}.s"] = statistics.median([per_query[(p, q)]["s"] for p in passes])
        out[f"q.{q}.jobs"] = statistics.median([per_query[(p, q)]["jobs"] for p in passes])
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = load_workloads()
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    queries = wl["queries"]

    jars = spark_jars()
    jar = build(jars)
    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    t_start = time.time()
    sizes = derive.derive(data_dir, args.seed, wl["replicas"])
    out_dir = run_harness(jar, jars, run_dir, queries, args.seconds, args.trace,
                          DEADLINE_S - (time.time() - t_start))

    with open(os.path.join(out_dir, "spans.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    verdict = check_outputs(data_dir, out_dir, queries)
    checks = {r["q"]: r for r in recs if r["k"] == "check"}
    calls = [r for r in recs if r["k"] == "query"]
    passes = [r for r in recs if r["k"] == "pass"]
    ready = next(r["t"] for r in recs if r["k"] == "ready")
    end = next(r for r in recs if r["k"] == "end")

    failed_checks = {q: checks[q]["err"] or verdict[q] for q in queries
                     if checks[q]["err"] or verdict[q]}
    failed_calls = [c for c in calls if c["err"]]
    attempted = len(queries) + len(calls)
    failed = len(failed_checks) + len(failed_calls)
    uncovered = [c for c in calls if not c["err"] and not stats.phases_cover_wall(
        [b - a for _, a, b in phase_windows(c)], wall_ms(c))]

    timed = [p for p in passes if not p["traced"]]
    pass_walls = [(p["t1"] - p["t0"]) / 1e3 for p in timed]
    untraced_ids = {p["pass"] for p in timed}
    latencies = [wall_ms(c) / 1e3 for c in calls if c["pass"] in untraced_ids]
    # below 20 samples the rule's percentile falls under the median: report the maximum
    tail = stats.tail(latencies) or (100.0, max(latencies), len(latencies))
    details = {
        "workload": args.workload, "seed": args.seed, "replicas": wl["replicas"],
        "inputs": sizes, "passes": len(passes), "traced_passes": len(passes) - len(timed),
        "pass_s_quartiles": stats.quartiles(pass_walls),
        "query_s_tail": {"percentile": tail[0], "samples": tail[2]},
        "cold_pass_s": sum(r["t1"] - r["t0"] for r in checks.values()) / 1e3,
        "query_s_median": {q: statistics.median([wall_ms(c) / 1e3 for c in calls
                                            if c["q"] == q and c["pass"] in untraced_ids])
                           for q in queries},
        "failures": {**failed_checks, **{f"{c['q']}@pass{c['pass']}": c["err"] for c in failed_calls}},
        "phases_off_wall": [f"{c['q']}@pass{c['pass']}" for c in uncovered],
        "phases_share_of_wall_min": min((sum(b - a for _, a, b in phase_windows(c)) / wall_ms(c)
                                         for c in calls if not c["err"]), default=None),
        "spans": os.path.relpath(os.path.join(out_dir, "spans.jsonl"), ROOT),
    }
    if args.trace:
        layer = summarize_trace(recs, queries, CORES)
        traced_walls = [(p["t1"] - p["t0"]) / 1e3 for p in passes if p["traced"]]
        bracketing = [(p["t1"] - p["t0"]) / 1e3 for p in timed if p["pass"] > 0]
        layer["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(bracketing)
        layer["fail_frac"] = failed / attempted
        units = per_layer_units(workloads)
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in units.items()}
    else:
        values = {
            "setup_s": ready / 1e3 - t_start,
            "pass_s": statistics.median(pass_walls),
            "query_s.p50": statistics.median(latencies),
            "query_s.tail": tail[1],
            "peak_rss_mb": end["vmhwm_kb"] / 1024.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0 and not uncovered, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
