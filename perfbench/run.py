#!/usr/bin/env python3
"""Benchmark of the engine as its users drive it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala compiler
Spark ships, into `.bench_build/`; later runs reuse the classes while the
sources are unchanged. Each run then:

1. sets up three times and keeps the median: wipes the working directory
   (stored indexes, warehouse, ETL store and backup roots) and stages the
   seeded inputs (`corpus.py`);
2. starts the measured JVM directly (`perfbench.Main`), one process on
   `local[<cores>]`, which runs the workload's ops in a closed loop: a cold
   pass, warm-up passes, then timed passes for `--seconds`. Where one cold
   pass is too short a sample, fresh JVMs that run the cold pass only go
   first, each after a new set-up, one at a time;
3. checks every op's output outside the timed region: catalog query results
   against their DuckDB oracle SQL on the same staged tables, compared as
   `tools/compare.py` does; ETL, report and backup results against the
   invariants of the staged corpus;
4. prints one line `<metric> <value> <unit>` per metric, writes the same
   lines to `.bench_build/results/`, and prints the result JSON last.

With `--trace 0` the JSON carries the end-to-end metrics, with `--trace 1`
the per-layer metrics of the traced run. See `perfbench/README.md`.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

# The ops of each workload. The catalog lists are the slices of the catalog
# that fit the run budget; they keep the catalog's order.
RELATIONAL = [
    "q06_correlated_null", "q09_running_total", "q10_union_header",
    "q19_progress_report", "q49_join_suite", "q62_grouping_sets",
    "q76_rank_suite",
]
EAGER = [
    "q69_heavy_hitters", "q143_ivf_build_stored", "q144_ivf_search_stored",
    "q161_ivf_append_stored", "q164_ivf_compact_stored",
    "q169_ivf_token_search",
]
ETL_USERS = 4
ETL_DAYS = 274
# How each workload is run: `cold_jvms` fresh JVMs measure the cold pass
# (the last of them also runs the warm passes); `warmup` warm passes follow
# the cold pass untimed; then timed passes fill `--seconds`, at least
# `min_timed` of them, two more when tracing. Pass 1 carries the output
# checks. The minimum outlasts the window BENCHMARK.json sets, so every run
# times the same passes. Warm passes keep getting faster for several passes
# while the JIT compiles, most steeply on eager_catalog, whose short passes
# also leave room for a second cold pass. relational_catalog is not in
# BENCHMARK.json (its runs do not fit the run budget beside the other two)
# and is the quick workload of the self-checks.
PLAN = {
    "etl_flow": {"cold_jvms": 1, "warmup": 0, "min_timed": 2},
    "relational_catalog": {"cold_jvms": 1, "warmup": 1, "min_timed": 2},
    "eager_catalog": {"cold_jvms": 2, "warmup": 1, "min_timed": 2},
}
WORKLOADS = tuple(PLAN)
SETUP_REPEATS = 3
# A run, build excluded, ends within RUN_LIMIT_S; the checks after the
# measured JVM get CHECK_RESERVE_S of it.
RUN_LIMIT_S = 175
CHECK_RESERVE_S = 10

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far; zeros where unknown."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        fail("Spark with its Scala compiler not found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compiles program and harness unless the classes match the sources."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").rglob("*.scala"))
    if not program or not harness:
        fail("program sources (src/main/scala) or harness sources not found")
    digest = hashlib.sha256()
    for f in program + harness + sorted(jars.glob("*.jar")):
        digest.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT)
                          else f.name).encode())
        if f.suffix == ".scala":
            digest.update(f.read_bytes())
    classes, stamp = BUILD / "classes", BUILD / "classes.sha256"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in program + harness) + "\n")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={BUILD / 'tmp'}",
         "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", str(tmp), f"@{argfile}"],
        capture_output=True, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], proc.stderr[-4000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


def stage(workload, seed, work):
    """One set-up: wipe all state, stage the inputs. Returns the manifest."""
    import corpus
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    if workload == "etl_flow":
        return corpus.day_corpus(seed, work / "input", ETL_USERS, ETL_DAYS)
    corpus.catalog_tables(seed, work / "input")
    return {}


def jvm_args(workload, manifest, work):
    if workload == "etl_flow":
        return ["--corpus", str(work / "input"), "--users", ",".join(manifest["users"]),
                "--from", manifest["from"], "--to", manifest["to"]]
    ops = RELATIONAL if workload == "relational_catalog" else EAGER
    return ["--data", str(work / "input"), "--ops", ",".join(ops)]


# ---- checks -------------------------------------------------------------

def check_catalog(result, work):
    """Failed ops of the checked pass: each result against its oracle."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work / 'tmp'}'")
    for p in sorted((work / "input").glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    oracle = result["oracle_sql"]
    failures = {}
    for op in result["ops"]:
        name = op["op"]
        if op["pass"] != 1 or "error" in op["observed"]:
            continue
        if name not in oracle:
            failures[name] = "no oracle SQL"
            continue
        files = sorted((work / "check" / name).glob("*.parquet"))
        if not files:
            failures[name] = "no checked output"
            continue
        s = pq.ParquetDataset([str(f) for f in files]).read().to_pandas()
        try:
            d = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # an oracle that cannot run checks nothing
            failures[name] = f"oracle error: {e}"
            continue
        s, d = s[sorted(s.columns)], d[sorted(d.columns)]
        if list(s.columns) != list(d.columns):
            failures[name] = f"columns {list(s.columns)} vs {list(d.columns)}"
        elif len(s) != len(d):
            failures[name] = f"rows {len(s)} vs {len(d)}"
        else:
            bad = [c for c in s.columns if not _column_equal(s[c], d[c])]
            if bad:
                failures[name] = f"values differ in {bad[:3]}"
    return failures


def _column_equal(a, b):
    """`tools/compare.py`'s per-column rule: floats exact, the rest as text."""
    import pandas as pd
    def norm(x):
        x = x.reset_index(drop=True)
        if str(x.dtype).startswith("datetime64") or x.dtype == object:
            x = x.astype(str)
        return x
    a, b = norm(a), norm(b)
    if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
        return bool((a.fillna(-1e308) == b.fillna(-1e308)).all())
    return bool((a.astype(str) == b.astype(str)).all())


def check_etl(result, manifest):
    """Failed op runs: every pass against the staged corpus's invariants."""
    failures = {}
    days_per_user = manifest["days_per_user"]
    backup = "mfp_db_backup_" + _next_day(manifest["to"])
    for op in result["ops"]:
        name, obs = op["op"], op["observed"]
        want = {}
        if name == "etl.load":
            want = {"changed": manifest["days"]}
        elif name == "etl.noop":
            want = {"changed": 0}
        elif name == "etl.incr":
            want = {"changed": manifest["mutated"]}
            if op["pass"] == 1:
                want.update(raw_days=manifest["days"],
                            water_bumped=manifest["mutated"])
        elif name.startswith("report.progress."):
            user = name[len("report.progress."):]
            want = {"rows": days_per_user, "table_rows": 7,
                    "calories_targets": [manifest["calories_goal"][user]]}
        elif name.startswith("report.nutrition."):
            want = {"rows": days_per_user}
        elif name == "backup":
            want = {"snapshots": [backup]}
        bad = {k: obs.get(k) for k, v in want.items() if obs.get(k) != v}
        if name.startswith("report.progress.") and not (
                obs.get("html_chars", 0) > 0 and obs.get("png_bytes", 0) > 0):
            bad["render"] = (obs.get("html_chars"), obs.get("png_bytes"))
        if bad:
            failures[(op["pass"], name)] = f"got {bad}, want {want}"
    return failures


def _next_day(iso):
    return (dt.date.fromisoformat(iso) + dt.timedelta(days=1)).isoformat()


# ---- metrics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Linear-interpolated percentile `p` (0-100) of `xs`."""
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] \
        if len(xs) > 1 else (xs[0] if xs else 0.0)


def timed_passes(result):
    return [p["pass"] for p in result["passes"] if p["timed"]]


def end_to_end(runs, manifest, stage_s):
    """`runs`: (result, spawn_ms) of each JVM, the one with warm passes last."""
    result = runs[-1][0]
    ops = [o for o in result["ops"] if "error" not in o["observed"]]
    timed = timed_passes(result)
    pass_wall = {p: sum(o["wall_s"] for o in ops if o["pass"] == p) for p in timed}
    cold = [sum(o["wall_s"] for o in r["ops"] if o["pass"] == 0) for r, _ in runs]
    # A query is one catalog query, or on etl_flow one user's reports
    # (progress with its rendering, then nutrition); its latency is its
    # median over the timed passes.
    etl = result["workload"] == "etl_flow"
    samples = {}
    for o in ops:
        if o["pass"] in timed and (not etl or o["op"].startswith("report.")):
            query = o["op"].split(".", 2)[2] if etl else o["op"]
            per_pass = samples.setdefault(query, {})
            per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_s"]
    queries = [median(list(v.values())) for v in samples.values()]
    start_s = [(r["first_op_ms"] - spawn_ms) / 1e3 for r, spawn_ms in runs]
    m = {
        "setup_s": (median(stage_s) + median(start_s), "s"),
        "pass_s": (median(list(pass_wall.values())), "s"),
        "cold_pass_s": (median(cold), "s"),
        "query_p50_s": (pct(queries, 50), "s"),
    }
    # Too few queries per run for a tail percentile to be steady: printed only.
    info = {"query_p90_s": (pct(queries, 90), "s"),
            "query_samples": (len(queries), "count"),
            "timed_passes": (len(timed), "count"),
            "cold_passes": (len(cold), "count"),
            "session_s": (median([(r["session_ready_ms"] - spawn_ms) / 1e3
                                  for r, spawn_ms in runs]), "s"),
            "stage_s": (median(stage_s), "s")}
    if etl:
        def op_median(name):
            return median([o["wall_s"] for o in ops
                           if o["pass"] in timed and o["op"] == name])
        info.update({
            "load_days_per_s": (manifest["days"] / op_median("etl.load"), "1/s"),
            "noop_s": (op_median("etl.noop"), "s"),
            "incr_s": (op_median("etl.incr"), "s"),
            "corpus_mb": (manifest["corpus_bytes"] / 1e6, "MB")})
    return m, info


def per_layer(result, manifest):
    cores = result["cores"]
    ops = result["ops"]
    traced = [p["pass"] for p in result["passes"] if p["traced"] and p["timed"]]
    # Pass 1 carries the output checks: the overhead compares the traced
    # timed passes with the untraced timed ones after it.
    untraced = [p["pass"] for p in result["passes"]
                if not p["traced"] and p["timed"] and p["pass"] > 1]
    recs = result["trace_records"]

    def wall(p, pred=lambda o: True):
        return sum(o["wall_s"] for o in ops if o["pass"] == p and pred(o))

    def phase_s(p, phase):
        return sum(o["phases"].get(phase, 0.0) for o in ops if o["pass"] == p)

    def count(p, field, pred):
        return sum(r[field] for r in recs if r["pass"] == p and pred(r))

    def per_pass(f):
        return median([f(p) for p in traced])

    def in_phase(phase):
        return lambda r: r["phase"] == phase

    def in_file(name):
        return lambda r: r["file"] == name

    def in_ops(prefix):
        return lambda r: r["op"].startswith(prefix)

    mb = 1e6
    m = {}
    m["build.s"] = (per_pass(lambda p: phase_s(p, "build")), "s")
    m["build.jobs"] = (per_pass(lambda p: count(p, "jobs", in_phase("build"))), "count")
    m["build.task_s"] = (per_pass(lambda p: count(p, "task_ms", in_phase("build")) / 1e3), "s")
    m["build.share"] = (per_pass(lambda p: phase_s(p, "build") / wall(p)), "ratio")
    m["plan.s"] = (per_pass(lambda p: phase_s(p, "plan")), "s")
    checked = [o for o in ops if o["pass"] == 1]
    m["plan.exchanges"] = (sum(o["observed"].get("exchanges", 0) for o in checked), "count")
    m["plan.broadcasts"] = (sum(o["observed"].get("broadcasts", 0) for o in checked), "count")
    ex = in_phase("exec")
    m["exec.s"] = (per_pass(lambda p: phase_s(p, "exec")), "s")
    for name, field in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks")):
        m[f"exec.{name}"] = (per_pass(lambda p: count(p, field, ex)), "count")
    m["exec.task_s"] = (per_pass(lambda p: count(p, "task_ms", ex) / 1e3), "s")
    m["exec.util"] = (per_pass(lambda p: count(p, "task_ms", ex) / 1e3
                               / max(phase_s(p, "exec") * cores, 1e-9)), "ratio")
    m["exec.one_task_stage_share"] = (per_pass(
        lambda p: count(p, "one_task_stages", ex) / max(count(p, "stages", ex), 1)), "ratio")
    m["exec.shuffle_mb"] = (per_pass(lambda p: count(p, "shuffle_write_bytes", ex) / mb), "MB")
    m["exec.spill_mb"] = (per_pass(lambda p: count(p, "spill_bytes", ex) / mb), "MB")
    cold = {o["op"]: o["wall_s"] for o in ops if o["pass"] == 0}
    timed = timed_passes(result)
    warm_op = {}
    for o in ops:
        if o["pass"] in timed:
            warm_op.setdefault(o["op"], []).append(o["wall_s"])
    m["firstrun.extra_s"] = (sum(cold[k] - median(v) for k, v in warm_op.items()
                                 if k in cold), "s")
    jvm = result["jvm_cold"]
    m["jvm.classes_loaded"] = (jvm["classes_loaded"], "count")
    m["jvm.jit_s"] = (jvm["jit_ms"] / 1e3, "s")
    m["jvm.gc_s"] = (jvm["gc_ms"] / 1e3, "s")
    m["spark.codegen_compiles"] = (jvm["codegen_compiles"], "count")
    ts = in_file("TableStore")
    m["TableStore.jobs"] = (per_pass(lambda p: count(p, "jobs", ts)), "count")
    m["TableStore.write_mb"] = (per_pass(lambda p: count(p, "output_bytes", ts) / mb), "MB")
    incr_days = manifest.get("mutated_day_bytes", 0)
    m["TableStore.write_amp"] = (per_pass(
        lambda p: count(p, "output_bytes", lambda r: ts(r) and r["op"] == "etl.incr")
        / incr_days) if incr_days else 0.0, "ratio")
    m["EtlPipeline.jobs"] = (per_pass(lambda p: count(p, "jobs", in_file("EtlPipeline"))), "count")
    m["EtlPipeline.read_mb"] = (per_pass(lambda p: count(p, "input_bytes", in_ops("etl.")) / mb), "MB")
    incr = [o["observed"].get("changed") for o in ops if o["op"] == "etl.incr"]
    m["EtlPipeline.diff_ratio"] = ((incr[0] / manifest["days"]) if incr else 0.0, "ratio")
    m["reports.jobs"] = (per_pass(lambda p: count(p, "jobs", in_ops("report."))), "count")
    backups = [o["observed"].get("backup_bytes", 0) for o in ops if o["op"] == "backup"]
    m["backup.mb"] = (median(backups) / mb if backups else 0.0, "MB")
    vi = in_file("VectorIndex")
    m["VectorIndex.jobs"] = (per_pass(lambda p: count(p, "jobs", vi)), "count")
    m["VectorIndex.write_mb"] = (per_pass(lambda p: count(p, "output_bytes", vi) / mb), "MB")
    m["VectorIndex.files"] = (result["vindex_files"], "count")
    m["store.mb"] = (median([p["store_bytes"] for p in result["passes"]
                             if p["timed"]]) / mb, "MB")
    m["untagged.jobs"] = (sum(r["jobs"] for r in recs if r["phase"] == "untagged"), "count")
    m["trace.overhead_share"] = (
        median([wall(p) for p in traced]) / median([wall(p) for p in untraced]) - 1
        if traced and untraced else 0.0, "ratio")

    # Layer times that exist on one workload only: printed, not in the JSON.
    info = {
        "reports.query_s": (per_pass(lambda p: sum(
            o["phases"].get(k, 0.0) for o in ops if o["pass"] == p
            and o["op"].startswith("report.") for k in ("build", "plan", "exec"))), "s"),
        "reports.render_s": (per_pass(lambda p: sum(
            o["phases"].get("render", 0.0) for o in ops if o["pass"] == p)), "s"),
        "backup.s": (per_pass(lambda p: wall(p, lambda o: o["op"] == "backup")), "s"),
        "VectorIndex.search_s": (per_pass(lambda p: wall(
            p, lambda o: "search" in o["op"])), "s"),
        "VectorIndex.maintain_s": (per_pass(lambda p: wall(
            p, lambda o: o["op"].endswith("_stored") and "search" not in o["op"])), "s"),
        "trace.jobs_total": (result["trace_jobs_total"], "count"),
        "selfcheck.jobs_unaccounted": (
            result["trace_jobs_total"] - sum(r["jobs"] for r in recs), "count"),
        "selfcheck.max_phase_gap_s": (max(
            abs(o["wall_s"] - sum(o["phases"].values())) for o in ops), "s"),
    }
    modules = {}
    for r in recs:
        if r["pass"] in traced:
            modules[r["module"]] = modules.get(r["module"], 0) + r["jobs"]
    for k, v in sorted(modules.items()):
        info[f"module.{k}.jobs"] = (v / max(len(traced), 1), "count")
    return m, info


def run_jvm(cmd, work, deadline):
    """Runs one measured JVM to its end. Returns (result, spawn_ms)."""
    out = work / "result.json"
    log_path = work / "jvm.log"
    timeout = deadline - time.perf_counter()
    spawn_ms = time.time() * 1e3
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--out", str(out)], cwd=work, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            fail(f"measured JVM still running after {timeout:.0f} s; log: {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not out.exists():
        print(log_path.read_text()[-4000:], file=sys.stderr)
        fail(f"measured JVM exited with {code}; log: {log_path}")
    return json.loads(out.read_text()), spawn_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    classes = build(spark_jars_dir := spark_jars())
    started = time.perf_counter()
    deadline = started + RUN_LIMIT_S - CHECK_RESERVE_S
    plan = PLAN[args.workload]
    work = BUILD / "work" / args.workload
    stage_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        manifest = stage(args.workload, args.seed, work)
        stage_s.append(time.perf_counter() - t0)

    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:-UsePerfData", "-Djava.awt.headless=true",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{classes}{os.pathsep}{spark_jars_dir}/*", "perfbench.Main",
              "--workload", args.workload, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores),
              "--warmup", str(plan["warmup"]), "--work", str(work)]
           + jvm_args(args.workload, manifest, work))
    # The traced run measures layers, not the cold pass: one JVM.
    cold_jvms = 1 if args.trace else plan["cold_jvms"]
    runs = []
    ticks0 = cpu_ticks()
    for j in range(cold_jvms):
        if j:
            t0 = time.perf_counter()
            stage(args.workload, args.seed, work)
            stage_s.append(time.perf_counter() - t0)
        min_timed = plan["min_timed"] + 2 * args.trace if j == cold_jvms - 1 else 0
        runs.append(run_jvm(cmd + ["--min-timed", str(min_timed)], work, deadline))
    ticks1 = cpu_ticks()
    result = runs[-1][0]

    failures = {(j, o["pass"], o["op"]): o["observed"]["error"]
                for j, (r, _) in enumerate(runs) for o in r["ops"]
                if "error" in o["observed"]}
    last = len(runs) - 1
    if args.workload == "etl_flow":
        failures.update({(last,) + k: v for k, v in check_etl(result, manifest).items()})
    else:
        failures.update({(last, 1, k): v for k, v in check_catalog(result, work).items()})
    attempted = sum(len(r["ops"]) for r, _ in runs)

    e2e, e2e_info = end_to_end(runs, manifest, stage_s)
    layer, layer_info = per_layer(result, manifest) if args.trace else ({}, {})
    e2e_info["fail_ratio"] = (len(failures) / attempted, "ratio")
    # Share of the machine's CPU time its hypervisor gave to others while the
    # measured JVMs ran: the usual cause of a slow run on a shared host.
    e2e_info["host_steal_share"] = (
        (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1), "ratio")
    lines = [f"{k} {v:.6g} {u}" for k, (v, u) in
             list(e2e.items()) + list(e2e_info.items()) + list(layer.items())
             + list(layer_info.items())]
    lines += [f"# failed jvm {j} pass {p} {op}: {why}"
              for (j, p, op), why in sorted(failures.items())]
    results_dir = BUILD / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    (results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.txt").write_text(
        "\n".join(lines) + "\n")
    for line in lines:
        print(line)
    metrics = layer if args.trace else e2e
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
