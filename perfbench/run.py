#!/usr/bin/env python3
"""Benchmark of the movie-database import engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (README.md describes each one's fixed work, checks and metrics):

* ``corpus``    - one ``CorpusBuild.run`` plus materializing its result.
* ``pipelines`` - the import's three pipelines and the 15-table JDBC load
                  into in-memory Derby, from Kaggle-layout CSVs whose
                  columns are bound by header name.
* ``queries``   - the first N_QUERIES of a fixed, module-stratified sample
                  of the operator registry, run one after another. Not in
                  BENCHMARK.json: with 22 runs per listed workload, a
                  third workload does not fit the benchmark's time budget.
* ``import``    - ``MovieDbImport.run`` on the ``pipelines`` CSVs. Not in
                  BENCHMARK.json: ``EtlKit.readCsv`` binds columns by
                  position, so on Kaggle-layout files the load is wrong and
                  the run reports its operation as failed, with the reason.

Each run builds the program if needed (sbt, first run only), generates its
inputs from the seed, sets up Spark SETUPS times (set-up-only JVMs, then
the measuring JVM; ``setup_s`` is their median) and does the workload's
fixed work once in the measuring JVM. ``--seconds`` is recorded but does
not change the work: see README.md. Outputs are checked against the
generator's expectations or DuckDB. The last stdout line is the summary
JSON; the line before it is the run record.
"""
import argparse
import csv
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

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
MAIN = "perfbench.Main"

# Input sizes. The tables follow the project's testdata layout and the CSVs
# the reference's, both scaled down: at these sizes the work is mostly
# per-job overhead (halving the corpus barely changes its time), and a run
# must fit its share of the benchmark's time budget.
QUERIES_SF = 0.01
CORPUS_SF = 0.01
SAMPLE_SIZE = 120
# A run executes the first N_QUERIES of one fixed stratified sample. A
# per-seed sample of the dozen queries a run has time for would make the
# figures depend on which queries were drawn more than on the program; the
# seed drives the data instead.
SAMPLE_SEED = 0
N_QUERIES = 10
CORES = 4
N_MOVIES = 1000
RATINGS_PER_MOVIE = 40
SETUPS = 3
# A run must end within 180 s (the first one in a checkout also builds).
RUN_BUDGET_S = 165

# Wall time of the work is in the run record but not here: host steal on a
# shared VM moved it by a quarter between runs minutes apart, while the
# kernel leaves stolen time out of the process's CPU time.
E2E = ["setup_s", "work_cpu_s", "peak_rss_mb"]
LAYERS = [
    "parse.cells_per_s",
    "etl.ratings_s", "etl.movies_s", "etl.credits_s", "etl.keywords_s",
    "sink.jdbc_s", "sink.jdbc_rows_per_s", "sink.jdbc_rows",
    "sink.doremi_s", "sink.build_s", "sink.publish_mb", "sink.publish_files",
    "ops.construct_s", "ops.construct_jobs", "ops.memo_artifacts", "ops.memo_mb",
    "plans.plan_s",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.job_overhead_ms_p50", "spark.core_busy_frac", "spark.task_cpu_frac",
    "spark.shuffle_mb",
]
WORKLOADS = ["corpus", "pipelines", "queries", "import"]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    return "count"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile the program and the harness with sbt (once per source
    state) and dump the query registry."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no program sources here (build.sbt, src/main/scala); run from the repository root")
    fp = _fingerprint()
    stamp = os.path.join(BUILD, "fingerprint")
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return json.load(open(os.path.join(BUILD, "build.json")))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    # keep the build's temp files (sbt's socket dir, JVM perf data, shell
    # here-documents) inside the checkout
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        try:
            rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
                                "export harness/Runtime/fullClasspath"],
                               850, cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=log,
                               text=True)
        except subprocess.TimeoutExpired:
            die(f"sbt build timed out; see {BUILD}/sbt.log", 3)
        log.write(out)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        die(f"sbt build failed (exit {rc}); see {BUILD}/sbt.log", 3)
    info = {"classpath": lines[-1].strip(), "build_s": time.time() - t0}
    reg = os.path.join(BUILD, "registry.json")
    java(info["classpath"], ["registry", reg], os.path.join(BUILD, "tmp"),
         os.path.join(BUILD, "registry.log"), 120)
    with open(os.path.join(BUILD, "build.json"), "w") as f:
        json.dump(info, f)
    with open(stamp, "w") as f:
        f.write(fp)
    return info


def run_proc(cmd, timeout, **kw):
    """subprocess.run in its own process group; on timeout, or when this
    script is interrupted, the whole group is killed and reaped, so nothing
    the run started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def java(classpath, args, work, log_path, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed heap size keeps peak RSS from following the collector's
    # resizing decisions; -UsePerfData: no hsperfdata files outside the
    # work dir.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dderby.system.home={work}/derby",
            f"-Dgraft.scratch.dir={work}/scratch/session",
            "-cp", classpath, MAIN] + args
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    env["TMPDIR"] = os.path.join(work, "tmp")
    with open(log_path, "w") as log:
        try:
            rc, _ = run_proc(cmd, timeout, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as log:
            tail = "".join(log.readlines()[-15:])
        die(f"JVM {' '.join(args[:2])} failed ({rc}); last log lines:\n{tail}", 4)


# ---- sampling and statistics ---------------------------------------------

def stratified_sample(registry, seed, n):
    """Draw >= n queries, each module contributing in proportion to its
    size (largest remainder, at least one each), ordered so that every
    prefix of the list stays close to those proportions."""
    by_mod = {}
    for q in registry:
        by_mod.setdefault(q["module"], []).append(q["name"])
    mods = sorted(by_mod)
    total = sum(len(v) for v in by_mod.values())
    n = min(max(n, len(mods)), total)
    exact = {m: n * len(by_mod[m]) / total for m in mods}
    quota = {m: max(1, int(exact[m])) for m in mods}
    for m in sorted(mods, key=lambda m: (int(exact[m]) - exact[m], m)):
        if sum(quota.values()) >= n:
            break
        if quota[m] < len(by_mod[m]):
            quota[m] += 1
    rng = random.Random(seed)
    keyed = []
    for m in mods:
        picks = rng.sample(sorted(by_mod[m]), quota[m])
        for k, name in enumerate(picks):
            keyed.append(((k + rng.random()) / quota[m], name))
    return [name for _, name in sorted(keyed)]


def quantile(values, q):
    """Linear-interpolation quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest of p50/p75/p90/p95/p99 that leaves at least ten samples
    beyond it, or None when there are fewer than twenty samples."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


# ---- output checks -------------------------------------------------------

def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    try:
        x, y = float(a), float(b)
    except (TypeError, ValueError):
        return str(a) == str(b)
    return abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))


def check_import(op, expected):
    """Reasons the 15-table load in `op` differs from the generator's
    expectations (empty when it matches)."""
    if "error" in op:
        return [f"error: {op['error']}"]
    if "check_error" in op:
        return [f"check error: {op['check_error']}"]
    bad = []
    for t in gen.TABLES:
        got, want = op["counts"].get(t), expected["counts"][t]
        if got != want:
            bad.append(f"{t} rows {got} != {want}")
    for fk, n in sorted(op["fk_orphans"].items()):
        if n:
            bad.append(f"{fk}: {n} orphan rows")
    for mid, want in sorted(expected["ratings"].items()):
        got = op["ratings"].get(mid)
        if not _close(got, want):
            bad.append(f"rating of movie {mid}: {got} != {want}")
    return bad


def duck(data_dir):
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    return con


def check_queries(ops, registry, data_dir):
    oracle = {q["name"]: q["oracle"] for q in registry}
    con = duck(data_dir)
    for op in ops:
        if "error" in op:
            op["fail"] = f"error: {op['error']}"
            continue
        sql = oracle.get(op["name"])
        if sql is None:
            if op["rows"] <= 0:
                op["fail"] = "no oracle and no rows"
            continue
        try:
            want = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
        except duckdb.Error as e:
            op["fail"] = f"oracle error: {str(e)[:200]}"
            continue
        op["oracle_rows"] = want
        if op["rows"] != want:
            op["fail"] = f"rows {op['rows']} != oracle {want}"


def check_corpus(ops, registry, data_dir):
    sql = {q["name"]: q["oracle"] for q in registry}["q299_corpus_build"]
    try:
        cur = duck(data_dir).execute(sql)
    except duckdb.Error as e:
        for op in ops:
            op["fail"] = f"oracle error: {str(e)[:200]}"
        return
    cols = [d[0] for d in cur.description]
    want = sorted((dict(zip(cols, r)) for r in cur.fetchall()), key=lambda r: r["source"])
    for op in ops:
        if "error" in op:
            op["fail"] = f"error: {op['error']}"
            continue
        got = sorted((dict(zip(op["columns"], r)) for r in op["result"]),
                     key=lambda r: r["source"])
        if len(got) != len(want):
            op["fail"] = f"{len(got)} sources != oracle {len(want)}"
            continue
        for g, w in zip(got, want):
            diff = [c for c in cols if not _close(g.get(c), w[c])]
            if diff:
                op["fail"] = f"source {w['source']}: {diff[0]} {g.get(diff[0])} != {w[diff[0]]}"
                break


def positional_binding(data_dir, schemas):
    """EtlKit.readCsv applies its schema by column position and ignores the
    header; list every file whose header does not start with the schema's
    columns, naming the file column each schema column really reads."""
    notes = []
    for f, cols in sorted(schemas.items()):
        with open(os.path.join(data_dir, f), encoding="utf-8") as fh:
            header = next(csv.reader(fh))
        wrong = [f"'{c}' reads '{h}'" for c, h in zip(cols, header) if c != h]
        if wrong:
            notes.append(f"{f}: schema bound by position, " + ", ".join(wrong))
    return notes


def check(workload, ops, data):
    """Marks each failing operation with op["fail"]; returns notes that
    explain a failure the checks can attribute."""
    registry = json.load(open(os.path.join(BUILD, "registry.json")))
    if workload == "queries":
        check_queries(ops, registry["queries"], data)
    elif workload == "corpus":
        check_corpus(ops, registry["queries"], data)
    else:
        expected = json.load(open(os.path.join(data, "expected.json")))
        for op in ops:
            bad = check_import(op, expected)
            if bad:
                op["fail"] = "; ".join(bad[:4]) + (f"; +{len(bad) - 4} more" if len(bad) > 4 else "")
        if workload == "import" and any("fail" in op for op in ops):
            return positional_binding(data, registry["csv_schemas"])
    return []


# ---- metrics -------------------------------------------------------------

def e2e_metrics(setups, res):
    walls = [op["wall_s"] for op in res["ops"]]
    return {
        "setup_s": statistics.median(setups),
        "work_s": sum(walls),
        "work_cpu_s": sum(op["cpu_s"] for op in res["ops"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layer_metrics(res):
    """Per-layer figures of one traced run (all of its operations)."""
    ops = res["ops"]
    span = res.get("span_s", {})
    lst = res.get("listener", {})
    wall = sum(op["wall_s"] for op in ops)
    jdbc_s = sum(op.get("jdbc_s", 0.0) for op in ops)
    jdbc_rows = sum(op.get("jdbc_rows", 0) for op in ops)
    return {
        "parse.cells_per_s": res.get("parse_cells_per_s", 0.0),
        "etl.ratings_s": span.get("etl.ratings", 0.0),
        "etl.movies_s": span.get("etl.movies", 0.0),
        "etl.credits_s": span.get("etl.credits", 0.0),
        "etl.keywords_s": span.get("etl.keywords", 0.0),
        "sink.jdbc_s": jdbc_s,
        "sink.jdbc_rows_per_s": jdbc_rows / jdbc_s if jdbc_s else 0.0,
        "sink.jdbc_rows": jdbc_rows,
        "sink.doremi_s": span.get("sink.doremi", 0.0),
        "sink.build_s": span.get("sink.build", 0.0),
        "sink.publish_mb": sum(op.get("publish_mb", 0.0) for op in ops),
        "sink.publish_files": sum(op.get("publish_files", 0) for op in ops),
        "ops.construct_s": span.get("ops.construct", 0.0),
        "ops.construct_jobs": lst.get("construct_jobs", 0),
        "ops.memo_artifacts": res.get("memo_artifacts", 0),
        "ops.memo_mb": res.get("memo_mb", 0.0),
        "plans.plan_s": span.get("plans.plan", 0.0),
        "spark.exec_s": lst.get("exec_s", 0.0),
        "spark.jobs": lst.get("jobs", 0),
        "spark.stages": lst.get("stages", 0),
        "spark.tasks": lst.get("tasks", 0),
        "spark.job_overhead_ms_p50": lst.get("job_overhead_ms_p50", 0.0),
        "spark.core_busy_frac": lst.get("task_run_s", 0.0) / (wall * CORES) if wall else 0.0,
        "spark.task_cpu_frac": (lst.get("task_cpu_s", 0.0) / lst["task_run_s"]
                                if lst.get("task_run_s") else 0.0),
        "spark.shuffle_mb": lst.get("shuffle_mb", 0.0),
    }


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- main ----------------------------------------------------------------

def prepare(workload, seed, work):
    """Generate the run's inputs (outside every timed region) and its plan
    file; returns (data dir, plan lines, input facts)."""
    data = os.path.join(work, "input")
    if workload == "queries":
        facts = gen.tables(data, seed, QUERIES_SF)
        registry = json.load(open(os.path.join(BUILD, "registry.json")))["queries"]
        plan = stratified_sample(registry, SAMPLE_SEED, SAMPLE_SIZE)[:N_QUERIES]
    elif workload == "corpus":
        facts = gen.tables(data, seed, CORPUS_SF)
        plan = []
    else:
        facts = gen.kaggle(data, seed, N_MOVIES, RATINGS_PER_MOVIE)
        plan = sorted(facts["ratings"])
        facts = {"n_movies": facts["n_movies"], "n_ratings": facts["n_ratings"],
                 "expected_rows": sum(facts["counts"].values())}
    return data, plan, facts


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    build = ensure_built()
    deadline = time.time() + RUN_BUDGET_S
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, plan, facts = prepare(a.workload, a.seed, work)
        plan_path = os.path.join(work, "plan.txt")
        with open(plan_path, "w") as f:
            f.write("\n".join(plan) + "\n")
        setups = []
        for i in range(SETUPS - 1):
            pw = os.path.join(work, f"probe{i}")
            out = os.path.join(pw, "setup.json")
            java(build["classpath"], ["setup", pw, out], pw, os.path.join(work, f"probe{i}.log"),
                 deadline - time.time())
            setups.append(json.load(open(out))["setup_s"])
        out = os.path.join(work, "result.json")
        java(build["classpath"], ["run", a.workload, data, work, plan_path, str(a.trace), out],
             work, os.path.join(work, "run.log"), deadline - time.time())
        res = json.load(open(out))
        setups.append(res["setup_s"])

        ops = res["ops"]
        notes = check(a.workload, ops, data)
        failed = [op for op in ops if "fail" in op]
        e2e = e2e_metrics(setups, res)
        walls = [op["wall_s"] for op in ops]
        tail = tail_percentile(len(walls))
        record = {
            "record": "perfbench", "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "inputs": facts, "nproc": os.cpu_count(),
            "master": res["master"], "git_sha": git_sha(), "spark": res["spark_version"],
            "jdk": res["java_version"], "derby": "embedded, in-memory, one fresh database per operation",
            "cold": "fresh JVM, fresh scratch and work dirs; memo dirs empty at start",
            "loop": "closed loop, one client",
            "setup_s_each": setups, "session_s": res["session_s"], "setup_cpu_s": res["setup_cpu_s"],
            "work_host_steal_s": res["run_host_steal_s"],
            "ops": len(ops), "failed": len(failed),
            "failures": [f"{op.get('name', i)}: {op['fail']}" for i, op in enumerate(ops)
                         if "fail" in op][:5],
            "op_wall_s": walls, "op_p50_s": statistics.median(walls),
            f"op_p{tail}_s" if tail else "op_tail_s": quantile(walls, tail / 100) if tail else None,
            "e2e": e2e,
        }
        if notes:
            record["diagnosis"] = notes
        if a.workload == "queries":
            record["queries_run"] = [op["name"] for op in ops]
            record["construct_s_p50"] = statistics.median(op["construct_s"] for op in ops)
        if a.trace:
            layers = layer_metrics(res)
            record["label_s"] = res["listener"]["label_s"]
            with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"record": record, "spans": res["spans"], "layers": layers}, f)
            metrics = {k: {"value": layers[k], "unit": unit(k)} for k in LAYERS}
        else:
            metrics = {k: {"value": e2e[k], "unit": unit(k)} for k in E2E}
        print(json.dumps(record, separators=(",", ":")))
        print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                          "metrics": metrics}, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _interrupted(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _interrupted)
    main()
