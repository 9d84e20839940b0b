#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
harness (`perfbench/build.sbt`, sbt offline) under `.bench_build/`, and
rebuilds only when a Scala source or build file changes. The fixed
datasets are generated by `perfbench/gen.py` on first use and again only
when gen.py changes (sf1 only for warehouse_sf1).

Workloads (one JVM each, `local[n]` with n = nproc, one closed-loop client;
a query op writes its result to the noop sink):
  etl_backfill    both reference DAGs through `pipeline.BatchRunner`, one op
                  per pipeline and date, over daily CSVs and events generated
                  from the seed; the warm-up pass runs the first dates and
                  each timed pass resumes from the warehouse it left; checked
                  against values the generator derives
  warehouse_sf1   join, struct and sketch queries at sf1 (warm-up and output
                  check at sf0.1, from the same generator)
  iterative_sf01  the graph / iterative dedup family at sf0.1
  cold_build      artifact-building queries and a StreamRunner ingest against
                  the process's empty artifact stores: at least two cold
                  passes, each over its own copy of the dataset, each
                  followed by a reuse pass
Query outputs are checked against DuckDB running `SparkEntry.oracleSql`.
BENCHMARK.json gates etl_backfill and cold_build; the other two run on
demand (a run of each costs about a minute of fixed JVM warm-up).

The last stdout line is the result: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer ones with
`--trace 1`, as listed in BENCHMARK.json). Every op execution is also
written to `.bench_build/records/<workload>-seed<N>-trace<T>.jsonl`,
followed by one run summary line carrying the sources' fingerprint. A
traced run reports its tracing overhead against the untraced record of the
same seed and fingerprint, or "no baseline".
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD = ".bench_build"
CDS = os.path.abspath(os.path.join(BUILD, "classes.jsa"))
WORKLOADS = ["etl_backfill", "warehouse_sf1", "iterative_sf01", "cold_build"]
# timed dataset, and the dataset of the warm-up pass whose outputs are checked
DATA = {"warehouse_sf1": ("sf1", "sf0.1"), "iterative_sf01": ("sf0.1", "sf0.1"),
        "cold_build": ("sf0.01", "sf0.01")}
# etl_backfill: daily rows, warm-up dates, then timed dates per pass. At
# 300k rows about half of an op's latency grows with the rows (the rest is
# its fixed job and commit cost); five timed dates keep a run near 45 s.
ETL_ROWS, ETL_WARMUP_DAYS, ETL_DAYS = 300000, 3, 5
HEAP = "3g"
JVM_ALLOWANCE_S = 150
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# name -> unit; the per-layer names are the ones BENCHMARK.json lists
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
              "peak_rss_mb": "MB"}
MODULES = ["SearchHistory", "Transactions", "Relational", "Reporting", "Curation",
           "Dedup", "Similarity", "TextAnalysis", "Multimodal", "Crawl", "EventTime"]
PIPE_STAGES = ["load_raw", "typed_append", "daily_top1", "unpack_stage", "final_append"]


def per_layer_units():
    u = {"Sessions.base_s": "s"}
    for m in MODULES:
        u[f"operators.{m}.call_s"] = "s"
        u[f"operators.{m}.eager_jobs"] = "count"
    u.update({"catalyst.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
              "spark.tasks": "count", "driver.outside_jobs_s": "s",
              "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
              "spark.core_busy_frac": "ratio", "spark.task_failures": "count",
              "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
              "spark.spill_bytes": "bytes", "cache.rdds_left": "count",
              "cache.peak_bytes": "bytes"})
    for s in PIPE_STAGES:
        u[f"pipeline.{s}_s"] = "s"
    u.update({"pipeline.retries": "count", "warehouse.bytes_written": "bytes",
              "warehouse.files_written": "count", "warehouse.bytes_scanned": "bytes",
              "sources.CsvSource.rows_read": "count", "artifacts.built": "count",
              "artifacts.reused": "count", "artifacts.reuse_ratio": "ratio",
              "artifacts.store_bytes": "bytes", "artifacts.debris": "count",
              "streaming.micro_batches": "count", "streaming.batch_s": "s",
              "streaming.rows": "count", "ingest_rows_per_s": "1/s", "write_amp": "ratio",
              "reuse_s": "s", "failed_ratio": "ratio"})
    for k in ("unattributed", "spark.jobs", "catalyst.plan", "execute"):
        u[f"self.{k}_s"] = "s"
    return u


PER_LAYER = per_layer_units()


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def digest(files):
    h = hashlib.sha1()
    for f in sorted(files):
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def code_files():
    """What the classpath is compiled from: the library, the harness and
    their build definitions."""
    return (glob.glob("src/main/**/*.scala", recursive=True)
            + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
            + glob.glob("*.sbt") + glob.glob("project/*.sbt")
            + glob.glob("project/build.properties")
            + glob.glob(os.path.join(HERE, "*.sbt"))
            + glob.glob(os.path.join(HERE, "project", "build.properties")))


def run_fingerprint():
    """Everything a run's numbers depend on; stored in each run record."""
    return digest(code_files() + glob.glob(os.path.join(HERE, "*.py")))


def stamped(stamp, fp, make):
    """Run `make` unless `stamp` already holds `fp`, then stamp it."""
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    make()
    with open(stamp, "w") as f:
        f.write(fp)


def dataset(name):
    """Absolute path of a generated dataset (`sf<scale>` or `landing`),
    generated on first use and again only when gen.py changes: the
    datasets do not depend on the library under test."""
    path = os.path.abspath(os.path.join(BUILD, "data", name))

    def make():
        import gen
        t0 = time.time()
        shutil.rmtree(path, ignore_errors=True)
        if name == "landing":
            expect = gen.backfill(path, 0, 4, 5000)
            with open(os.path.join(path, "expect.json"), "w") as f:
                json.dump(expect, f)
        else:
            gen.warehouse(path, float(name[2:]))
        log(f"generated {name} in {time.time() - t0:.1f}s")

    os.makedirs(os.path.dirname(path), exist_ok=True)
    stamped(path + ".stamp", digest([os.path.join(HERE, "gen.py")]), make)
    return path


def java_cmd(cp, tmp, main, args, jvm=None):
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    # a fixed-size heap: the resident set then follows what the workload
    # retains, not the collector's resizing decisions
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + jvm + opens
            + [f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
               "-cp", cp, main] + args)


def train_cds(cp, cores):
    """Archive the classes the workloads load (JVM class-data sharing),
    from one training JVM running a few queries at sf0.01 and a two-day
    backfill: it halves JVM and session start-up in every later run."""
    import gen
    run = os.path.abspath(os.path.join(BUILD, "train"))
    shutil.rmtree(run, ignore_errors=True)
    expect = gen.backfill(os.path.join(run, "etl"), 0, 2, 1000)
    args = ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "1",
            "--cores", str(cores), "--out", os.path.join(run, "out"), "--start-ms", "0",
            "--data", dataset("sf0.01"), "--ops", "q3_join_topk,evt_sessions,pipe_lake_health",
            "--etl-data", os.path.join(run, "etl"),
            "--dates", ",".join(expect["search_dates"]),
            "--tx-dates", ",".join(expect["tx_dates"]), "--warmup-days", "1"]
    if os.path.exists(CDS):
        os.remove(CDS)
    r = subprocess.run(java_cmd(cp, os.path.join(run, "tmp"), "graft.perf.Main", args,
                                jvm=[f"-XX:ArchiveClassesAtExit={CDS}"]),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(run, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("training run failed", 3)


def ensure_build(cores):
    """Compile library + harness and train the class-data archive, once per
    fingerprint of the Scala sources and build files."""
    cp_file = os.path.join(BUILD, "classpath.txt")

    def make():
        t0 = time.time()
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspathAsJars"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed", 3)
        cp = lines[-1].strip()
        train_cds(cp, cores)
        with open(cp_file, "w") as f:
            f.write(cp)
        log(f"built in {time.time() - t0:.1f}s")

    os.makedirs(BUILD, exist_ok=True)
    stamped(os.path.join(BUILD, "stamp"), digest(code_files()), make)
    return open(cp_file).read().strip()


# ------------------------------------------------------------------ checks

def load_oracle_module():
    spec = importlib.util.spec_from_file_location("oracle_check", "scripts/oracle_check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(data_dir, out_dir, names, cores):
    """Ops whose Spark output differs from DuckDB running the query's
    `SparkEntry.oracleSql` on the same inputs (oracle_check.py's
    normalization). A query without an oracle must return rows."""
    import duckdb
    import pandas as pd
    oc = load_oracle_module()
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads={cores}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    bad = {}
    for name in names:
        try:
            got = pd.read_parquet(os.path.join(out_dir, "verify", f"{name}.parquet"))
        except Exception as e:
            bad[name] = f"no spark output ({e})"
            continue
        if name == "stream_search_upsert":
            with open(os.path.join(dataset("landing"), "expect.json")) as f:
                want = json.load(f)["dated_rows"]
            rows = {str(r.ds): int(r["count"]) for _, r in got.iterrows()}
            if rows != want:
                bad[name] = f"per-day rows {rows} != {want}"
            continue
        if name not in sqls:
            if len(got) == 0:
                bad[name] = "no oracle and no rows"
            continue
        try:
            want = con.sql(sqls[name]).fetchdf()
            g, w = oc.normalize(got), oc.normalize(want)
            pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
        except Exception as e:
            bad[name] = str(e)[:300]
    return bad


def etl_failures(summary, expect):
    """Map op name -> reason for every timed op whose pass left a
    warehouse that disagrees with what the generator derived."""
    bad = {}
    for p in summary["passes"]:
        c = p.get("check") or {}
        for op in p["ops_order"]:
            why = None
            if op.startswith("search_history@"):
                d = op.split("@")[1]
                if c.get("top1", {}).get(d) != expect["top1"][d]:
                    why = f"top1 {c.get('top1', {}).get(d)} != {expect['top1'][d]}"
                for k in ("null_counts", "null_users", "search_rows"):
                    if c.get(k) != expect[k]:
                        why = f"{k} {c.get(k)} != {expect[k]}"
            elif c.get("tx_rows") != expect["tx_rows"]:
                why = f"tx_rows {c.get('tx_rows')} != {expect['tx_rows']}"
            if why:
                bad[(p["pass"], op)] = why
    return bad


# ----------------------------------------------------------------- metrics

def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_q(n):
    """p90, or the highest 5%-step percentile with ten samples beyond it."""
    q = 0.90
    while q > 0.5 and n * (1 - q) < 10:
        q -= 0.05
    return round(q, 2)


def metrics_of(summary, failed_ops, cap):
    """End-to-end metrics; a failed op's latency counts as `cap`."""
    timed = [p for p in summary["passes"] if p["kind"] == "timed"]
    lats = []
    for p in timed:
        for op, lat in zip(p["ops_order"], p["latencies"]):
            lats.append(cap if (p["pass"], op) in failed_ops or op in failed_ops else lat)
    q = tail_q(len(lats))
    e2e = {"setup_s": summary["setup_s"],
           "pass_s": statistics.median(p["pass_s"] for p in timed),
           "op_p50_s": percentile(lats, 0.5),
           "op_p90_s": percentile(lats, q),
           "peak_rss_mb": summary["peak_rss_mb"]}
    info = {"op_p90_percentile": q, "op_samples": len(lats)}
    reuse = [p["pass_s"] for p in summary["passes"] if p["kind"] == "reuse"]
    if reuse:
        info["reuse_s"] = statistics.median(reuse)
    return e2e, info


def layer_metrics(summary, extra):
    """Median over the traced timed passes of each pass's layer totals."""
    passes = [p for p in summary["passes"] if p["kind"] == "timed" and p["traced"]]
    cores = summary["cores"]

    def per_pass(p):
        L = p["layers"]
        g = lambda k: L.get(k, 0.0)
        m = {k: 0.0 for k in PER_LAYER}
        for m_ in MODULES:
            m[f"operators.{m_}.call_s"] = g(f"operators.{m_}.call_s")
            m[f"operators.{m_}.eager_jobs"] = g(f"operators.{m_}.eager_jobs")
        for k in ("catalyst.plan_s", "spark.jobs", "driver.outside_jobs_s",
                  "cache.rdds_left", "cache.peak_bytes", "sources.CsvSource.rows_read",
                  "warehouse.bytes_scanned", "artifacts.built"):
            m[k] = g(k)
        for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "task_failures",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[f"spark.{k}"] = g(k)
        m["spark.core_busy_frac"] = g("task_run_s") / (p["pass_s"] * cores)
        for s in PIPE_STAGES:
            m[f"pipeline.{s}_s"] = g(f"pipeline.{s}_s")
        m["pipeline.retries"] = g("retries")
        m["warehouse.bytes_written"] = g("wh_bytes_written")
        m["warehouse.files_written"] = g("wh_files_written")
        m["streaming.micro_batches"] = g("stream_batches")
        m["streaming.batch_s"] = g("stream_batch_s")
        m["streaming.rows"] = g("stream_rows")
        for k in ("unattributed", "spark.jobs", "catalyst.plan", "execute"):
            m[f"self.{k}_s"] = g(f"self.{k}")
        if "reuse_pass" in p:
            r = p["reuse_pass"]
            m["artifacts.reused"] = r["reused"]
            m["artifacts.reuse_ratio"] = r["reused"] / max(1.0, r["reused"] + r["built"])
        return m

    rows = [per_pass(p) for p in passes]
    out = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER}
    out.update(extra)
    return out


def untraced_pass_s(workload, seed, fp):
    """pass_s of the recorded untraced run of this workload and seed on the
    same sources (run fingerprint `fp`), or None; the traced run's pass_s
    minus this is the tracing overhead."""
    path = os.path.join(BUILD, "records", f"{workload}-seed{seed}-trace0.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        run = json.loads(f.read().strip().splitlines()[-1])["run"]
    return run["end_to_end"]["pass_s"] if run.get("fingerprint") == fp else None


def cpu_times():
    """The machine's cumulative CPU time split (the `cpu` line of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def host_cpu(a, b):
    """Shares of the machine's CPU time while the JVM ran: busy, idle and
    stolen by the hypervisor; a run on a busier host reads slower."""
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total, "idle": (d[3] + d[4]) / total,
            "steal": d[7] / total}


# --------------------------------------------------------------------- run

def run_one(workload, seed, seconds, trace):
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}")
    if not (os.path.exists("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a graft checkout (library sources not found)")
    if "SPARK_GRAFT_CONF" in os.environ:
        fail("refusing to run: SPARK_GRAFT_CONF is set")
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    cp = ensure_build(cores)
    fp = run_fingerprint()
    for d in DATA.get(workload, ()) + ("landing",):  # generated outside every metric
        dataset(d)
    t0 = time.time()
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return measure(workload, seed, seconds, trace, cores, cp, fp, t0, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(workload, seed, seconds, trace, cores, cp, fp, t0, run_dir):
    tmp, out = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "out")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--out", out,
            "--start-ms", repr(t0 * 1000)]
    expect = None
    if workload == "etl_backfill":
        import gen
        inputs = os.path.join(run_dir, "inputs")
        expect = gen.backfill(inputs, seed, ETL_WARMUP_DAYS + ETL_DAYS, ETL_ROWS)
        args += ["--data", inputs, "--dates", ",".join(expect["search_dates"]),
                 "--tx-dates", ",".join(expect["tx_dates"]),
                 "--warmup-days", str(ETL_WARMUP_DAYS)]
        data = inputs
    else:
        data, checked = (dataset(d) for d in DATA[workload])
        args += ["--data", data, "--warmup-data", checked,
                 "--landing", os.path.join(dataset("landing"), "csv")]
    # the JVM's share of the run: --seconds of timed passes plus a fixed
    # allowance for setup, the pass that overruns --seconds, and the checks
    limit = seconds + JVM_ALLOWANCE_S
    log_path = os.path.join(run_dir, "jvm.log")
    cpu0 = cpu_times()
    with open(log_path, "w") as jl:
        proc = subprocess.Popen(java_cmd(cp, tmp, "graft.perf.Main", args),
                                stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    cpu1 = cpu_times()
    if rc != 0:
        with open(log_path) as jl:
            sys.stderr.write(jl.read()[-6000:])
        if rc is None:
            fail(f"{workload} timed out: the JVM ran longer than --seconds + "
                 f"{JVM_ALLOWANCE_S} s = {limit:.0f} s and was killed", 1)
        fail(f"{workload} run failed (exit {rc})", 1)
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    with open(os.path.join(out, "records.jsonl")) as f:
        records = [json.loads(l) for l in f if l.strip()]
    names = sorted({r["op"] for r in records if r["kind"] == "timed"})
    if workload == "etl_backfill":
        failed_ops = etl_failures(summary, expect)
    else:
        failed_ops = oracle_failures(checked, out, names, cores)
    timed_recs = [r for r in records if r["kind"] in ("timed", "reuse")]
    for k, why in failed_ops.items():
        log(f"check failed: {k}: {why}")
    attempted = len(timed_recs)
    failed = sum(1 for r in timed_recs if not r["ok"] or r["op"] in failed_ops
                 or (r["pass"], r["op"]) in failed_ops)
    e2e, info = metrics_of(summary, failed_ops, float(seconds))
    timed = [p for p in summary["passes"] if p["kind"] == "timed"]
    extra = {"Sessions.base_s": summary["sessions_base_s"],
             "artifacts.store_bytes": float(summary["debris"]["store_bytes"]),
             "artifacts.debris": float(summary["debris"]["entries"]),
             "failed_ratio": failed / attempted,
             "reuse_s": info.get("reuse_s", 0.0),
             "ingest_rows_per_s": 0.0, "write_amp": 0.0}
    if workload == "etl_backfill":
        extra["ingest_rows_per_s"] = ETL_DAYS * ETL_ROWS / e2e["pass_s"]
        extra["write_amp"] = statistics.median(
            p["warehouse_bytes"] for p in timed) / expect["input_bytes"]
    if trace:
        base = untraced_pass_s(workload, seed, fp)
        extra["trace.overhead_s"] = "no baseline" if base is None else e2e["pass_s"] - base
        log(f"trace.overhead_s: {extra['trace.overhead_s']}")
        values = layer_metrics(summary, extra)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    shown = dict(e2e, failed_ratio=failed / attempted, **info,
                 **{k: extra[k] for k in ("ingest_rows_per_s", "write_amp")
                    if workload == "etl_backfill"})
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{workload}-seed{seed}-trace{trace}.jsonl"), "w") as f:
        for r in records:
            r["failed_check"] = failed_ops.get(r["op"]) or failed_ops.get((r["pass"], r["op"]))
            f.write(json.dumps(r) + "\n")
        f.write(json.dumps({"run": {"workload": workload, "seed": seed, "trace": trace,
                                    "fingerprint": fp, "host_cpu": host_cpu(cpu0, cpu1),
                                    "cores": summary["cores"], "conf": summary["conf"],
                                    "end_to_end": shown, "extra": extra,
                                    "debris": summary["debris"],
                                    "passes": [{k: v for k, v in p.items() if k != "latencies"}
                                               for p in summary["passes"]],
                                    "result": result}}) + "\n")
    return result, shown


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, help=f"one of {WORKLOADS}, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload != "all":
        result, _ = run_one(a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(result))
        return
    # every workload, each end-to-end metric printed by name with its unit,
    # measured untraced; with --trace 1 a traced run follows, for each
    # per-layer metric and the tracing overhead against the untraced run
    units = dict(END_TO_END, failed_ratio="ratio", ingest_rows_per_s="1/s",
                 write_amp="ratio", reuse_s="s", op_p90_percentile="quantile",
                 op_samples="count")
    summary = {}
    for w in WORKLOADS:
        result, shown = run_one(w, a.seed, a.seconds, 0)
        print(f"== {w}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for k, v in shown.items():
            print(f"   {k:36s} {v:16.4f} {units[k]}")
        summary[w] = dict(result, end_to_end=shown)
        if a.trace:
            traced, tshown = run_one(w, a.seed, a.seconds, 1)
            overhead = tshown["pass_s"] - shown["pass_s"]
            print(f"   {'trace.overhead_s':36s} {overhead:16.4f} s")
            for k, m in traced["metrics"].items():
                print(f"   {k:36s} {m['value']:16.4f} {m['unit']}")
            summary[w]["traced"] = dict(traced, overhead_s=overhead)
    summary["claim"] = None
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
