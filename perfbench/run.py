#!/usr/bin/env python3
"""Benchmark of the graft engine: warm ad-hoc queries and the museum ETL,
each op timed on its full result.

Usage (from the repository root):
  python3 perfbench/run.py --workload adhoc_warm --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark client (perfbench/build.py), generates
the inputs, runs one closed-loop client in a fresh JVM, checks the outputs
(DuckDB oracle for the query workloads, pipeline invariants for the ETL),
and prints every metric with its unit; the last line is one JSON object.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402
from select_adhoc import STORE_QUERIES  # noqa: E402

WORKLOADS = ("adhoc_warm", "museum_etl")
TABLES_SF = 0.01
TABLES_SEED = 42
ETL_OBJECTS = 12
RUN_LIMIT_S = 170.0
CDS_LIMIT_S = 150.0
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
              ("retained_mb", "MB"), ("success_rate", "ratio")]
PER_LAYER = [
    ("construct.s", "s"), ("construct.jobs", "count"), ("construct.share", "ratio"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("codegen.compiles", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.tasks_per_stage", "ratio"), ("exec.single_task_stages", "count"),
    ("exec.task_busy_frac", "ratio"), ("exec.gc_s", "s"), ("exec.failed_tasks", "count"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.peak_mem_mb", "MB"),
    ("store.write_s", "s"), ("store.write_mb", "MB"), ("store.read_s", "s"),
    ("store.segments_read", "count"), ("store.segments_skipped", "count"),
    ("store.skip_ratio", "ratio"),
    ("etl.ingest_s", "s"), ("etl.clean_s", "s"), ("etl.dedup_s", "s"), ("etl.transform_s", "s"),
    ("etl.split_s", "s"), ("etl.write_s", "s"), ("etl.image_kernel_ms", "ms"),
    ("etl.images_kept_frac", "ratio"), ("etl.chunks_written", "count"),
    ("trace.overhead_s", "s"), ("trace.overhead_frac", "ratio"),
    ("trace.self_time_gap", "ratio"), ("trace.ops_over_5pct", "ratio")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def read_ops(workload):
    with open(os.path.join(HERE, "workloads", f"{workload}.txt")) as f:
        return [ln.split("#")[0].strip() for ln in f if ln.split("#")[0].strip()]


def ensure_tables(build_dir):
    out = os.path.join(build_dir, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if not os.path.exists(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        gen_tables.generate(out, TABLES_SF, TABLES_SEED)
        open(os.path.join(out, ".complete"), "w").close()
    return os.path.abspath(out)


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def run_jvm(jar, args, log_path, deadline, jvm_flags=()):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", *jvm_flags]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", os.pathsep.join([jar, jars]), "perfbench.Runner"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    # a local session binds to the loopback interface whatever the host name resolves to
    env = {"SPARK_LOCAL_IP": "127.0.0.1", "SPARK_LOCAL_HOSTNAME": "localhost", **os.environ}
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def ensure_cds(jar, digest, build_dir, data_dir):
    """Class-data-sharing archive of the classes a query run loads, dumped
    once per build by an untimed adhoc_warm run and kept like the build's
    jar; later JVMs map it instead of loading and verifying the Spark
    classes again. Returns the JVM flags that use it, or none if the dump
    failed."""
    jsa = os.path.join(build_dir, f"cds-{digest}.jsa")
    if not os.path.exists(jsa):
        work = os.path.join(build_dir, "work", f"cds-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        args = {"workload": "adhoc_warm", "seed": 0, "seconds": 0, "trace": 0, "warm": 0,
                "cpus": os.cpu_count() or 1, "work": work, "data": data_dir,
                "out": os.path.join(work, "record.json"), "ops": ",".join(read_ops("adhoc_warm"))}
        try:
            run_jvm(jar, args, os.path.join(work, "jvm.log"), time.time() + CDS_LIMIT_S,
                    [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
            if os.path.exists(jsa + ".tmp"):
                os.replace(jsa + ".tmp", jsa)
                build.prune(build_dir, "cds-*.jsa")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def normalized(rows, cols):
    """tools/check_oracle.py's comparison: columns sorted by name, rows
    sorted, every value compared through repr()."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in idx) for r in rows)


def digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def oracle_check(out_dir, data_dir, cache_dir):
    """Compares each op's parquet dump with its DuckDB twin over the same
    tables. Returns the failures."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(f"{data_dir}\0{sql}".encode()).hexdigest()[:24]
        cpath = os.path.join(cache_dir, key + ".json")
        spark_glob = os.path.join(out_dir, name, "*.parquet")
        try:
            if os.path.exists(cpath):
                with open(cpath) as f:
                    want = json.load(f)
            else:
                res = con.sql(sql)
                want_rows = normalized(res.fetchall(), [d[0] for d in res.description])
                want = {"cols": sorted(d[0] for d in res.description),
                        "n": len(want_rows), "digest": digest(want_rows)}
                with open(cpath, "w") as f:
                    json.dump(want, f)
            if not glob.glob(spark_glob):
                failures.append(dict(op=name, phase="oracle", **{"class": "MissingOutput"},
                                     message="no Spark output"))
                continue
            got = con.sql(f"SELECT * FROM read_parquet('{spark_glob}')")
            got_cols = [d[0] for d in got.description]
            got_rows = normalized(got.fetchall(), got_cols)
            if sorted(got_cols) != want["cols"]:
                msg = f"columns spark={sorted(got_cols)} oracle={want['cols']}"
            elif digest(got_rows) != want["digest"]:
                msg = f"rows differ: spark={len(got_rows)} oracle={want['n']}"
            else:
                continue
            failures.append(dict(op=name, phase="oracle", **{"class": "WrongAnswer"}, message=msg))
        except Exception as e:  # an oracle error is a failed check, with its cause
            failures.append(dict(op=name, phase="oracle", **{"class": type(e).__name__},
                                 message=str(e)[:500]))
    return failures


def quantile(sorted_vals, q):
    """Linear-interpolated quantile of a sorted list."""
    if len(sorted_vals) == 1:
        return sorted_vals[0]
    pos = q * (len(sorted_vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (pos - lo)


def tally(rec, failures):
    """(attempted, failed), each op and each invariant check counted once:
    an op fails if any of its runs or its oracle comparison failed, so one
    wrong answer costs the same share however many passes a run makes."""
    failed_units = {f["phase"] if f["phase"].startswith("check") else f["op"] for f in failures}
    attempted = len(set(rec["op_names"]) | failed_units) + rec["checks_made"]
    return attempted, len(failed_units)


def end_to_end(rec, attempted, failed):
    passes = [p for p in rec["passes"] if not p["traced"]]
    op_s = sorted(o["s"] for p in passes for o in p["ops"])
    return {
        "setup_s": rec["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": quantile(op_s, 0.5),
        "op_p90_s": quantile(op_s, 0.9),
        "retained_mb": rec["retained_heap_mb"] + rec["retained_storage_mb"],
        "success_rate": 1.0 - failed / attempted,
    }


def per_layer(rec, cpus):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    n = len(traced)

    def per_pass(f):
        return sum(f(o) for p in traced for o in p["ops"]) / n

    def total(key):
        return per_pass(lambda o: o[key])

    wall = statistics.mean(p["wall_s"] for p in traced)
    exec_s, stages, tasks = total("exec_s"), total("stages"), total("tasks")
    seg_r, seg_s = total("segments_read"), total("segments_skipped")
    reads = lambda o: o["name"].startswith("read:") or o["name"] in STORE_QUERIES  # noqa: E731
    gaps = sorted(o["self_time_gap"] for p in traced for o in p["ops"])
    plain_pass = statistics.mean(p["wall_s"] for p in plain)
    traced_pass = statistics.mean(p["wall_s"] for p in traced)
    m = {
        "construct.s": total("construct_s"), "construct.jobs": total("construct_jobs"),
        "construct.share": total("construct_s") / wall,
        "plan.analysis_s": total("analysis_s"), "plan.optimization_s": total("optimization_s"),
        "plan.planning_s": total("planning_s"), "codegen.compiles": total("codegen_compiles"),
        "exec.s": exec_s, "exec.jobs": total("exec_jobs"), "exec.stages": stages,
        "exec.tasks": tasks, "exec.tasks_per_stage": tasks / stages if stages else 0.0,
        "exec.single_task_stages": total("single_task_stages"),
        "exec.task_busy_frac": total("task_run_s") / (exec_s * cpus) if exec_s else 0.0,
        "exec.gc_s": total("gc_s"), "exec.failed_tasks": total("failed_tasks"),
        "exec.shuffle_write_mb": total("shuffle_write_b") / 2**20,
        "exec.shuffle_read_mb": total("shuffle_read_b") / 2**20,
        "exec.spill_mb": total("spill_b") / 2**20,
        "exec.peak_mem_mb": max(o["peak_mem_b"] for p in traced for o in p["ops"]) / 2**20,
        "store.read_s": per_pass(lambda o: o["s"] if reads(o) else 0.0),
        "store.segments_read": seg_r, "store.segments_skipped": seg_s,
        "store.skip_ratio": seg_s / (seg_r + seg_s) if seg_r + seg_s else 0.0,
        "trace.overhead_s": traced_pass - plain_pass,
        "trace.overhead_frac": (traced_pass - plain_pass) / plain_pass,
        "trace.self_time_gap": statistics.median(gaps),
        "trace.ops_over_5pct": sum(g > 0.05 for g in gaps) / len(gaps),
    }
    for name, _ in PER_LAYER:
        m.setdefault(name, 0.0)
    m.update(rec.get("extras", {}))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jar, src_digest = build.build(root, build_dir)
    data_dir = ensure_tables(build_dir)
    cds_flags = ensure_cds(jar, src_digest, build_dir, data_dir)
    t_start = time.time()
    load_start = loadavg()
    work = os.path.join(build_dir, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    rec_path = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}.json")
    cpus = os.cpu_count() or 1
    jargs = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "cpus": cpus, "work": work, "data": data_dir, "out": os.path.join(work, "record.json"),
             "spans": rec_path[:-len(".json")] + ".spans.jsonl"}
    if a.workload == "museum_etl":
        jargs["objects"] = ETL_OBJECTS
    else:
        jargs["ops"] = ",".join(read_ops(a.workload))
    jvm_log = os.path.join(work, "jvm.log")
    try:
        code = run_jvm(jar, jargs, jvm_log, t_start + RUN_LIMIT_S, cds_flags)
        if code != 0 or not os.path.exists(jargs["out"]):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM {'timed out' if code is None else f'exited {code}'}")
        with open(jargs["out"]) as f:
            rec = json.load(f)
        failures = rec["failures"]
        if a.workload != "museum_etl":
            failures += oracle_check(os.path.join(work, "out"), data_dir,
                                     os.path.join(build_dir, "oracle-cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = tally(rec, failures)
    rec["context"].update(commit=git_commit(root), source_digest=src_digest, seed=a.seed,
                          nproc=cpus, loadavg_start=load_start, loadavg_end=loadavg())
    rec["failures"] = failures
    metrics = per_layer(rec, cpus) if a.trace else end_to_end(rec, attempted, failed)
    units = dict(PER_LAYER if a.trace else END_TO_END)
    rec["metrics"] = metrics
    with open(rec_path, "w") as f:
        json.dump(rec, f, indent=1)
    for fl in failures:
        log(f"FAILED {fl['op']} ({fl['phase']}): {fl['class']}: {fl['message'][:300]}")
    log(f"{a.workload} seed={a.seed} passes={len(rec['passes'])} record={os.path.relpath(rec_path, root)}")
    for name, unit in units.items():
        log(f"{name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
