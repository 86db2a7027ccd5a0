#!/usr/bin/env python3
"""The engine's benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Workloads: query_mix, hiveql_session (see workloads.py, README.md and
BENCHMARK.json). A run:

1. builds the engine with the harness (`sbt compile` in perfbench/,
   skipped while no source changed) and generates the input tables
   (gen_data.py, sf0.1, fixed data seed, kept in .perfbench/data);
2. starts one JVM (perfbench.Harness) at local[nproc] with shuffle
   partitions = nproc, which sets up, runs an untimed check pass that
   writes every output (and warms the JVM), then the timed passes (about
   --seconds of them);
3. compares the outputs with DuckDB (check.py) and prints the metrics.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 they are the per-layer ones, and a
per-statement detail file is written to .perfbench/detail/.
Everything a run writes stays under .perfbench/ (its temporary directory
is removed at the end) and perfbench/target/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
SF = 0.1
DATA_SEED = 42
XMX = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
INF_S = 1e9  # a failed statement's latency: JSON has no infinity
E2E_UNITS = {"throughput_qps": "1/s", "latency_p50_s": "s",
             "latency_p90_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
UNITS = {
    "engine.session_s": "s", "engine.tables_s": "s", "engine.warmup_s": "s",
    "queries.build_ms": "ms", "operators.eager_jobs": "count",
    "plan.parsing_ms": "ms", "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.job_gap_ms": "ms", "exec.task_cpu_s": "s",
    "exec.task_run_s": "s", "exec.gc_s": "s", "exec.task_wait_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.cpu_util": "ratio",
    "dialect.rewrite_ms": "ms",
    **{f"statements.sql_ms.{k}": "ms" for k in (
        "ddl", "insert", "update", "delete", "merge", "select", "meta_read")},
    "meta.ledger_writes": "count", "meta.ledger_bytes_per_stmt": "bytes",
    "writes.files_written": "count", "writes.amplification": "ratio",
    "other_ms": "ms", "trace.overhead_frac": "ratio",
    "jvm.heap_after_gc_peak_mb": "MB", "codegen.compiles": "count",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stamped(stamp_file, stamp):
    """Whether `stamp_file` records `stamp` (what was built from)."""
    if not os.path.exists(stamp_file):
        return False
    with open(stamp_file) as fh:
        return fh.read() == stamp


def write_stamp(stamp_file, stamp):
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    """Compiles engine + harness unless the sources are unchanged.
    Returns the harness JVM's classpath, which the build writes."""
    sources = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "src", "main"),
               os.path.join(BENCH, "src", "main"),
               os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties")]
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = tree_hash(sources)
    if not (os.path.exists(cp_file) and stamped(stamp_file, stamp)):
        compile_harness()
        write_stamp(stamp_file, stamp)
    with open(cp_file) as fh:
        return fh.read()


def compile_harness():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness (sbt compile)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed", 1)


def data():
    """Generates the input tables once per generator version. Returns
    their directory and the stamp that names this version."""
    gen = os.path.join(BENCH, "gen_data.py")
    out = os.path.join(STATE, "data", f"sf{SF}")
    stamp_file = out + ".stamp"
    stamp = tree_hash([gen]) + f":{SF}:{DATA_SEED}"
    if os.path.isdir(out) and stamped(stamp_file, stamp):
        return out, stamp
    log(f"generating input tables (sf{SF})")
    tmp = tempfile.mkdtemp(dir=os.path.join(STATE, "data"))
    subprocess.run([sys.executable, gen, tmp, "--sf", str(SF),
                    "--seed", str(DATA_SEED)], check=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    write_stamp(stamp_file, stamp)
    return out, stamp


def run_jvm(classpath, plan, run_dir):
    plan_file = os.path.join(run_dir, "plan.json")
    result_file = os.path.join(run_dir, "result.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    jtmp = os.path.join(run_dir, "tmp")
    os.makedirs(jtmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size heap: with a growable one, peak RSS depends on when G1
    # decides to grow it, and that varied by 0.4 of its median run to run.
    # So peak RSS moves with memory outside the heap; memory the program
    # keeps in the heap shows in jvm.heap_after_gc_peak_mb (per layer).
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j.configurationFile={BENCH}/log4j2.properties",
            "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=America/Los_Angeles",
            f"-Djava.io.tmpdir={jtmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            "-cp", classpath,
            "perfbench.Harness", plan_file, result_file]
    # JVM stdout goes to stderr: our stdout's last line is the result
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"harness JVM exceeded {JVM_TIMEOUT_S}s", 1)
    finally:  # also on SIGTERM (see main): never leave the JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.exists(result_file):
        die(f"harness JVM exited with {code}", 1)
    with open(result_file) as fh:
        return json.load(fh)


def quantile(values, q):
    """Kernel estimate of the q-quantile: a triangle-weighted mean of the
    order statistics within about one standard error of rank q(n-1). A
    run has one sample per statement and pass, with gaps between
    statements; a single order statistic jumps across such a gap from
    run to run. A failed statement (infinite latency) inside the window
    makes the estimate infinite."""
    s = sorted(values)
    n = len(s)
    r = q * (n - 1)
    h = max(1.0, math.sqrt(n * q * (1 - q)))
    w = [(1 - abs(i - r) / h, x) for i, x in enumerate(s)
         if abs(i - r) < h]
    return sum(wi * x for wi, x in w) / sum(wi for wi, _ in w)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


PHASES = ("parsing", "analysis", "optimization", "planning")


def phase(r, name):
    """A traced statement's time in one Catalyst phase: the returned
    DataFrame's own, plus every SQL execution in its build and exec
    spans."""
    return sum(p.get(name, 0.0) for p in (
        r["phases_ms"], r["build"]["phases_ms"], r["exec"]["phases_ms"]))


def exec_ms(r):
    """The write span less the Catalyst planning done inside it."""
    return max(0.0, r["exec_ms"] - sum(r["exec"]["phases_ms"].values()))


def end_to_end(res, timed):
    lats = [r["lat_ms"] / 1e3 if r["ok"] else math.inf for r in timed]
    wall = sum(p["wall_s"] for p in res["passes"] if not p["traced"])
    done = sum(1 for r in timed if r["ok"])
    return {
        "setup_s": res["setup"]["total_s"],
        "throughput_qps": done / wall,
        "latency_p50_s": quantile(lats, 0.5),
        "latency_p90_s": quantile(lats, 0.9),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }


def per_layer(res, changed_bytes, cores):
    traced = [r for r in res["records"] if r["traced"] and r["ok"]]
    setup = res["setup"]
    queries = [r for r in traced if r["kind"] == "query"]
    hive = [r for r in traced if r["kind"] != "query"]
    writes = [r for r in hive
              if r["kind"] in ("insert", "update", "delete", "merge")]

    def ex(r, key):
        return r["exec"][key]

    m = {
        "engine.session_s": setup["session_s"],
        "engine.tables_s": setup["tables_s"],
        "engine.warmup_s": setup["warmup_s"],
        "queries.build_ms": mean(r["build_ms"] for r in queries),
        "operators.eager_jobs": mean(r["build"]["jobs"] for r in queries),
    }
    for p in PHASES:
        m[f"plan.{p}_ms"] = mean(phase(r, p) for r in traced)
    m["exec.ms"] = mean(exec_ms(r) for r in traced)
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = mean(ex(r, k) for r in traced)
    m["exec.job_gap_ms"] = mean(
        max(0.0, exec_ms(r) - ex(r, "job_cover_ms")) for r in traced)
    for k in ("task_cpu_s", "task_run_s", "gc_s", "task_wait_s"):
        m[f"exec.{k}"] = mean(ex(r, k) for r in traced)
    for k in ("shuffle_read", "shuffle_write", "spill"):
        m[f"exec.{k}_mb"] = mean(ex(r, f"{k}_b") for r in traced) / 2**20
    busy_s = sum(exec_ms(r) for r in traced) / 1e3
    m["exec.cpu_util"] = (sum(ex(r, "task_cpu_s") for r in traced)
                          / (busy_s * cores)) if busy_s else 0.0
    m["dialect.rewrite_ms"] = mean(r["rewrite_ms"] for r in hive)
    for kind in ("ddl", "insert", "update", "delete", "merge", "select",
                 "meta_read"):
        m[f"statements.sql_ms.{kind}"] = mean(
            r["build_ms"] + r["exec_ms"] for r in hive if r["kind"] == kind)
    m["meta.ledger_writes"] = mean(r["ledger_writes"] for r in hive)
    m["meta.ledger_bytes_per_stmt"] = mean(r["ledger_bytes"] for r in hive)
    m["writes.files_written"] = mean(r["files_written"] for r in writes)
    logical = sum(changed_bytes.get(r["id"], 0.0) for r in writes)
    m["writes.amplification"] = (
        sum(r["bytes_written"] for r in writes) / logical if logical else 0.0)
    m["other_ms"] = mean(r["lat_ms"] - r["build_ms"] - r["exec_ms"]
                         for r in traced)
    m["jvm.heap_after_gc_peak_mb"] = res["heap_after_gc_peak_b"] / 2**20
    m["codegen.compiles"] = sum(
        p["codegen_compiles"] for p in res["passes"] if p["traced"]) / len(
        [r for r in res["records"] if r["traced"]])

    def qps(is_traced):
        ps = [p for p in res["passes"] if p["traced"] == is_traced]
        n = sum(1 for r in res["records"]
                if r["traced"] == is_traced and r["ok"])
        return n / sum(p["wall_s"] for p in ps)
    m["trace.overhead_frac"] = 1.0 - qps(True) / qps(False)
    return m


def detail(res, traced_recs, path):
    """Per-statement layer split, plus the span shares of the ten
    heaviest statements (by mean traced latency)."""
    by_id = {}
    for r in traced_recs:
        by_id.setdefault(r["id"], []).append(r)
    heavy = []
    for sid, rs in by_id.items():
        lat = mean(r["lat_ms"] for r in rs)
        plan_ms = mean(sum(phase(r, p) for p in PHASES) for r in rs)
        build_ms = mean(r["build_ms"] for r in rs)
        run_ms = mean(exec_ms(r) for r in rs)
        heavy.append({"id": sid, "lat_ms": lat,
                      "build_share": build_ms / lat if lat else 0.0,
                      "planning_share": plan_ms / lat if lat else 0.0,
                      "exec_share": run_ms / lat if lat else 0.0})
    heavy.sort(key=lambda h: -h["lat_ms"])
    with open(path, "w") as fh:
        json.dump({"heaviest": heavy[:10], "records": traced_recs}, fh,
                  indent=1)
    return heavy[:10]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the repository root: the engine sources "
            "(build.sbt, src/main/scala) are not here")
    load1 = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(STATE, "data"), exist_ok=True)
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    classpath = build()
    data_dir, data_stamp = data()

    passes = workloads.timed_passes(a.workload, a.seconds, a.trace)
    stmts, orders, final_tables, cleanup, script = workloads.plan(
        a.workload, a.seed, 1 + passes)
    run_dir = tempfile.mkdtemp(dir=os.path.join(STATE, "runs"))
    plan = {"workload": a.workload, "cores": cores, "trace": bool(a.trace),
            "data": data_dir, "run_dir": run_dir,
            "timed_passes": passes,
            "hive": script is not None, "statements": stmts,
            "orders": orders, "final_tables": final_tables,
            "cleanup": cleanup}
    t_jvm = time.time()
    try:
        res = run_jvm(classpath, plan, run_dir)
        t_check = time.time()
        out_dir = os.path.join(run_dir, "out")
        con = check.connect(data_dir)
        cache = check.RefCache(os.path.join(STATE, "ref"), data_stamp)
        changed_bytes = {}
        if script is None:
            wrong = check.check_queries(
                con, cache, out_dir, res["check"]["oracle_sql"],
                [s["id"] for s in stmts])
        else:
            wrong, changed_bytes = check.check_hive(
                con, cache, out_dir, script, final_tables)
        con.close()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"jvm {t_check - t_jvm:.1f}s (check pass {res['check']['wall_s']:.1f}s: "
        + " ".join(f"{k}={v / 1e3:.1f}" for k, v in sorted(
            res["check"]["lat_ms"].items(), key=lambda kv: -kv[1])[:6])
        + f"), reference check {time.time() - t_check:.1f}s")

    for sid, why in sorted(wrong.items()):
        log(f"wrong result: {sid}: {why}")
    timed = [r for r in res["records"] if not r["traced"]]
    failed = sum(1 for r in timed if not r["ok"])
    e2e = end_to_end(res, timed)
    log(f"workload={a.workload} seed={a.seed} sf={SF} nproc={cores} "
        f"xmx={XMX} load1={load1:.2f} "
        f"statements/pass={len(stmts)} passes={len(res['passes'])} "
        f"samples={len(timed)}")
    for p in res["passes"]:
        log(f"pass {p['pass']}{' traced' if p['traced'] else ''}: wall "
            f"{p['wall_s']:.2f}s, process cpu {p['cpu_s']:.1f}s (jit "
            f"{p['jit_s']:.1f}s, gc {p['gc_s']:.2f}s), codegen compiles "
            f"{p['codegen_compiles']}, host steal {p['steal_s']:.1f}s")
    log("end-to-end: " + ", ".join(
        [f"{k}={v:.4g} {E2E_UNITS[k]}" for k, v in e2e.items()]
        + [f"failed_frac={failed / len(timed):.4g}",
           f"wrong_results={len(wrong)}"]))
    if a.trace:
        traced = [r for r in res["records"] if r["traced"]]
        metrics = per_layer(res, changed_bytes, cores)
        os.makedirs(os.path.join(STATE, "detail"), exist_ok=True)
        path = os.path.join(STATE, "detail",
                            f"{a.workload}_seed{a.seed}.json")
        for h in detail(res, traced, path):
            log(f"heavy {h['id']}: {h['lat_ms']:.1f} ms, build "
                f"{h['build_share']:.0%} planning {h['planning_share']:.0%} "
                f"exec {h['exec_share']:.0%}")
        log(f"detail: {os.path.relpath(path, ROOT)}")
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": min(v, INF_S), "unit": E2E_UNITS[k]}
               for k, v in e2e.items()}
    result = {"correct": not wrong, "attempted": len(timed),
              "failed": failed, "metrics": out}
    with open(os.path.join(STATE, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({
            "time": time.time(), "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "sf": SF, "nproc": cores,
            "xmx": XMX, "load1": load1, "passes": res["passes"],
            "wrong": wrong, "end_to_end": e2e, **result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
