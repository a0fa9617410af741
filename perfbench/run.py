#!/usr/bin/env python3
"""Benchmark driver: builds the project and the harness from source,
generates the seeded inputs, runs one workload in a fresh JVM, checks the
outputs and prints the metrics.

    python3 perfbench/run.py --workload finops_api --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. See
perfbench/README.md for the workloads and the metric -> layer table.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

# (name, unit, better) of the end-to-end metrics every workload reports.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("lat_p50_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

# (name, unit, better) of the per-layer metrics of the traced run; a layer
# a workload does not use reports 0.
PER_LAYER = [
    ("sources.register_ms", "ms", "lower"),
    ("sources.files_registered", "count", "lower"),
    ("sources.partitions_in_range", "count", "lower"),
    ("engine.translate_us", "us", "lower"),
    ("engine.plan_ms", "ms", "lower"),
    ("engine.exec_ms", "ms", "lower"),
    ("views.register_ms", "ms", "lower"),
    ("views.kpi_summary_ms", "ms", "lower"),
    ("analytics.spend_ms", "ms", "lower"),
    ("analytics.optimization_ms", "ms", "lower"),
    ("analytics.allocation_ms", "ms", "lower"),
    ("analytics.discounts_ms", "ms", "lower"),
    ("analytics.ai_ms", "ms", "lower"),
    ("analytics.dashboard_ms", "ms", "lower"),
    ("api.finops_self_ms", "ms", "lower"),
    ("api.json_ms", "ms", "lower"),
    ("api.resp_bytes", "bytes", "lower"),
    ("index.text_probe_ms", "ms", "lower"),
    ("index.vec_probe_ms", "ms", "lower"),
    ("index.knn_ms", "ms", "lower"),
    ("index.files_scanned_per_probe", "count", "lower"),
    ("index.bytes_scanned_per_probe", "bytes", "lower"),
    ("index.text_append_ms", "ms", "lower"),
    ("index.vec_append_ms", "ms", "lower"),
    ("index.files_added_per_append", "count", "lower"),
    ("index.bytes_written_per_payload_byte", "ratio", "lower"),
    ("index.stats_ms", "ms", "lower"),
    ("index.waves_end", "count", "lower"),
    ("index.build_s", "s", "lower"),
    ("queries.relational_s", "s", "lower"),
    ("queries.textdedup_s", "s", "lower"),
    ("queries.textpipeline_s", "s", "lower"),
    ("queries.curation_s", "s", "lower"),
    ("queries.similarity_s", "s", "lower"),
    ("queries.bpe_s", "s", "lower"),
    ("queries.warmup_s", "s", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.sched_delay_ms_per_op", "ms", "lower"),
    ("spark.input_rows_per_op", "count", "lower"),
    ("spark.input_bytes_per_op", "bytes", "lower"),
    ("spark.task_ms_per_op", "ms", "lower"),
    ("spark.shuffle_write_bytes_per_op", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.cached_bytes", "bytes", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.codegen_compile_ms", "ms", "lower"),
    ("jvm.heap_peak_mb", "MB", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("fail_frac", "ratio", "lower"),
]
# per-layer metrics that are differences of two timings and may come out
# below zero
DIFFERENCES = {"api.finops_self_ms", "trace.overhead_frac"}

# Per workload: the sample classes of the timed operations (latency and
# throughput), the auxiliary class reported beside them, and the measured
# blocks (finops_api: 20 requests, 9-13 s on 4 cores) or passes
# (batch_suite: 15 operations, 20-25 s) per 10 s of --seconds. The measured
# work is a fixed number of whole blocks or passes, so every run measures
# the same operation mix; finops_api measures two blocks because its median
# over one block moved with the few requests next to it.
WORKLOADS = {
    "finops_api": dict(primary=("route", "adhoc"), aux=("adhoc",), aux_name="adhoc_p50_ms",
                       blocks_per_10s=2),
    "batch_suite": dict(primary=("query", "index"), aux=("pass",), aux_name="pass_ms",
                        blocks_per_10s=1),
}

CUR_ROWS = 600_000
BATCH_SF, WARM_SF = 0.01, 0.001
INDEX_DOCS = 250
INDEX_VECS = 125
JAVA_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]
RUN_LIMIT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# --------------------------------------------------------------------------
# build


def source_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(root, f) for f in ("build.sbt", "project/build.properties",
                                              "perfbench/build.sbt",
                                              "perfbench/project/build.properties")]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile the project and the harness (sbt, offline) once per source
    state; returns the runtime classpath."""
    stamp, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath.txt")
    digest = source_hash(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, capture_output=True,
                       text=True, timeout=800)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if ln.startswith("/") and "perfbench" in ln and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


# --------------------------------------------------------------------------
# inputs


def write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def generate(workload, seed, data, blocks):
    """Seeded inputs under ``data`` for ``blocks`` measured blocks or
    passes; returns the workload's JVM arguments."""
    import gen
    os.makedirs(data, exist_ok=True)
    if workload == "finops_api":
        gen.write_cur(f"{data}/cur", seed, CUR_ROWS)
        import checks
        missing_types, missing_groups = gen.cur_coverage(checks.connect(), f"{data}/cur/*/*.parquet")
        if missing_types or missing_groups:
            die(f"CUR branch coverage: no rows for {missing_types + missing_groups}")
        warm, ops = gen.finops_ops(seed, blocks)
        write_jsonl(f"{data}/warm_ops.jsonl", warm)
        write_jsonl(f"{data}/ops.jsonl", ops)
        return {"data": f"{data}/cur", "warm_ops": f"{data}/warm_ops.jsonl",
                "ops": f"{data}/ops.jsonl", "reference_date": gen.REFERENCE_DATE}
    gen.write_star(f"{data}/star", seed, BATCH_SF, 500, 500)
    gen.write_star(f"{data}/warm", seed, WARM_SF, 100, 100)
    # the traced run replays pass 1's index inputs beside pass 0's
    write_jsonl(f"{data}/index_ops.jsonl", gen.write_index_corpus(
        f"{data}/star", seed, INDEX_DOCS, INDEX_VECS, max(blocks, 2)))
    write_jsonl(f"{data}/ops.jsonl", [{"op": q} for q in gen.BATCH_PASS])
    return {"data": f"{data}/star", "warm": f"{data}/warm", "ops": f"{data}/ops.jsonl",
            "index_ops": f"{data}/index_ops.jsonl", "passes": blocks}


# --------------------------------------------------------------------------
# the JVM run


def run_jvm(root, cp, args, log_path, limit_s):
    heap = "3g"
    # static Spark settings the shipped session (GraftSession.local) leaves
    # at their defaults: a codegen cache sized for a long-lived session, as
    # graft.Bench uses, and the warehouse inside the build directory
    cmd = ["java", *JAVA_OPENS, f"-Xmx{heap}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.sql.codegen.cache.maxEntries=2000",
           f"-Dspark.sql.warehouse.dir={root}/.bench_build/warehouse",
           "-cp", cp, "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def summarize(workload, res, trace, acct, extra):
    """(metrics, notes) from the JVM's raw samples."""
    cfg = WORKLOADS[workload]
    samples = res["samples"]
    info = res["info"]
    acct.ops(ok for c, _, _, ok in samples if c != "pass")
    acct.checks(res["oob_checks"], res["oob_failures"], res["failures"])
    notes = []
    if trace:
        layers = dict(res["layers"])
        layers["jvm.heap_peak_mb"] = info.get("heap_peak_mb", 0.0)
        metrics = {n: (float(layers.get(n, 0.0)), u) for n, u, _ in PER_LAYER}
        # times, counts and sizes cannot be negative; only differences can
        for n, (v, _) in metrics.items():
            if n not in DIFFERENCES:
                acct.check(v >= 0, f"{n} is negative: {v}")
        metrics["fail_frac"] = (acct.fail_frac, "ratio")
        return metrics, notes

    prim = [ms for c, _, ms, _ in samples if c in cfg["primary"]]
    aux = [ms for c, _, ms, _ in samples if c in cfg["aux"]]
    if not prim or not aux:
        die(f"{workload}: no samples (primary {len(prim)}, aux {len(aux)})", 4)
    p = stats.tail_percentile(len(prim))
    setup = info["setup_s"] + extra["gen_s"]
    values = {
        "setup_s": (setup, "s"),
        "lat_p50_ms": (stats.median(prim), "ms"),
        "ops_per_s": (len(prim) / info["measure_s"], "1/s"),
    }
    tail = (f"p{p:g} {stats.percentile(prim, p):.2f} ms" if p and p > 50
            else "no percentile above the median has ten samples beyond it")
    notes += [
        f"setup_s       {setup:10.3f} s    inputs {extra['gen_s']:.2f} s + JVM start to first "
        f"timed operation {info['setup_s']:.2f} s (session {info.get('session_s', 0):.2f} s)",
        f"lat_p50_ms    {values['lat_p50_ms'][0]:10.2f} ms   n={len(prim)} ({'/'.join(cfg['primary'])});"
        f" tail: {tail}",
        f"ops_per_s     {values['ops_per_s'][0]:10.3f} 1/s  n={len(prim)} over {info['measure_s']:.2f} s",
        f"{cfg['aux_name']:13s} {stats.median(aux):10.2f} ms   n={len(aux)} (median; not a bound metric)",
    ]
    return {n: values[n] for n, _, _ in END_TO_END}, notes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"not a repository checkout ({need} missing); run from the repository root")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    t_start = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    data = os.path.join(work, "data", tag)
    out = os.path.join(work, "runs", tag)
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    blocks = max(1, round(a.seconds / 10 * WORKLOADS[a.workload]["blocks_per_10s"]))
    jargs = generate(a.workload, a.seed, data, blocks)
    gen_s = time.time() - t0
    jargs.update(workload=a.workload, out=out, trace=a.trace, cores=cores())
    limit = RUN_LIMIT_S - (time.time() - t_start)
    rc = run_jvm(root, cp, jargs, os.path.join(out, "jvm.log"), limit)
    res_path = os.path.join(out, "result.json")
    if rc is None:
        die(f"JVM exceeded {limit:.0f}s (log: {out}/jvm.log)", 5)
    if not os.path.exists(res_path):
        die(f"JVM exited {rc} without a result (log: {out}/jvm.log)", 5)
    with open(res_path) as f:
        res = json.load(f)
    if res.get("error"):
        die(f"JVM error: {res['error']} (log: {out}/jvm.log)", 5)

    acct = stats.Accounting()
    import checks
    with open(os.path.join(out, "responses.json")) as f:
        responses = json.load(f)
    if a.workload == "finops_api" and not a.trace:
        checks.finops_checks(acct, jargs["data"], responses, jargs["reference_date"])
    elif a.workload == "batch_suite" and not a.trace:
        with open(os.path.join(out, "oracle.json")) as f:
            checks.batch_checks(acct, jargs["data"], json.load(f), responses)
    metrics, notes = summarize(a.workload, res, a.trace, acct, {"gen_s": gen_s})

    for line in notes:
        print(line)
    print(f"fail_frac     {acct.fail_frac:10.4f}      {acct.failed}/{acct.attempted} failed")
    for why in acct.reasons[:10]:
        print(f"  check failed: {why}")
    if a.trace:
        spans = os.path.join(work, "traces", f"{tag}.spans.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copyfile(os.path.join(out, "spans.json"), spans)
        print(f"spans: {os.path.relpath(spans, root)}")
        self_ms = res["info"].get("self_ms", {})
        for k in sorted(self_ms):
            print(f"self {k:28s} {self_ms[k]:10.1f} ms")
    shutil.rmtree(data, ignore_errors=True)
    for d in os.listdir(out):
        if d.startswith("index"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(stats.result_line(acct.correct, acct.attempted, acct.failed, metrics))


if __name__ == "__main__":
    main()
