#!/usr/bin/env python3
"""graft benchmark: weather ETL, corpus curation and ANN serving.

    python3 perfbench/run.py --workload etl_fleet --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It compiles the engine from `src/main`
and the harness from `perfbench/scala` (cached under `.bench_build`),
generates the workload's inputs from the seed, runs the harness in one
fresh JVM, checks the outputs and prints the metrics.  The last stdout
line is one JSON object: {correct, attempted, failed, metrics}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones.  Any failed operation or check is named on stderr and makes the
exit code 1.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("etl_fleet", "corpus_curation", "ann_serving")
SETUPS = 3
JVM_TIMEOUT_S = 150

# Spark's own JDK 17 module flags (launcher JavaModuleOptions); nothing else
ADD_OPENS = [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]

END_TO_END = [
    ("setup_s", "s"),
    ("work_per_s", "1/s"),
    ("latency_ms_p50", "ms"),
]

PER_LAYER = [
    ("jvm.peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("plan.analysis_ms", "ms"), ("plan.optimizer_ms", "ms"), ("plan.physical_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_busy_s", "s"), ("spark.core_util", "fraction"), ("spark.driver_gap_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.peak_exec_mem_mb", "MB"), ("spark.storage_mb_start", "MB"),
    ("spark.storage_mb_end", "MB"), ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("etl.extract_s", "s"), ("etl.integrity_s", "s"), ("etl.load_s", "s"),
    ("etl.post_audit_s", "s"), ("etl.compact_s", "s"), ("etl.upsert_s", "s"),
    ("etl.bytes_written_per_input_byte", "ratio"), ("etl.files_written", "count"),
    ("curation.curate_s", "s"), ("curation.minhash_pairs_s", "s"),
    ("curation.representatives_s", "s"), ("curation.representatives_jobs", "count"),
    ("curation.span_dedup_s", "s"), ("curation.gopher_s", "s"),
    ("curation.near_dup_pairs", "count"),
    ("kernel.tokenize_ns_row", "ns/row"), ("kernel.shingles_ns_row", "ns/row"),
    ("kernel.minhash64_ns_row", "ns/row"), ("kernel.gram_run_stats_ns_row", "ns/row"),
    ("kernel.dot_ns_row", "ns/row"), ("kernel.adc_ns_row", "ns/row"),
    ("ann.ivf_ms_p50", "ms"), ("ann.ivfadc_ms_p50", "ms"), ("ann.lsh_ms_p50", "ms"),
    ("ann.input_mb_per_probe", "MB"), ("ann.recall_at_10", "fraction"),
    ("ann.build_ivf_s", "s"), ("ann.build_ivfadc_s", "s"), ("ann.build_lsh_s", "s"),
    ("trace.overhead_pct", "%"),
]

# closed-loop steps every run makes even when --seconds runs out first:
# the first timed pass still warms the JIT, and the median of three is a
# warm one
MIN_STEPS = {"etl_fleet": 3, "corpus_curation": 3, "ann_serving": 3}

# the operation each workload repeats in its closed loop
OP_SPANS = {"etl_fleet": ("etl.pass",), "corpus_curation": ("curation.pass",),
            "ann_serving": ("ann.ivf", "ann.ivfadc", "ann.lsh")}
PRIMARY_OP = {"etl_fleet": "load", "corpus_curation": "pass", "ann_serving": "request"}


class BenchError(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def tree_hash(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_scala(name, sources, classpath, jars):
    """Compiles `sources` once per content hash into .bench_build."""
    key = tree_hash(sources, ":".join(classpath))
    out = os.path.join(BUILD, "%s-%s" % (name, key))
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        "@" + argfile], capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compiling %s failed:\n%s" % (name, (r.stdout + r.stderr)[-4000:]))
    os.remove(argfile)
    os.rename(tmp, out)
    log("[perfbench] compiled %s in %.1f s" % (name, time.time() - t0))
    return out


def build(jars):
    engine_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                                  recursive=True))
    if not engine_src:
        raise BenchError("no engine sources under src/main/scala: run from the root of a checkout")
    engine = compile_scala("engine", engine_src, [], jars)
    harness_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    harness = compile_scala("harness", harness_src, [engine], jars)
    return [harness, engine], tree_hash(engine_src)


# ------------------------------------------------------------------- facts

def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap():
    """MemTotal / 2 in whole GB, clamped to 2-8 GB."""
    return "%dg" % min(8, max(2, mem_total_kb() // 2097152))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(busy, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4] - v[7], v[7]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- generate

def generate(workload, seed, data_dir):
    if workload == "etl_fleet":
        return gen.gen_etl(os.path.join(data_dir, "etl"), seed)
    if workload == "corpus_curation":
        big = gen.gen_corpus(os.path.join(data_dir, "corpus"), seed)
        small = gen.gen_corpus(os.path.join(data_dir, "small"), seed,
                               gen.scaled_corpus_params(gen.CORPUS_PARAMS, gen.ORACLE_SCALE))
        big["small"], big["small_truth"] = small["corpus"], small["truth"]
        return big
    return gen.gen_ann(os.path.join(data_dir, "ann"), seed)


# ----------------------------------------------------------------- metrics

def end_to_end(workload, res, data):
    setup_s = stats.median([s["total_s"] for s in res["setups"]])
    ok = [o for o in res["ops"] if o["ok"]]
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    if workload == "etl_fleet":
        load = stats.median([o["ms"] for o in ok if o["kind"] == "load"]) / 1000
        ups = [o["ms"] / 1000 for o in ok if o["kind"] == "upsert"]
        work, lat = data["truth"]["rows"] / load, stats.median(ups) * 1000
        named["etl_load_rows_per_s"] = (work, "rows/s")
        named["etl_upsert_s_p50"] = (stats.median(ups), "s")
    elif workload == "corpus_curation":
        lat = stats.median([o["ms"] for o in ok if o["kind"] == "pass"])
        work = data["truth"]["docs"] / (lat / 1000)
        named["curation_docs_per_s"] = (work, "docs/s")
    else:
        ms = [o["ms"] for o in ok]
        work, lat = len(ok) / res["loop_s"], stats.median(ms)
        named["probe_ms_p50"] = (lat, "ms")
        p = stats.tail_percentile(len(ms))
        if p is not None:
            named["probe_ms_p%g" % p] = (stats.percentile(ms, p), "ms")
        named["probe_qps"] = (work, "req/s")
        recall = [r for rs in res["recall"].values() for r in rs]
        named["recall_at_10"] = (sum(recall) / max(1, len(recall)), "fraction")
    metrics = {"setup_s": (setup_s, "s"), "work_per_s": (work, "1/s"),
               "latency_ms_p50": (lat, "ms")}
    return metrics, named


def per_op_spark(tr, spans, op_names, cores):
    """Listener counts and planning time rolled up to each operation span."""
    plans_at = {}
    for p in tr["plans"]:
        sid = stats.innermost(spans, p["start_ms"])
        if sid is not None:
            plans_at.setdefault(sid, []).append(p)
    rows = []
    for s in spans:
        if s["name"] not in op_names:
            continue
        ids = stats.descendants(spans, s["id"])
        aggs = [tr["spark"][str(i)] for i in ids if str(i) in tr["spark"]]
        plans = [p for i in ids for p in plans_at.get(i, [])]
        wall = (s["end_ms"] - s["start_ms"]) / 1000

        def tot(k):
            return sum(a[k] for a in aggs)

        jobs = [iv for a in aggs for iv in a["job_intervals"]]
        busy = tot("task_ms") / 1000
        rows.append({
            "name": s["name"], "wall_s": wall,
            "plan.analysis_ms": sum(p["analysis_ms"] for p in plans),
            "plan.optimizer_ms": sum(p["optimizer_ms"] for p in plans),
            "plan.physical_ms": sum(p["physical_ms"] for p in plans),
            "spark.jobs": tot("jobs"), "spark.stages": tot("stages"), "spark.tasks": tot("tasks"),
            "spark.task_busy_s": busy,
            "spark.core_util": busy / (wall * cores) if wall > 0 else 0.0,
            "spark.driver_gap_s": wall - stats.union_length(jobs, s["start_ms"], s["end_ms"]) / 1000,
            "spark.shuffle_write_mb": tot("shuffle_write_bytes") / 2 ** 20,
            "spark.spill_mb": tot("spill_bytes") / 2 ** 20,
            "spark.gc_s": tot("gc_ms") / 1000,
            "spark.peak_exec_mem_mb": max([a["peak_exec_mem_bytes"] for a in aggs] or [0]) / 2 ** 20,
            "spark.storage_mb_start": s["storage_start_mb"],
            "spark.storage_mb_end": s["storage_end_mb"],
            "scan.input_mb": tot("input_bytes") / 2 ** 20,
            "scan.input_rows": tot("input_records"),
        })
    return rows


def self_time_table(tr, spans):
    selfs = stats.self_times(spans)
    by = {}
    for s in spans:
        b = by.setdefault(s["name"], [0, 0.0, 0.0, 0])
        b[0] += 1
        b[1] += (s["end_ms"] - s["start_ms"]) / 1000
        b[2] += selfs[s["id"]] / 1000
        a = tr["spark"].get(str(s["id"]))
        b[3] += a["jobs"] if a else 0
    return [{"span": n, "count": c, "total_s": t, "self_s": sf, "own_jobs": j}
            for n, (c, t, sf, j) in sorted(by.items())]


def per_layer(workload, res, cores):
    tr = res["traced"]
    spans = tr["spans"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["session.start_s"] = stats.median([s["session_s"] for s in res["setups"]])
    ops = per_op_spark(tr, spans, OP_SPANS[workload], cores)
    for k in m:
        if ops and k.split(".")[0] in ("plan", "spark", "scan"):
            m[k] = stats.median([o[k] for o in ops])

    def span_median(name):
        d = [(s["end_ms"] - s["start_ms"]) / 1000 for s in spans if s["name"] == name]
        return stats.median(d) if d else 0.0

    for name, _ in PER_LAYER:
        if name.endswith("_s") and name.split(".")[0] in ("etl", "curation"):
            m[name] = span_median(name[:-2])
    all_ops = res["all_ops"]
    if workload == "etl_fleet":
        ups = [o["info"] for o in all_ops if o["ok"] and o["kind"] == "upsert"]
        m["etl.bytes_written_per_input_byte"] = stats.median(
            [u["sink_bytes"] / u["input_bytes"] for u in ups])
        m["etl.files_written"] = stats.median([u["sink_files"] for u in ups])
    if workload == "corpus_curation":
        rep = [s for s in spans if s["name"] == "curation.representatives"]
        m["curation.representatives_jobs"] = stats.median(
            [sum(tr["spark"].get(str(i), {"jobs": 0})["jobs"]
                 for i in stats.descendants(spans, s["id"])) for s in rep])
        m["curation.near_dup_pairs"] = stats.median(
            [o["info"]["pairs"]["rows"] for o in all_ops if o["ok"]])
    if workload == "ann_serving":
        for path in ("ivf", "ivfadc", "lsh"):
            m["ann.%s_ms_p50" % path] = 1000 * span_median("ann." + path)
        m["ann.input_mb_per_probe"] = stats.median([o["scan.input_mb"] for o in ops])
        recall = [r for rs in res["recall"].values() for r in rs]
        m["ann.recall_at_10"] = sum(recall) / max(1, len(recall))
        for k in ("ann.build_ivf_s", "ann.build_ivfadc_s", "ann.build_lsh_s"):
            m[k] = stats.median([s["prepare"][k] for s in res["setups"]])
    m.update(tr["kernels"])
    prim = PRIMARY_OP[workload]
    untraced = [o["ms"] for o in res["ops"] if o["ok"] and o["kind"].startswith(prim)]
    traced = [o["ms"] for o in tr["ops"] if o["ok"] and o["kind"].startswith(prim)]
    if untraced and traced:
        m["trace.overhead_pct"] = 100 * (stats.median(traced) / stats.median(untraced) - 1)
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}, ops, self_time_table(tr, spans)


# --------------------------------------------------------------------- run

def run(args):
    t_start = time.time()
    facts = {"nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(), "heap": heap(),
             "loadavg_start": loadavg(), "git_commit": git_commit(), "seed": args.seed,
             "workload": args.workload, "seconds": args.seconds, "trace": args.trace}
    jars = spark_jars()
    classpath, facts["engine_source_hash"] = build(jars)
    run_dir = os.path.join(OUT, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        data = generate(args.workload, args.seed, os.path.join(run_dir, "data"))
        facts["generate_s"] = time.time() - t0
        facts["input"] = data["input"]
        facts["params"] = data["params"]
        if args.inject == "etl-count":
            data["truth"]["dup_by_date_station"] += 1
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": bool(args.trace), "cores": os.cpu_count(), "setups": SETUPS,
                "min_steps": MIN_STEPS[args.workload],
                "work": os.path.join(run_dir, "work"), "out": os.path.join(run_dir, "result.json"),
                "inject": args.inject or "",
                "data": {k: v for k, v in data.items() if k not in ("truth", "small_truth")}}
        with open(os.path.join(run_dir, "plan.json"), "w") as f:
            json.dump(plan, f)
        flags = ADD_OPENS + ["-Xmx" + heap(), "-Djava.io.tmpdir=" + tmp,
                             "-Dspark.local.dir=" + tmp,
                             "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse")]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        cmd = ["java"] + flags + ["-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
                                  "perfbench.Harness", os.path.join(run_dir, "plan.json")]
        jvm_log = os.path.join(run_dir, "jvm.log")
        t0, ticks0 = time.time(), cpu_ticks()
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise BenchError("harness JVM exceeded %d s" % JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:  # timeout, SIGTERM or Ctrl-C: never leave the JVM behind
                    proc.kill()
                    proc.wait()
        facts["jvm_s"] = time.time() - t0
        busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
        facts["steal_pct"] = 100.0 * steal / max(1, busy + steal)
        if code != 0 or not os.path.exists(plan["out"]):
            with open(jvm_log) as f:
                tail = f.read()[-3000:]
            raise BenchError("harness JVM exited with %d:\n%s" % (code, tail))
        with open(plan["out"]) as f:
            res = json.load(f)
        return report(args, facts, data, res, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, facts, data, res, t_start):
    t_checks = time.time()
    t = stats.Tally()
    res["all_ops"] = res["ops"] + (res["traced"]["ops"] if args.trace else [])
    for o in res["all_ops"]:
        t.op(o["ok"], "%s %d failed: %s" % (o["kind"], o["index"], o["error"]))
    t.check("error" not in res["finish"], "post-run collection", str(res["finish"].get("error")))
    res["recall"] = {}
    try:
        if args.workload == "etl_fleet":
            checks.check_etl(t, res, data["truth"])
        elif args.workload == "corpus_curation":
            checks.check_curation(t, res, data["truth"], data["small_truth"], data["small"], ROOT)
        else:
            res["recall"] = checks.check_ann(t, res, data["truth"])
    except Exception as e:  # an output the checks cannot even read is a failed check
        t.check(False, "%s checks" % args.workload, "%s: %s" % (type(e).__name__, e))
    facts["check_s"] = time.time() - t_checks
    facts.update(res["facts"])
    facts["jvm_args"] = [a.replace(ROOT, ".") for a in facts["jvm_args"]]
    facts.update({k: res[k] for k in ("loop_s", "finish_s")})
    facts["loadavg_end"] = loadavg()
    facts["wall_s"] = time.time() - t_start
    e2e, named = end_to_end(args.workload, res, data)
    named["fail_ratio"] = (t.fail_ratio, "failed/attempted")
    out = {"facts": facts, "attempted": t.attempted, "failed": t.failed,
           "failures": t.failures, "end_to_end": e2e, "named_metrics": named,
           "samples": {k: len([o for o in res["ops"] if o["kind"].startswith(k)])
                       for k in sorted({o["kind"].split(":")[0] for o in res["ops"]})},
           "op_ms": {k: [round(o["ms"], 3) for o in res["ops"] if o["kind"] == k]
                     for k in sorted({o["kind"] for o in res["ops"]})},
           "setups": res["setups"]}
    print("# %s seed=%d trace=%d  nproc=%s heap=%s spark=%s  inputs=%s" % (
        args.workload, args.seed, args.trace, facts["nproc"], facts["heap"],
        facts.get("spark_version"), json.dumps(facts["input"])))
    print("# samples per operation: %s" % json.dumps(out["samples"]))
    print(stats.table([(k, v, u) for k, (v, u) in named.items()]))
    metrics = {k: e2e[k] for k, _ in END_TO_END}
    if args.trace:
        layer, ops, selfs = per_layer(args.workload, res, facts["nproc"])
        out.update(per_layer=layer, per_op=ops, self_time=selfs)
        print(stats.table([(k, v, u) for k, (v, u) in layer.items()]))
        print(stats.table([(r["span"], r["count"], "%.4f" % r["total_s"], "%.4f" % r["self_s"],
                            r["own_jobs"]) for r in selfs],
                          header=("span", "count", "total_s", "self_s", "own_jobs")))
        metrics = {k: layer[k] for k, _ in PER_LAYER}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "report-%s-s%d-t%d.json" % (
            args.workload, args.seed, args.trace)), "w") as f:
        json.dump(out, f, indent=1, default=str)
    for name in t.failures:
        log("[perfbench] FAILED: %s" % name)
    print(stats.result_line(t, metrics), flush=True)
    return 0 if t.failed == 0 else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("etl-count", "ann-request"),
                    help="plant one failure (harness self-test)")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    except BenchError as e:
        log("[perfbench] error: %s" % e)
        return 2


if __name__ == "__main__":
    sys.exit(main())
