"""The repository benchmark: the Sailfish CLI pipeline (`index` then
`quantify`) and the query surface, driven from one JVM at local[4] with a
single client issuing one operation at a time.

    python3 perfbench/run.py --workload quant_default --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
benchmark driver into .bench_build/. Inputs are generated from --seed into
.bench_work/ outside the timed region and removed afterwards. The last line
of standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics (from a SparkListener and spans around each layer's public
function) with --trace 1. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CPUS = 4
HEAP = "3g"
YOUNG = "1g"
FAMILIES = ("relational", "genomics", "text", "dedup", "similarity",
            "multimodal", "audits", "metrics", "learn", "streaming")

# Each workload also runs a slice of the query surface; together the two
# slices hold one query of every family, and two more genomics queries (the
# query-surface face of the pipeline's Indexer and Quantify). q21_ec_summary
# consumes a memo, so a memo build is paid inside the pass.
WORKLOADS = {
    "quant_default": dict(preset="quant_default", iterations=7,
                          calibrate_kmers=True, calibrate_length=True,
                          queries=("q131_window_zoo", "q20_kmer_histogram",
                                   "q23_estep", "q85_oov_rate",
                                   "q109_contamination", "q169_bloom_fpr")),
    # Length calibration is off so that the written abundances are the EM's
    # own estimate, which abundance_l1 scores.
    "quant_reads": dict(preset="quant_reads", iterations=5,
                        calibrate_kmers=False, calibrate_length=False,
                        queries=("q21_ec_summary", "q88_wav_features",
                                 "q226_chisq_independence", "q199_calibration",
                                 "q210_ridge_normal_eq", "q71_stream_dedup")),
}

# Per-span counters of the traced pipeline, in report order.
PIPELINE_SPANS = ("io.genome", "io.gtf", "io.reads", "index.build",
                  "quantify.count_kmers", "calibrate.kmers",
                  "quantify.map_classes", "quantify.init_em", "quantify.em",
                  "calibrate.tx_len", "quantify.apply")
SPAN_COUNTERS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("cpu_s", "s"), ("driver_s", "s"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"))
CORE_UTIL_SPANS = ("io.reads", "quantify.count_kmers", "calibrate.kmers",
                   "index.build")
FAMILY_COUNTERS = (("wall_s", "s"), ("jobs", "count"), ("cpu_s", "s"),
                   ("driver_s", "s"))
END_TO_END = (("setup_s", "s"), ("index_s", "s"), ("quantify_s", "s"),
              ("abundance_l1", "ratio"), ("query_s", "s"), ("query_p50_s", "s"),
              ("query_p95_s", "s"), ("peak_rss_mb", "MB"))


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{s}.{c}", u) for s in PIPELINE_SPANS for c, u in SPAN_COUNTERS]
    out += [("quantify.kmer_hit_ratio", "ratio"), ("quantify.em.s_per_iter", "s")]
    out += [(f"{s}.core_util", "ratio") for s in CORE_UTIL_SPANS]
    out += [(f"{f}.{c}", u) for f in FAMILIES for c, u in FAMILY_COUNTERS]
    out += [("memo.build_s", "s"), ("failed_frac", "ratio")]
    return out


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def java_command(classpath, plan_path, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # a fixed heap and young generation keep the peak resident set from
    # following the collector's adaptive sizing from run to run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "perfbench.Driver", plan_path]
    return cmd


def read_events(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_jvm(classpath, work, plan, timeout):
    """Launch the driver JVM on `plan`; return (launch epoch s, events, rc)."""
    plan = dict(plan, events=os.path.join(work, "events.jsonl"))
    plan_path = os.path.join(work, "plan.txt")
    with open(plan_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())
    log = open(os.path.join(work, "jvm.log"), "w")
    t_launch = time.time()
    proc = subprocess.Popen(java_command(classpath, plan_path, work),
                            stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = -9
    log.close()
    events = read_events(plan["events"]) if os.path.exists(plan["events"]) else []
    return t_launch, events, rc


def check_ops(events, truth, oracle):
    """Operation records with output-check problems attached."""
    tids = list(truth)
    ops = []
    for e in events:
        if e["ev"] != "op":
            continue
        op = dict(e, problems=[])
        if op["ok"] and op["kind"] == "quantify":
            op["pairs"] = stats.read_abundances(op["out"])
            op["problems"] = stats.abundance_problems(op["pairs"], tids)
        elif op["ok"] and op["kind"] == "query":
            want = oracle.get(op["name"])
            if want is None or op["rows"] != want:
                op["problems"] = [f"rows {op['rows']} != oracle {want}"]
        ops.append(op)
    return ops


def _wall(ops, kind):
    walls = [o["wall_s"] for o in ops if o["kind"] == kind and o["ok"]]
    return stats.median(walls) if walls else 0.0


def end_to_end(events, ops, truth, setup_s):
    per_cycle, per_query = {}, {}
    for o in ops:
        if o["kind"] == "query" and o["ok"]:
            per_cycle.setdefault(o["cycle"], []).append(o["wall_s"])
            per_query.setdefault(o["name"], []).append(o["wall_s"])
    query_medians = [stats.median(v) for v in per_query.values()] or [0.0]
    l1 = [stats.l1_distance(o["pairs"], truth)
          for o in ops if o["kind"] == "quantify" and o["ok"]]
    rss = [e["vmhwm_kb"] for e in events if e["ev"] == "rss"]
    return {
        "setup_s": setup_s,
        "index_s": _wall(ops, "index"),
        "quantify_s": _wall(ops, "quantify"),
        "abundance_l1": stats.median(l1) if l1 else 0.0,
        "query_s": stats.median([sum(c) for c in per_cycle.values()] or [0.0]),
        "query_p50_s": stats.percentile(query_medians, 50),
        "query_p95_s": stats.percentile(query_medians, 95),
        "peak_rss_mb": rss[0] / 1024.0 if rss else 0.0,
    }


def span_counters(events):
    """{(span name, cycle): counters} from span, job and task events."""
    jobs_by_span = {}
    all_jobs = []
    for e in events:
        if e["ev"] == "job":
            iv = (e["start_ms"] / 1e3, e["end_ms"] / 1e3)
            all_jobs.append(iv)
            jobs_by_span.setdefault(e["span"], []).append(iv)
    tasks = {e["span"]: e for e in events if e["ev"] == "tasks"}
    out = {}
    for e in events:
        if e["ev"] != "span":
            continue
        key = f"{e['name']}#{e['cycle']}"
        t = tasks.get(key, {})
        start, end = e["start_ms"] / 1e3, e["end_ms"] / 1e3
        out[(e["name"], e["cycle"])] = {
            "wall_s": e["wall_s"],
            "jobs": len(jobs_by_span.get(key, [])),
            "tasks": t.get("count", 0),
            "cpu_s": t.get("cpu_ns", 0) / 1e9,
            "driver_s": stats.driver_seconds(start, end, all_jobs),
            "shuffle_mb": t.get("shuffle_write_bytes", 0) / 2**20,
            "spill_mb": t.get("spill_bytes", 0) / 2**20,
        }
    return out


def per_layer(events, ops, spec):
    spans = span_counters(events)
    cycles = sorted({c for _, c in spans})
    metrics = {}

    def put(name, values):
        metrics[name] = stats.median(values) if values else 0.0

    def counters(name, cycle):
        if name == "quantify.em":
            full = spans.get(("quantify.apply", cycle))
            zero = spans.get(("quantify.apply0", cycle))
            if full is None or zero is None:
                return None
            return {c: full[c] - zero[c] for c in full}
        return spans.get((name, cycle))

    for s in PIPELINE_SPANS:
        per_cycle = [c for c in (counters(s, cy) for cy in cycles) if c]
        for c, _ in SPAN_COUNTERS:
            put(f"{s}.{c}", [x[c] for x in per_cycle])
    put("quantify.kmer_hit_ratio",
        [e["value"] for e in events if e["ev"] == "kmer_hit_ratio"])
    iters = spec["iterations"]
    metrics["quantify.em.s_per_iter"] = (
        metrics["quantify.em.wall_s"] / iters if iters else 0.0)
    for s in CORE_UTIL_SPANS:
        wall = metrics[f"{s}.wall_s"]
        metrics[f"{s}.core_util"] = (
            metrics[f"{s}.cpu_s"] / (wall * CPUS) if wall > 0 else 0.0)
    for f in FAMILIES:
        for c, _ in FAMILY_COUNTERS:
            put(f"{f}.{c}", [sum(v[c] for (n, cy2), v in spans.items()
                                 if cy2 == cy and n.startswith(f"query.{f}."))
                             for cy in cycles])
    put("memo.build_s", [e["build_s"] for e in events if e["ev"] == "memo"])
    attempted, failed = stats.count_failures(ops)
    metrics["failed_frac"] = failed / attempted if attempted else 1.0
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    spec = WORKLOADS[a.workload]
    root = os.getcwd()

    classpath = build.build(root)  # exits non-zero when the program is absent
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs_dir = os.path.join(work, "inputs")
        gen.generate(inputs_dir, spec["preset"], a.seed)
        with open(os.path.join(inputs_dir, "truth.tsv")) as f:
            truth = {t: float(v) for t, v in (l.split("\t") for l in f)}
        oracle = load_json("oracle_rows.json")
        plan = {
            "trace": a.trace, "cpus": CPUS, "seconds": a.seconds,
            "fasta": os.path.join(inputs_dir, "genome.fa"),
            "gtf": os.path.join(inputs_dir, "annotation.gtf"),
            "fastq": os.path.join(inputs_dir, "reads.fastq"),
            "k": gen.K, "iterations": spec["iterations"],
            "calibrate_kmers": int(spec["calibrate_kmers"]),
            "calibrate_length": int(spec["calibrate_length"]),
            "work": work, "sfdir": os.path.join(HERE, "data", "sf0.01"),
            "queries": ",".join(spec["queries"]),
        }
        t_launch, events, rc = run_jvm(classpath, work, plan, timeout=160)
        ready = [e["ready_ms"] for e in events if e["ev"] == "setup"]
        ops = check_ops(events, truth, oracle)
        if rc != 0 or not ready or not ops:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"driver JVM failed (exit {rc})")
        for o in ops:
            if not o["ok"] or o["problems"]:
                sys.stderr.write(f"FAILED {o['kind']} {o['name']}: "
                                 f"{o.get('err') or '; '.join(o['problems'])}\n")
        attempted, failed = stats.count_failures(ops)
        units = dict(per_layer_names() if a.trace else END_TO_END)
        values = (per_layer(events, ops, spec) if a.trace else
                  end_to_end(events, ops, truth, ready[0] / 1e3 - t_launch))
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
