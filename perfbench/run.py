#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check
the outputs, print the metrics.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root or anywhere else; everything it builds,
generates and writes stays under perfbench/ (target/ and .work/). The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end set, with
--trace 1 the per-layer set. The lines before it name the workload's own
metrics (query_p50_ms, dedup_batch_p50_ms, ...) and, for traced runs, the
layer coverage and the tracing overhead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as mx  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

# Input scale per workload (1.0 = the generator's full size). olap_queries
# runs at one tenth of sf0.1 row counts: on a 4-core host every declared
# query is bound by per-job overhead (~0.5 s) at either size, and the
# smaller tables keep a run's warm-up round inside the time budget.
SCALE = {"olap_queries": 0.1, "dedup_ingest": 1.0}
# Warm set-ups per run, after the cold first one; setup_s is their median.
# The cold one (class loading, JIT: ~10 s against ~2 s on a 4-core host) is
# logged apart and not reported.
SETUPS = 3
# A run's JVM lives about a minute and never reaches C2 steady state: C2
# compiling beside the single client made olap_queries run medians bimodal
# (IQR/median 0.27-0.47 over 10 seeds on a 4-core host, 0.12 with C1 only,
# at equal medians).
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-Xmx3g"]
RUN_LIMIT_S = 170     # a whole run, build excluded
CHECK_RESERVE_S = 12  # kept free for the checks after the harness

OLAP_NAMES = (
    "q01_pricing_summary", "q04_join_group", "q05_dict_enrich", "q14_hourly_rollup",
    "q18_scalar_math", "q20_state_rollup", "q21_bitmap_funnel", "q22_wide_union",
    "q23_ch_dialect_mv", "q24_dictget_sql", "q25_catalog_query", "q63_asof_join",
    "q64_sessions", "q66_sequence_match", "mv_state_read", "mv_raw_read")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "state_bytes_per_raw_byte": "ratio",
}

PER_LAYER = dict([
    ("queries.build_ms", "ms"), ("queries.plan_ms", "ms"), ("queries.analysis_ms", "ms"),
    ("queries.optimization_ms", "ms"), ("queries.planning_ms", "ms"),
    ("queries.exec_ms", "ms"),
] + [(f"queries.{n}.p50_ms", "ms") for n in OLAP_NAMES] + [
    ("engine.chsql_translate_ms", "ms"),
    ("functions.codegen_fallback_exprs_per_op", "count"),
    ("functions.wscg_spans_per_op", "count"),
    ("mv.state_rows_per_raw_row", "ratio"),
    ("mv.state_read_ms", "ms"), ("mv.raw_read_ms", "ms"),
    ("mv.state_to_raw_rows_scanned", "ratio"), ("mv.projection_routed_frac", "frac"),
    ("dedup.dedup_and_append_ms", "ms"), ("dedup.jobs_per_ingest", "count"),
    ("dedup.shuffle_bytes_per_doc", "B"), ("dedup.candidate_pairs_per_doc", "count"),
    ("dedup.verified_pairs_per_candidate", "ratio"), ("dedup.exact_dups_per_batch", "count"),
    ("dedup.near_dups_per_batch", "count"), ("dedup.survivors_per_batch", "count"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.task_busy_frac", "frac"),
    ("spark.shuffle_write_bytes_per_op", "B"), ("spark.input_bytes_per_op", "B"),
    ("spark.output_bytes_per_op", "B"), ("spark.spill_bytes", "B"),
    ("spark.peak_execution_memory_mb", "MB"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_frac", "frac"), ("trace.layer_coverage_frac", "frac"),
    ("self_ms_per_op.bench", "ms"), ("self_ms_per_op.queries", "ms"),
    ("self_ms_per_op.engine", "ms"), ("self_ms_per_op.mv", "ms"),
    ("self_ms_per_op.dedup", "ms"),
])

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build_sources():
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def build(log_dir):
    """Compile the library and the harness with sbt, unless the classes were
    built from exactly these sources. Returns the sources' digest."""
    h = hashlib.sha256()
    for p in build_sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    try:
        with open(STAMP) as f:
            if f.read().strip() == digest and os.path.isdir(CLASSES):
                return digest
    except OSError:
        pass
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        die(f"build failed (sbt exit {r.returncode}):\n{tail(log)}", 1)
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark jars not found: set SPARK_HOME")
    return home


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(args, input_dir, out, state, log, ncores, budget_s):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Harness",
            "--workload", args.workload, "--input", input_dir, "--out", out,
            "--work", state, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--cores", str(ncores), "--setups", str(SETUPS)]
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=budget_s)
        except subprocess.TimeoutExpired:
            die(f"harness did not finish within {budget_s:.0f} s:\n{tail(log)}", 1)
    if r.returncode != 0:
        die(f"harness failed (exit {r.returncode}):\n{tail(log)}", 1)


def load(out):
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f if line.strip()]
    spans = []
    if os.path.exists(os.path.join(out, "spans.jsonl")):
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return run, ops, spans


def check(workload, run, ops, input_dir, manifest, seed, digest):
    """Run the workload's checks; return (failed op ids, problem lines).
    `digest` names the build, so survivor counts are only compared across
    runs of the same code."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from local_verify import compare
    meas = [o for o in ops if o["phase"] == "measure"]
    out = os.path.join(WORK, "runs", workload, "check")
    bad, problems = set(), []
    if workload == "olap_queries":
        wrong = checks.olap(out, input_dir, run["oracle_sql"], run["names"], compare)
        problems = [f"{k}: {v}" for k, v in sorted(wrong.items())]
        bad = {o["id"] for o in meas if o.get("name") in wrong}
    else:
        ledger = os.path.join(WORK, "ledger",
                              f"dedup-{digest[:16]}-v{gen.GEN_VERSION}-s{seed}.json")
        wrong = checks.dedup(ops, input_dir, manifest, ledger)
        problems = [f"op {k}: {v}" for k, v in sorted(wrong.items())]
        bad = set(wrong)
    problems += [f"op {o['id']} ({o.get('name') or o.get('kind', '')}): {o['error']}"
                 for o in meas if not o["ok"]]
    return bad, problems


def balanced(workload, ops):
    """olap_queries runs rounds of seeded permutations of its query list;
    its latency median is taken over complete rounds only, so every run
    weighs every query equally. Other workloads use every op."""
    if workload != "olap_queries":
        return ops
    full = len(ops) - len(ops) % len(OLAP_NAMES)
    return ops[:full] if full else ops


def loop_ops(run, ops, traced):
    """Measured ops of the untraced or the traced loop, and that loop's
    run-level facts (measured seconds, GC, heap peak)."""
    facts = next(x for x in run["loops"] if x["traced"] == traced)
    return [o for o in ops if o["phase"] == "measure" and o["traced"] == traced], facts


def throughput(workload, meas, measure_s):
    """Items per second of a timed loop; for olap_queries over its complete
    rounds (one client: their summed latencies are their time)."""
    full = balanced(workload, meas)
    if workload == "olap_queries" and len(full) >= len(OLAP_NAMES):
        return len(full) / (sum(o["ms"] for o in full) / 1e3)
    return sum(o["items"] for o in meas) / measure_s


def end_to_end(workload, run, ops):
    meas, facts = loop_ops(run, ops, traced=False)
    return {
        "setup_s": mx.median(run["setup_s"]),
        "op_p50_ms": mx.median([o["ms"] for o in balanced(workload, meas)]),
        "items_per_s": throughput(workload, meas, facts["measure_s"]),
        "state_bytes_per_raw_byte": run["state_bytes"] / run["raw_bytes"],
    }


def named(workload, run, ops, attempted, failed):
    """The workload's own end-to-end metrics, as the docs name them, from
    the untraced loop."""
    meas, facts = loop_ops(run, ops, traced=False)

    def p50_p90(prefix, xs):
        t = mx.tail(xs, highest=90.0)
        return {f"{prefix}_p50_ms": mx.median(xs),
                f"{prefix}_p90_ms": t[1] if t else None}

    m = {"setup_s": mx.median(run["setup_s"]),
         "failed_ops_frac": failed / attempted if attempted else 0.0}
    if workload == "olap_queries":
        m.update(p50_p90("query", [o["ms"] for o in balanced(workload, meas)]))
        m["queries_per_s"] = throughput(workload, meas, facts["measure_s"])
    else:
        m["dedup_docs_per_s"] = sum(o["items"] for o in meas) / facts["measure_s"]
        m["dedup_batch_p50_ms"] = mx.median([o["ms"] for o in meas])
    return m, len(meas)


def per_layer(workload, run, ops, spans, input_dir, manifest, ncores):
    """Per-layer metrics from the traced loop; the tracing overhead from the
    traced loop against the untraced one."""
    meas, facts = loop_ops(run, ops, traced=True)
    ids = {o["id"] for o in meas}
    sp = [s for s in spans if s["op"] in ids]
    selfs = mx.self_times(sp)
    self_ms, coverage = mx.span_summary(sp)
    med, mean = mx.median, (lambda xs: sum(xs) / len(xs) if xs else 0.0)

    def span_ms(name):
        return med(mx.durations_ms(sp, name))

    def spark(o, k):
        return o.get("spark", {}).get(k, 0)

    m = {k: 0.0 for k in PER_LAYER}
    packs = [o for o in meas if o.get("name", "").startswith("q")]
    m["queries.build_ms"] = span_ms("queries.build")
    m["queries.analysis_ms"] = med([o["analysis_ms"] for o in packs])
    m["queries.optimization_ms"] = med([o["plan"]["optimization_ms"] for o in packs])
    m["queries.planning_ms"] = med([o["plan"]["planning_ms"] for o in packs])
    m["queries.plan_ms"] = med([o["plan"]["optimization_ms"] + o["plan"]["planning_ms"]
                                for o in packs])
    m["queries.exec_ms"] = med([selfs[s["id"]] / 1e6 for s in sp if s["name"] == "queries.exec"])
    for n in OLAP_NAMES:
        m[f"queries.{n}.p50_ms"] = med([o["ms"] for o in meas if o.get("name") == n])
    m["engine.chsql_translate_ms"] = span_ms("engine.chsql_translate")
    planned = [o for o in meas if o["plan"]]
    m["functions.codegen_fallback_exprs_per_op"] = mean([o["plan"]["fallback_exprs"] for o in planned])
    m["functions.wscg_spans_per_op"] = mean([o["plan"]["wscg_spans"] for o in planned])

    if run.get("state_rows"):
        m["mv.state_rows_per_raw_row"] = run["state_rows"] / run["raw_rows"]
    m["mv.state_read_ms"] = span_ms("mv.state_read")
    m["mv.raw_read_ms"] = span_ms("mv.raw_read")
    st_rows = med([spark(o, "input_records") for o in meas if o.get("name") == "mv_state_read"])
    raw_rows = med([spark(o, "input_records") for o in meas if o.get("name") == "mv_raw_read"])
    m["mv.state_to_raw_rows_scanned"] = st_rows / raw_rows if raw_rows else 0.0
    if packs:
        state = run["state_path"]
        routed = [o for o in packs if any(state in p for p in o["plan"]["scanned_paths"])]
        m["mv.projection_routed_frac"] = len(routed) / len(packs)

    ded = [o for o in meas if "survivors" in o]
    if ded:
        docs = sum(o["items"] for o in ded)
        m["dedup.dedup_and_append_ms"] = span_ms("dedup.dedup_and_append")
        m["dedup.jobs_per_ingest"] = mean([spark(o, "jobs") for o in ded])
        m["dedup.shuffle_bytes_per_doc"] = sum(spark(o, "shuffle_write") for o in ded) / docs
        pre = [o for o in ded if o["pre"]]
        cand = sum(o["pre"]["candidate_pairs"] for o in pre)
        m["dedup.candidate_pairs_per_doc"] = cand / sum(o["items"] for o in pre) if pre else 0.0
        m["dedup.verified_pairs_per_candidate"] = (
            sum(o["pre"]["verified_pairs"] for o in pre) / cand if cand else 0.0)
        counts = checks.dedup_counts(ded, input_dir, manifest)
        m["dedup.exact_dups_per_batch"] = mean([c[0] for c in counts])
        m["dedup.near_dups_per_batch"] = mean([c[1] for c in counts])
        m["dedup.survivors_per_batch"] = mean([c[2] for c in counts])

    for k, key in (("jobs_per_op", "jobs"), ("stages_per_op", "stages"),
                   ("tasks_per_op", "tasks"), ("shuffle_write_bytes_per_op", "shuffle_write"),
                   ("input_bytes_per_op", "input_bytes"), ("output_bytes_per_op", "output_bytes")):
        m[f"spark.{k}"] = mean([spark(o, key) for o in meas])
    wall = sum(o["ms"] for o in meas)
    m["spark.task_busy_frac"] = (sum(spark(o, "run_ms") for o in meas) / (wall * ncores)
                                 if wall else 0.0)
    m["spark.spill_bytes"] = sum(spark(o, "spill") for o in meas)
    m["spark.peak_execution_memory_mb"] = max([spark(o, "peak_exec_mem") for o in meas],
                                              default=0) / 1048576.0
    m["jvm.gc_ms"] = facts["gc_ms"]
    m["jvm.heap_peak_mb"] = facts["heap_peak_mb"]
    m["trace.overhead_frac"] = mx.overhead(loop_ops(run, ops, traced=False)[0], meas)
    m["trace.layer_coverage_frac"] = coverage
    for layer in ("bench", "queries", "engine", "mv", "dedup"):
        m[f"self_ms_per_op.{layer}"] = self_ms.get(layer, 0.0)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "local_verify.py")):
        die(f"library sources not found under {ROOT}: run from a full checkout")
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    digest = build(logs)
    t_built = time.monotonic()

    w = args.workload
    input_dir = os.path.join(WORK, "inputs", w)
    manifest = gen.cached(w, args.seed, input_dir, SCALE[w])
    out = os.path.join(WORK, "runs", w)
    state = os.path.join(WORK, "state", w)
    for d in (out, state):
        shutil.rmtree(d, ignore_errors=True)
    ncores = cores()
    budget = RUN_LIMIT_S - CHECK_RESERVE_S - (time.monotonic() - t_built)
    run_harness(args, input_dir, out, state, os.path.join(logs, f"{w}.log"), ncores, budget)
    shutil.rmtree(state, ignore_errors=True)

    t_harness = time.monotonic()
    run, ops, spans = load(out)
    bad, problems = check(w, run, ops, input_dir, manifest, args.seed, digest)
    meas = [o for o in ops if o["phase"] == "measure"]
    attempted, failed = mx.failure_accounting(meas, lambda o: o["id"] in bad)
    for p in problems:
        print(f"# check failed: {p}")
    print(f"# timing: build {t_built - t_start:.1f} s, harness {t_harness - t_built:.1f} s, "
          f"checks {time.monotonic() - t_harness:.1f} s")
    if attempted == 0:
        die("no op completed inside the measured window", 1)

    own, n = named(w, run, ops, attempted, failed)
    print(f"# {w} seed={args.seed} ops={attempted} samples={n} "
          f"setups={len(run['setup_s'])} (cold {run['cold_setup_s']:.2f} s not counted) "
          f"cores={ncores} " + json.dumps(own))
    if args.trace:
        values = per_layer(w, run, ops, spans, input_dir, manifest, ncores)
        units = PER_LAYER
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(out, "spans.jsonl"),
                    os.path.join(traces, f"{w}-s{args.seed}.spans.jsonl"))
        print(f"# layer coverage of op wall time: {values['trace.layer_coverage_frac']:.3f}; "
              f"tracing overhead: {values['trace.overhead_frac']:+.3f}")
    else:
        values = end_to_end(w, run, ops)
        units = END_TO_END
    # a failed check fails the run even when no measured op ran that query
    line = mx.result_line(failed == 0 and not problems, attempted, failed,
                          {k: (values[k], units[k]) for k in units})
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
