#!/usr/bin/env python3
"""graft benchmark: seeded closed-loop workloads against graft's
public entry points, measured end to end and (with --trace 1) per layer.

    python3 perfbench/run.py --workload analytic|serve \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the runner
with sbt (offline) and caches the classpath under perfbench/.build; later
runs start the JVM directly. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the lines before it are a
readable report. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import corpus
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170.0

WORKLOADS = ("analytic", "serve")
# The end-to-end metric set of the benchmark's specification, all printed in
# the report; the JSON line carries those of BENCHMARK.json.
SPEC_METRICS = ("setup_s", "ops_per_s", "failed_frac", "live_heap_mb", "suite_s",
                "query_geomean_ms", "read_p50_ms", "read_p95_ms", "write_p50_ms",
                "write_p95_ms", "write_rows_per_s", "filtered_read_p50_ms",
                "gate_p50_ms")
IOT_READS = ("tql_latest", "tql_range", "tql_sampling", "sql_range")

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, env, timeout, out_path):
    """Run cmd in its own process group, output to out_path; kill the whole
    group on timeout and wait for it. Returns the exit code (None on
    timeout)."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail_of(path, n=4000):
    """The last n characters of a log file."""
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


# ---- build -------------------------------------------------------------

def source_files():
    pats = ["perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*.scala", "build.sbt", "project/*.sbt",
            "project/*.properties", "project/*.scala", "src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile graft and the runner; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources not found under src/main/scala "
                         "(run from the repository root)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(BUILD, "sbt.log")
    log("building graft and the benchmark runner (sbt, offline)")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, env,
                     deadline - time.time(), out)
    if rc != 0:
        sys.stderr.write(tail_of(out))
        raise SystemExit(f"perfbench: build failed (exit {rc})")
    with open(out) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---- run ---------------------------------------------------------------

def run_jvm(cp, args, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # input generation is part of set-up; serve only needs the documents
    corpus_dir = os.path.join(run_dir, "corpus")
    t0 = time.perf_counter()
    corpus.write(corpus_dir, only=None if args.workload == "analytic" else ["documents"])
    gen_s = time.perf_counter() - t0
    raw = os.path.join(WORK, "raw.json")
    if os.path.exists(raw):
        os.remove(raw)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--corpus", corpus_dir, "--work", run_dir, "--out", raw,
            "--expected", os.path.join(HERE, "expected_counts.json")]
    out = os.path.join(WORK, "jvm.log")
    rc = run_bounded(cmd, run_dir, dict(os.environ), deadline - time.time(), out)
    if rc != 0 or not os.path.exists(raw):
        sys.stderr.write(tail_of(out))
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    with open(raw) as f:
        data = json.load(f)
    data["gen_s"] = gen_s
    with open(raw, "w") as f:
        json.dump(data, f)
    keep = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    shutil.move(raw, keep)
    shutil.rmtree(run_dir, ignore_errors=True)
    return data


# ---- metrics -----------------------------------------------------------

def lat(o):
    return o["end"] - o["start"]


def timed_ok(ops, kinds=None, traced=None):
    return [o for o in ops if o["timed"] and o["ok"]
            and (kinds is None or o["kind"] in kinds)
            and (traced is None or o["traced"] == traced)]


def loop_seconds(raw):
    return sum((s["end"] - s["start"]) / 1000.0 for s in raw["segments"])


def ops_rate(raw, ops, traced=None):
    """Operations per second, each phase's rate weighted by its nominal
    share of the run, so a phase that overran its deadline by part of an
    operation does not shift the mix."""
    rate = 0.0
    for phase in sorted({s["phase"] for s in raw["segments"]}):
        segs = [s for s in raw["segments"] if s["phase"] == phase
                and (traced is None or s["traced"] == traced)]
        secs = sum((s["end"] - s["start"]) / 1000.0 for s in segs)
        n = sum(1 for o in ops for s in segs if s["start"] <= o["start"] < s["end"])
        rate += segs[0]["share"] * n / secs
    return rate


def kind_medians(ops):
    """Operation kind (on analytic: registry query name) -> median latency."""
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(lat(o))
    return {k: stats.median(v) for k, v in by.items()}


def end_to_end(raw):
    """(metrics for the JSON line, report rows, attempted, failed)."""
    w = raw["workload"]
    ops = timed_ok(raw["ops"])
    attempted = raw["ops"]
    failed = [o for o in attempted if not o["ok"]]
    secs = loop_seconds(raw)
    setup = raw["gen_s"] + raw["session_s"] + raw["setup_s"] + raw["warm_s"]
    per = kind_medians(ops)
    m = {
        "setup_s": (setup, "s", 1),
        "ops_per_s": (ops_rate(raw, ops), "1/s", len(ops)),
        "op_geomean_ms": (stats.geomean(per.values()), "ms", len(per)),
        "live_heap_mb": (raw["live_heap_mb"], "MB", 1),
    }
    report = dict(m)
    report["failed_frac"] = (len(failed) / max(1, len(attempted)), "ratio", len(attempted))

    def lat_rows(name, kinds):
        xs = [lat(o) for o in ops if o["kind"] in kinds]
        if not xs:
            return
        report[f"{name}_p50_ms"] = (stats.median(xs), "ms", len(xs))
        p, v = stats.tail(xs)
        if p is not None:
            report[f"{name}_p{p:g}_ms"] = (v, "ms", len(xs))

    if w == "analytic":
        passes = [sum(lat(o) for o in ops[i:i + len(per)])
                  for i in range(0, len(ops) - len(per) + 1, len(per))]
        report["suite_s"] = (stats.median(passes) / 1000.0, "s", len(passes))
        report["query_geomean_ms"] = (stats.geomean(per.values()), "ms", len(per))
        lat_rows("read", tuple(per))
    else:
        lat_rows("read", IOT_READS)
        lat_rows("write", ("put",))
        for kind, name in (("put", "write_rows_per_s"), ("ann_append", "append_rows_per_s")):
            done = [o for o in ops if o["kind"] == kind]
            report[name] = (sum(o["extra"]["rows_put"] for o in done) / secs, "rows/s", len(done))
        lat_rows("ann_read", ("ann_topk",))
        lat_rows("filtered_read", ("ann_topk_filtered",))
        lat_rows("gate", ("dedup_gate",))
        lat_rows("append", ("ann_append",))
        for kind in IOT_READS:
            lat_rows(kind, (kind,))
    return m, report, len(attempted), len(failed)


# The layer a span name belongs to, for the blocking-path split: deeper
# layers win an instant over the layer that called them.
def span_rank(name):
    if name == "op":
        return 0
    if name.startswith("spark.stage"):
        return 3
    if name.startswith("spark.plan.") or name.startswith("spark.job"):
        return 2
    return 1


PER_LAYER = [
    ("spark.plan.analysis_ms", "ms"), ("spark.plan.optimization_ms", "ms"),
    ("spark.plan.planning_ms", "ms"), ("tql.parse_ms", "ms"),
    ("tql.compile_ms", "ms"), ("engine.sql_call_ms", "ms"),
    ("engine.eager_sql_executions", "count"), ("engine.catalog.put_ms", "ms"),
    ("engine.catalog.rows_rewritten_per_row", "ratio"),
    ("engine.catalog.container_rows", "rows"), ("spark.exec.action_ms", "ms"),
    ("spark.exec.sql_executions_per_op", "count"),
    ("spark.exec.jobs_per_op", "count"), ("spark.exec.tasks_per_op", "count"),
    ("spark.exec.task_wait_ms", "ms"), ("spark.exec.task_busy_ms_per_op", "ms"),
    ("spark.exec.core_util", "ratio"), ("spark.exec.task_skew", "ratio"),
    ("spark.exec.shuffle_write_mb_per_op", "MB"), ("spark.exec.spill_mb", "MB"),
    ("spark.exec.gc_share", "ratio"), ("jvm.gc_pause_ms", "ms"),
    ("spark.core_sql.pass_ms", "ms"), ("ts.pass_ms", "ms"), ("mr.pass_ms", "ms"),
    ("pipeline.dedup.pass_ms", "ms"), ("pipeline.sim.pass_ms", "ms"),
    ("pipeline.text.pass_ms", "ms"), ("pipeline.ann.serve_call_ms", "ms"),
    ("pipeline.ann.serve_action_ms", "ms"), ("pipeline.ann.filtered_call_ms", "ms"),
    ("pipeline.ann.filtered_action_ms", "ms"), ("pipeline.ann.append_ms", "ms"),
    ("pipeline.ann.index_files", "count"),
    ("pipeline.ann.index_mb_per_1k_vectors", "MB"),
    ("pipeline.ann.versions_retained", "count"),
    ("pipeline.ann.appended_fraction", "ratio"),
    ("pipeline.dedup.gate_call_ms", "ms"), ("pipeline.dedup.gate_action_ms", "ms"),
    ("pipeline.dedup.index_files", "count"), ("trace.overhead_frac", "ratio"),
    ("trace.residual_frac", "ratio"),
]
PER_LAYER_UNITS = dict(PER_LAYER)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw):
    """(metrics, blocking-path self time per span name in ms per op)."""
    w = raw["workload"]
    ops = timed_ok(raw["ops"], traced=True)
    spans = {}
    for op, name, s, e in raw["spans"]:
        if e is not None and s is not None:
            spans.setdefault(op, []).append((name, s, e))

    def span_ms(o, name):
        return sum(e - s for n, s, e in spans.get(o["id"], []) if n == name)

    def has(o, name):
        return any(n == name for n, _, _ in spans.get(o["id"], []))

    def mean_span(name, kinds=None):
        return mean(span_ms(o, name) for o in ops
                    if has(o, name) and (kinds is None or o["kind"] in kinds))

    ex = [o["exec"] for o in ops if o.get("exec")]
    tot = lambda k: sum(x[k] for x in ex)
    n = max(1, len(ops))
    wall = sum(lat(o) for o in ops)
    tasks = tot("tasks")
    skews = [s for x in ex for s in x["skews"]]
    puts = [o for o in ops if o["kind"] == "put"]
    m = {
        "spark.plan.analysis_ms": mean_span("spark.plan.analysis"),
        "spark.plan.optimization_ms": mean_span("spark.plan.optimization"),
        "spark.plan.planning_ms": mean_span("spark.plan.planning"),
        "tql.parse_ms": mean_span("tql.parse"),
        "tql.compile_ms": mean_span("tql.compile"),
        "engine.sql_call_ms": mean_span("engine.sql_call"),
        "engine.eager_sql_executions": mean(
            (o.get("exec") or {}).get("eager_sql_execs", 0)
            for o in ops if has(o, "engine.sql_call")),
        "engine.catalog.put_ms": mean_span("engine.catalog.put"),
        "engine.catalog.rows_rewritten_per_row": mean(
            o["extra"]["rows_before"] / o["extra"]["rows_put"] for o in puts),
        "spark.exec.action_ms": mean_span("spark.action"),
        "spark.exec.sql_executions_per_op": tot("sql_execs") / n,
        "spark.exec.jobs_per_op": tot("jobs") / n,
        "spark.exec.tasks_per_op": tasks / n,
        "spark.exec.task_wait_ms": tot("wait_ms") / max(1, tasks),
        "spark.exec.task_busy_ms_per_op": tot("busy_ms") / n,
        "spark.exec.core_util": tot("busy_ms") / max(1e-9, wall * raw["cores"]),
        "spark.exec.task_skew": stats.median(skews) if skews else 0.0,
        "spark.exec.shuffle_write_mb_per_op": tot("shuffle_write_bytes") / 1e6 / n,
        "spark.exec.spill_mb": tot("spill_bytes") / 1e6,
        "spark.exec.gc_share": tot("gc_ms") / max(1, tot("run_ms")),
        "jvm.gc_pause_ms": float(raw["gc_pause_ms"]),
    }
    fam = {}
    if w == "analytic":
        for q, v in kind_medians(ops).items():
            f = family(q)
            fam[f] = fam.get(f, 0.0) + v
    for f in ("spark.core_sql", "ts", "mr", "pipeline.dedup", "pipeline.sim", "pipeline.text"):
        m[f"{f}.pass_ms"] = fam.get(f, 0.0)
    for kind, prefix in (("ann_topk", "pipeline.ann.serve"),
                         ("ann_topk_filtered", "pipeline.ann.filtered"),
                         ("dedup_gate", "pipeline.dedup.gate")):
        m[f"{prefix}_call_ms"] = mean_span("engine.sql_call", (kind,))
        m[f"{prefix}_action_ms"] = mean_span("spark.action", (kind,))
    m["pipeline.ann.append_ms"] = mean(lat(o) for o in ops if o["kind"] == "ann_append")
    for k in ("engine.catalog.container_rows", "pipeline.ann.index_files",
              "pipeline.ann.index_mb_per_1k_vectors", "pipeline.ann.versions_retained",
              "pipeline.ann.appended_fraction", "pipeline.dedup.index_files"):
        m[k] = float(raw["layer_extras"].get(k, 0.0))
    # overhead: traced against untraced segments of the same process
    ups = ops_rate(raw, timed_ok(raw["ops"]), traced=False)
    tps = ops_rate(raw, ops, traced=True)
    m["trace.overhead_frac"] = 1.0 - tps / ups if ups > 0 else 0.0
    # self time along each operation's blocking path
    split = {}
    for o in ops:
        parts = stats.blocking_path((o["start"], o["end"]),
                                    [x for x in spans.get(o["id"], []) if x[0] != "op"],
                                    span_rank)
        for k, v in parts.items():
            split[k] = split.get(k, 0.0) + v
    m["trace.residual_frac"] = split.get("residual", 0.0) / max(1e-9, wall)
    return m, {k: v / n for k, v in split.items()}


def family(name):
    if name.startswith("q_dedup_"):
        return "pipeline.dedup"
    if name.startswith("q_sim_"):
        return "pipeline.sim"
    if name.startswith("q_text_"):
        return "pipeline.text"
    if name.startswith("q_mr_"):
        return "mr"
    if name.startswith("q_ts_") or name in ("q_asof_join_prev", "q_range_join_attrib"):
        return "ts"
    return "spark.core_sql"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    os.makedirs(WORK, exist_ok=True)
    cp = build(start + 840.0)
    raw = run_jvm(cp, args, time.time() + DEADLINE_S)

    m, report, attempted, failed = end_to_end(raw)
    print(f"# graft benchmark: workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} cores={raw['cores']}")
    for name, (v, unit, n) in report.items():
        print(f"{name:<24} {v:>14.4f} {unit:<7} n={n}")
    for name in SPEC_METRICS:
        if name not in report:
            print(f"{name:<24} {'n/a':>14} (not defined on {args.workload}, "
                  "or too few samples for the tail rule)")
    causes = {}
    for o in raw["ops"]:
        if not o["ok"]:
            causes[o["cause"]] = causes.get(o["cause"], 0) + 1
    for c, k in sorted(causes.items(), key=lambda x: -x[1]):
        print(f"failure x{k}: {c}")
    if args.trace:
        layer, split = per_layer(raw)
        print("# per-layer (traced segments)")
        for name, v in layer.items():
            print(f"{name:<40} {v:>14.4f} {PER_LAYER_UNITS[name]}")
        print("# blocking-path self time, ms per op")
        for name, v in sorted(split.items(), key=lambda x: -x[1]):
            print(f"  {name:<30} {v:>10.2f}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in m.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
