#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run compiles graft's
sources and the JVM harness in perfbench/src with sbt and generates the
input tables; both land in .bench_build/perfbench and are reused while the
sources are unchanged. Every run then starts one JVM with one local Spark
session, sets it up, runs the workload closed-loop for --seconds, checks
every output and prints, as its last line, one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gendata  # noqa: E402
import stats  # noqa: E402
import workload  # noqa: E402

ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DIGESTS = os.path.join(HERE, "digests.json")

WORKLOADS = ("agent_requests", "batch_analytics")
# Table scale per workload. The request path is bound by driver and
# scheduling time, so it runs at sf0.1; the batch pass runs at the scale
# that fits the run budget (README, "Scales").
SCALE = {"agent_requests": 0.1, "batch_analytics": 0.001}
SETUP_REPS = 3
HEAP = "3g"
MEM_SENTINEL_MIB = 512
QUIET_FACTOR = 5.0  # BENCH_NOTES: a stamp above 5x the run's best is a disturbance
RUN_LIMIT_S = 175

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {
    "setup_s": "s", "req_p50_ms": "ms", "req_p95_ms": "ms", "deck_wall_s": "s",
    "cached_mb": "MB"}

PER_LAYER = {
    **{f"Relational.{k}.p50_ms": "ms"
       for k in ("search", "fuzzy", "stock", "sku", "orders", "cancel", "sku_after_write")},
    "VectorOps.topk.p50_ms": "ms", "VectorOps.ann.p50_ms": "ms",
    "op.build_ms": "ms", "spark.plan_ms": "ms", "spark.driver_only_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "Tables.rows_read_per_row_returned": "ratio", "Tables.bytes_read_per_op": "bytes",
    "Caches.storage_mb": "MB",
    **{f"batch.{e}.{m}": "s" for e in workload.BATCH_DECK for m in ("wall_s", "task_s")},
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.codegen_ms": "ms", "spark.failed_tasks": "count",
    "upsert_p50_ms": "ms", "upsert_p90_ms": "ms",
    "TableWriter.rows_written_per_delta_row": "ratio",
    "TableWriter.bytes_written_per_delta_row": "bytes",
    "TableWriter.rows_scanned_per_merge": "count", "TableWriter.jobs_per_merge": "count",
    "TableWriter.partitions_rewritten": "count",
    "Tables.files_in_table": "count", "Tables.bytes_per_live_row": "bytes",
    "trace.overhead_pct": "%",
    **{f"span.{n}.self_ms": "ms" for n in ("run", "op", "op.build", "op.exec")},
}

RELATIONAL = {"search", "fuzzy", "stock", "sku", "orders", "cancel"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# -- build ------------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log("perfbench: building with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [line for line in p.stdout.splitlines() if line.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:], p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# -- plan -------------------------------------------------------------------

def make_plan(name, seed, seconds, data_dir, tmp):
    """The JVM's plan, the generator summary, and what the checks need."""
    plan = {"workload": name, "data_dir": data_dir, "tmp_dir": tmp}
    if name == "batch_analytics":
        plan.update(ops=workload.batch_plan(), tables=gendata.TABLES)
        return plan, {"entries": workload.BATCH_DECK}, None
    oracle = checks.Oracle(data_dir)
    ops, warmup, deltas, hist, touched = workload.agent_plan(
        seed, seconds + 4, oracle.part.reset_index(drop=True),
        table_rows(data_dir, "customer"), table_rows(data_dir, "embeddings"))
    deltas_file = os.path.join(tmp, "deltas.parquet")
    workload.write_deltas(deltas, deltas_file)
    plan.update(ops=ops, warmup=warmup, deltas_file=deltas_file)
    return plan, workload.agent_summary(ops, touched), (oracle, hist)


def table_rows(data_dir, table):
    return pq.read_metadata(os.path.join(data_dir, f"{table}.parquet")).num_rows


# -- checks -----------------------------------------------------------------

def check_run(name, result, ops, ctx, record_digests):
    """Marks each op record with `wrong` when its output is wrong; returns
    failures that belong to no single op."""
    if name == "batch_analytics":
        digests = {}
        if not record_digests:
            with open(DIGESTS) as f:
                digests = json.load(f)
    else:
        oracle, hist = ctx
    for r in result["ops"]:
        op = ops[r["i"]]
        if not r["ok"]:
            r["wrong"] = r.get("error", "failed")
        elif name == "batch_analytics":
            if not record_digests:
                r["wrong"] = checks.check_entry(op["entry"], r["observed"], digests)
        elif "table" in op:
            r["wrong"] = checks.check_agent(op, r["rows"], oracle,
                                            part=hist.versions[op["version"]])
        elif op["op"] != "merge":
            r["wrong"] = checks.check_agent(op, r["rows"], oracle)
        if r.get("wrong") is None:
            r.pop("wrong", None)
    if name == "batch_analytics":
        return []
    merges = max([ops[r["i"]]["delta"] + 1 for r in result["ops"] if r["op"] == "merge"] or [0])
    t = hist.versions[merges]
    want = {"rows": len(t), "keys": len(t),
            "price_tenths": int(sum(round(p * 10) for p in t["p_retailprice"]))}
    if result["final_table"] != want:
        return [f"final catalog table {result['final_table']} expected {want}"]
    return []


# -- metrics ----------------------------------------------------------------

def lat_ms(r):
    return (r["t2"] - r["t0"]) / 1e6


def foreground(recs):
    """The ops whose latency is the workload's request latency: every op
    but the catalog merges."""
    return [r for r in recs if r["op"] != "merge"]


def deck_walls_s(recs):
    """Seconds spent in the system per complete cycle of the plan."""
    by_cycle = {}
    for r in recs:
        by_cycle.setdefault(r["cycle"], []).append(lat_ms(r))
    return [sum(v) / 1e3 for v in by_cycle.values()]


def end_to_end(result, recs):
    req = [lat_ms(r) for r in foreground(recs)]
    m = {"setup_s": statistics.median(result["setup_s"]),
         "req_p50_ms": stats.percentile(req, 50),
         "req_p95_ms": stats.percentile(req, 95),
         "deck_wall_s": statistics.median(deck_walls_s(recs)),
         "cached_mb": max(r["storage_mb"] for r in recs)}
    merges = [lat_ms(r) for r in recs if r["op"] == "merge"]
    counts = {"req": len(req), "req_p95_beyond": stats.samples_beyond(len(req), 95),
              "req_p95_meets_rule": stats.supports(len(req), 95),
              "decks": len(deck_walls_s(recs)), "setups": len(result["setup_s"])}
    if merges:
        m["upsert_p50_ms"] = stats.percentile(merges, 50)
        m["upsert_p90_ms"] = stats.percentile(merges, 90)
        counts.update(upserts=len(merges), upsert_p90_beyond=stats.samples_beyond(len(merges), 90),
                      upsert_p90_meets_rule=stats.supports(len(merges), 90))
    return m, counts


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(name, recs, ops, ctx):
    traced = [r for r in recs if r["phase"] == "traced"]
    untraced = [r for r in recs if r["phase"] == "untraced"]
    tr = [r["trace"] for r in traced]
    m = dict.fromkeys(PER_LAYER, 0.0)
    by_kind = {}
    for r in traced:
        kind = r["op"]
        if "table" in ops[r["i"]]:
            kind = "sku_after_write" if kind == "sku" else None
        by_kind.setdefault(kind, []).append(lat_ms(r))
    for kind, xs in by_kind.items():
        if kind in RELATIONAL or kind == "sku_after_write":
            m[f"Relational.{kind}.p50_ms"] = stats.percentile(xs, 50)
        elif kind in ("topk", "ann"):
            m[f"VectorOps.{kind}.p50_ms"] = stats.percentile(xs, 50)

    def driver_only_ms(r):
        return (r["w1"] - r["w0"]) - stats.covered(r["trace"]["stage_spans"], r["w0"], r["w1"])

    m["op.build_ms"] = _mean((r["t1"] - r["t0"]) / 1e6 for r in traced)
    m["spark.plan_ms"] = _mean(t["plan_ms"] for t in tr)
    m["spark.jobs_per_op"] = _mean(t["jobs"] for t in tr)
    m["spark.stages_per_op"] = _mean(t["stages"] for t in tr)
    m["spark.tasks_per_op"] = _mean(t["tasks"] for t in tr)
    m["Caches.storage_mb"] = statistics.median(r["storage_mb"] for r in traced)
    reads = [r for r in traced if "rows" in r]
    returned = sum(len(r["rows"]) for r in reads)
    m["Tables.rows_read_per_row_returned"] = (
        sum(r["trace"]["input_records"] for r in reads) / returned if returned else 0.0)
    m["Tables.bytes_read_per_op"] = _mean(r["trace"]["input_bytes"] for r in reads)
    m["spark.failed_tasks"] = sum(t["failed_tasks"] for t in tr)
    if name == "batch_analytics":
        for r in traced:
            e = ops[r["i"]]["entry"]
            m[f"batch.{e}.wall_s"] = lat_ms(r) / 1e3
            m[f"batch.{e}.task_s"] = r["trace"]["task_ms"] / 1e3
        m["spark.task_s"] = sum(t["task_ms"] for t in tr) / 1e3
        m["spark.task_cpu_s"] = sum(t["cpu_ns"] for t in tr) / 1e9
        m["spark.gc_s"] = sum(t["gc_ms"] for t in tr) / 1e3
        m["spark.jobs"] = sum(t["jobs"] for t in tr)
        m["spark.stages"] = sum(t["stages"] for t in tr)
        m["spark.shuffle_write_mb"] = sum(t["shuffle_write_bytes"] for t in tr) / 1e6
        m["spark.shuffle_read_mb"] = sum(t["shuffle_read_bytes"] for t in tr) / 1e6
        m["spark.spill_mb"] = sum(t["spill_bytes"] for t in tr) / 1e6
        m["spark.codegen_ms"] = sum(r["codegen_ms"] for r in traced)
        m["spark.driver_only_ms"] = sum(driver_only_ms(r) for r in traced)
    else:
        m["spark.driver_only_ms"] = _mean(driver_only_ms(r) for r in traced)
    merges = [r for r in traced if r["op"] == "merge"]
    if merges:
        lat = [lat_ms(r) for r in merges]
        m["upsert_p50_ms"] = stats.percentile(lat, 50)
        m["upsert_p90_ms"] = stats.percentile(lat, 90)
        delta_rows = sum(ops[r["i"]]["rows"] for r in merges)
        m["TableWriter.rows_written_per_delta_row"] = sum(
            r["trace"]["output_records"] for r in merges) / delta_rows
        m["TableWriter.bytes_written_per_delta_row"] = sum(
            r["trace"]["output_bytes"] for r in merges) / delta_rows
        m["TableWriter.rows_scanned_per_merge"] = _mean(r["trace"]["input_records"] for r in merges)
        m["TableWriter.jobs_per_merge"] = _mean(r["trace"]["jobs"] for r in merges)
        m["TableWriter.partitions_rewritten"] = _mean(r["partitions_rewritten"] for r in merges)
        last = merges[-1]
        m["Tables.files_in_table"] = last["files_in_table"]
        m["Tables.bytes_per_live_row"] = last["table_bytes"] / len(
            ctx[1].versions[ops[last["i"]]["delta"] + 1])
    # batch: the warm traced pass against the warm untraced one
    again = [r for r in recs if r["phase"] == "retraced"] or traced
    base = _mean(lat_ms(r) for r in untraced)
    m["trace.overhead_pct"] = 100.0 * (_mean(lat_ms(r) for r in again) - base) / base
    spans = {"run": ("run", None, traced[0]["t0"], traced[-1]["t2"])}
    for r in traced:
        i = r["i"]
        spans[("op", i)] = ("op", "run", r["t0"], r["t2"])
        spans[("op.build", i)] = ("op.build", ("op", i), r["t0"], r["t1"])
        spans[("op.exec", i)] = ("op.exec", ("op", i), r["t1"], r["t2"])
    for n, t in stats.self_time_by_name(spans).items():
        m[f"span.{n}.self_ms"] = t / 1e6
    return m


# -- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store the deck's output digests in perfbench/digests.json "
                         "instead of checking them (batch_analytics only)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {LIB_SRC}")
    cp = build()
    start = time.time()
    scale = SCALE[a.workload]
    data_dir = gendata.ensure(os.path.join(BUILD, "data", f"sf{scale}"), scale)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BUILD, "tmp"))
    try:
        plan, summary, ctx = make_plan(a.workload, a.seed, a.seconds, data_dir, tmp)
        print("generator: " + json.dumps({"workload": a.workload, "seed": a.seed, **summary}))
        cores = len(os.sched_getaffinity(0))
        plan.update(cores=cores, seconds=a.seconds, trace=bool(a.trace),
                    setup_reps=SETUP_REPS, mem_sentinel_mib=MEM_SENTINEL_MIB)
        plan_file, result_file = os.path.join(tmp, "plan.json"), os.path.join(tmp, "result.json")
        with open(plan_file, "w") as f:
            json.dump(plan, f)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if "JAVA_HOME" in os.environ else "java"
        cmd = [java, *[x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
               f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
               f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Runner", plan_file, result_file]
        with open(os.path.join(tmp, "jvm.log"), "w") as jl:
            p = subprocess.run(cmd, cwd=tmp, stdout=jl, stderr=subprocess.STDOUT,
                               timeout=max(30, RUN_LIMIT_S - (time.time() - start)))
        if p.returncode != 0:
            with open(os.path.join(tmp, "jvm.log")) as jl:
                log(jl.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
        with open(result_file) as f:
            result = json.load(f)
        report(a, plan, ctx, result, cores, scale)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def report(a, plan, ctx, result, cores, scale):
    ops = plan["ops"]
    extra = check_run(a.workload, result, ops, ctx, a.record_digests)
    recs = result["ops"]
    wrong = [r for r in recs if "wrong" in r]
    for r in wrong[:5]:
        log(f"perfbench: op {r['i']} ({r['op']}) wrong: {r['wrong']}")
    for why in extra:
        log(f"perfbench: {why}")
    attempted = len(recs) + len(extra)
    failed = len(wrong) + len(extra)
    if a.record_digests:
        digests = {ops[r["i"]]["entry"]: {k: r["observed"].get(k) for k in ("rows", "digest")}
                   for r in recs if ops[r["i"]]["entry"] not in checks.ROWS_ONLY}
        with open(DIGESTS, "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
    measured = [r for r in recs if r["phase"] == ("traced" if a.trace else "measure")]
    e2e, counts = end_to_end(result, measured)
    s = result["sentinels"]
    cpu, mem = (s["cpu_pre"], s["cpu_post"]), (s["mem_pre"], s["mem_post"])
    disturbed = max(cpu) > QUIET_FACTOR * min(cpu) or max(mem) > QUIET_FACTOR * min(mem)
    print("run: " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "scale": scale,
        "cores": cores, "executed": collections.Counter(r["op"] for r in measured),
        "samples": counts,
        "error_rate": failed / attempted,
        "setup_s_reps": result["setup_s"], "warmup_s": result["warmup_s"],
        "sentinels": s, "disturbed": disturbed,
        "end_to_end": {k: f"{v:.4f} {END_TO_END.get(k, 'ms')}" for k, v in e2e.items()}}))
    if a.trace:
        metrics = per_layer(a.workload, recs, ops, ctx)
        units = PER_LAYER
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
        units = END_TO_END
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
