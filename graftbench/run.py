#!/usr/bin/env python3
"""Benchmark command: one closed-loop run of one workload.

  python3 graftbench/run.py --workload <warehouse|star> --seed <n> \
      --seconds <s> --trace <0|1>

Builds the engine plus the benchmark main in src/ once (sbt, offline),
generates the workload's inputs from the seed, runs graft.perfbench.PerfBench
in one plain JVM on all cores, checks every output against its oracle and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .work/traces/<workload>-<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import gen_star
import gen_superstore

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170          # a run must end within 180 s
# tools/jrun.sh's JVM shape, with the heap pinned and every temporary file
# inside the run's directory.
HEAP = "4g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

E2E = [("setup_s", "s"), ("query_p50_s", "s"), ("queries_per_s", "1/s"),
       ("peak_rss_mb", "MB")]
COUNTERS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("codegen_compiles", "count"), ("codegen_s", "s"),
            ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
            ("fetch_wait_s", "s"), ("spill_mb", "MB"), ("output_mb", "MB"),
            ("driver_s", "s")]
WAREHOUSE_TABLES = ["Calendar", "CalendarMonth", "Category", "Customer",
                    "Item", "Location", "OrderM", "Orders", "Product",
                    "ProductPerformance", "Region", "Shipping",
                    "ShippingBehavior", "ShippingBehaviorS", "State"]
SS_QUERIES = ["ss_q1_monthly_sales", "ss_q2_region_profit",
              "ss_q3_top_products_qty", "ss_q4_segment_rollup",
              "ss_q5_profit_rank", "ss_q6_running_state_sales",
              "ss_q7_delivery_time", "ss_q8_lost_value",
              "ss_q9_category_stats", "ss_q10_cumulative_pct",
              "ss_q11_orderm_detail", "ss_q12_pareto", "ss_q13_top_concat"]
STAR_QUERIES = ["q2_dedup_merge", "q4_brand_revenue", "q6_ship_delay",
                "q13_running_sales", "q29_percentiles", "q34_ngram_jaccard",
                "q36_simhash_pairs", "q63_winnow_dup_pairs"]


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    names = [("superstore.build_s", "s"), ("superstore.build_residual_s", "s"),
             ("superstore.SuperstoreETL.build_s", "s")]
    names += [(f"superstore.etl.{t}_s", "s") for t in WAREHOUSE_TABLES]
    names += [(f"superstore.Queries13.{q}_s", "s") for q in SS_QUERIES]
    names += [(f"operators.{q}_s", "s") for q in STAR_QUERIES]
    names += [(f"spark.{k}.{c}", u) for k in ("build", "query") for c, u in COUNTERS]
    return names


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("graftbench: SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build():
    """Compiles the engine and PerfBench unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"graftbench: engine sources not found under {ENGINE_SRC}")
    sources = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                     + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                     + [os.path.join(HERE, "build.sbt")])
    h = hashlib.sha256()
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(CLASSES, ".graftbench-stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    log("compiling (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_HOME=os.path.dirname(spark_jars()))
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        sys.exit(f"graftbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res):
    queries = [o["end"] - o["start"] for o in res["ops"]
               if o["kind"] == "query" and o["round"] >= 1 and o["error"] is None]
    return {
        "setup_s": res["setup_s"],
        "query_p50_s": median(queries),
        "queries_per_s": len(queries) / sum(queries) if queries else float("nan"),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def union_len(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0.0)


def per_layer(trace):
    """Per-layer metrics from the ledger; also adds each span's self time."""
    spans = trace["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["start"] is None or s["end"] is None:
            s["self_s"] = None
            continue
        kids = [(k["start"], k["end"]) for k in children.get(s["id"], [])
                if k["start"] is not None and k["end"] is not None]
        s["self_s"] = (s["end"] - s["start"]) - union_len(kids, s["start"], s["end"])

    m = {name: 0.0 for name, _ in per_layer_names()}
    by_name, parts = {}, {}
    for s in spans:
        if s["kind"] in ("build", "query"):
            by_name.setdefault((s["kind"], s["name"]), []).append(s["end"] - s["start"])
            jobs = [(k["start"], k["end"]) for k in children.get(s["id"], [])
                    if k["kind"] == "job" and k["end"] is not None]
            c = trace["counters"].setdefault(str(s["id"]), {})
            c["driver_s"] = (s["end"] - s["start"]) - union_len(jobs, s["start"], s["end"])
        if s["kind"] == "part" and spans[s["parent"]]["kind"] == "build":
            parts.setdefault(s["parent"], {})[s["name"]] = s["end"] - s["start"]
    for (kind, name), walls in by_name.items():
        if kind == "build":
            m["superstore.build_s"] = median(walls)
        elif name.startswith("ss_"):
            m[f"superstore.Queries13.{name}_s"] = median(walls)
        else:
            m[f"operators.{name}_s"] = median(walls)
    if parts:
        m["superstore.SuperstoreETL.build_s"] = median([p["etl.build"] for p in parts.values()])
        for t in WAREHOUSE_TABLES:
            m[f"superstore.etl.{t}_s"] = median([p[f"etl.write.{t}"] for p in parts.values()])
        m["superstore.build_residual_s"] = median(
            [(spans[op]["end"] - spans[op]["start"]) - sum(p.values())
             for op, p in parts.items()])
    for kind in ("build", "query"):
        ids = [str(s["id"]) for s in spans if s["kind"] == kind]
        for c, _ in COUNTERS:
            vals = [trace["counters"].get(i, {}).get(c, 0.0) for i in ids]
            if vals:
                m[f"spark.{kind}.{c}"] = sum(vals) / len(vals)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["warehouse", "star"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))
    build()
    started = time.time()    # the compile of a fresh checkout is not counted

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        # the inputs are the benchmark's, not the program's: generated
        # before the set-up clock starts
        if args.workload == "warehouse":
            rows, truth = gen_superstore.generate(args.seed)
            data = os.path.join(work, "superstore.csv")
            gen_superstore.write(rows, data)
        else:
            truth, data = None, os.path.join(work, "star")
            gen_star.generate(args.seed, data)

        t0 = time.time()
        out = os.path.join(work, "ops.json")
        trace_out = os.path.join(work, "trace.json")
        cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
                  # no hsperfdata file in the system temp directory
                  "-XX:-UsePerfData",
                  "-cp", f"{CLASSES}:{spark_jars()}/*", "graft.perfbench.PerfBench",
                  f"workload={args.workload}", f"input={data}", f"work={work}",
                  f"out={out}", f"trace_out={trace_out}", f"seconds={args.seconds}",
                  f"seed={args.seed}", f"trace={args.trace}",
                  f"t0={t0!r}"])
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=max(started + DEADLINE_S - time.time(), 1))
        except subprocess.TimeoutExpired:
            sys.exit("graftbench: the run overran its deadline")
        if proc.returncode != 0 or not os.path.exists(out):
            sys.exit(f"graftbench: PerfBench exited with {proc.returncode}")
        with open(out) as f:
            res = json.load(f)
        jvm_end = time.time()

        # the oracles run once the engine has exited, so they share no
        # timed or reported span with it; a failed check fails every op it
        # covers
        with open(os.path.join(work, "oracles.json")) as f:
            want = checks.expected(json.load(f), data if args.workload == "star" else None)
        failed_names = {**checks.check_queries(os.path.join(work, "results"), want),
                        **res["check_errors"]}
        for q, why in sorted(failed_names.items()):
            log(f"check {q}: {why}")
        if truth is not None:
            wh_bad = checks.check_warehouse(res["warehouse"], truth)
            for why in wh_bad:
                log(f"check warehouse: {why}")
            if wh_bad:
                failed_names["build"] = "warehouse"
        log(f"phases: setup {res['setup_s']:.1f} s (result writes "
            f"{res['results_end'] - res['results_start']:.1f} s), loop "
            f"{res['loop_end'] - res['loop_start']:.1f} s (process cpu "
            f"{res['loop_cpu_s']:.1f} s, host steal {res['loop_steal_s']:.2f} s), oracles and checks "
            f"{time.time() - jvm_end:.1f} s")
        for o in res["ops"]:
            log(f"op r{o['round']} {o['kind']} {o['name']}: {o['end'] - o['start']:.3f} s")
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"]
                     if o["error"] is not None or o["name"] in failed_names)

        e2e = end_to_end(res)
        units = dict(E2E)
        if args.trace == 0:
            metrics = e2e
            with open(os.path.join(WORK, f"last_e2e_{args.workload}.json"), "w") as f:
                json.dump(e2e, f)
        else:
            with open(trace_out) as f:
                trace = json.load(f)
            metrics = per_layer(trace)
            units = dict(per_layer_names())
            trace["per_layer"] = metrics
            trace["end_to_end"] = e2e
            last = os.path.join(WORK, f"last_e2e_{args.workload}.json")
            if os.path.exists(last):
                with open(last) as f:
                    base = json.load(f)
                trace["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            dest = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
            with open(dest, "w") as f:
                json.dump(trace, f, indent=1)
            log(f"trace written to {dest}; build residual "
                f"{metrics['superstore.build_residual_s']:.4f} s")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
