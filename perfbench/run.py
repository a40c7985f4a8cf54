#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark main (perfbench/jvm) with the Scala
compiler that ships in $SPARK_HOME/jars, into .bench_build/. All state a
run leaves (inputs it generates, Spark local dirs, results, traces) is
under .bench_work/. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(HERE, "data", "sf0.1")
CORES = os.cpu_count() or 4
HEAP = "2g"
RUN_LIMIT_S = 170

# The read-only registry queries of sf01_query_mix (README.md says why
# these and not more).
QUERY_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue", "events_funnel",
    "eval_calibration", "profile_drift", "join_eliminated", "sim_topk_bruteforce",
    "wc_wordcount", "ii_inverted_index",
]
WORKLOADS = ("mr_corpus", "sf01_query_mix")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the engine and BenchMain unless the sources are unchanged."""
    engine = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    bench = sources(os.path.join(HERE, "jvm"))
    h = hashlib.sha256()
    for p in engine + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(BUILD, ignore_errors=True)
    for name, srcs, cp in (("classes", engine, jars),
                           ("bench-classes", bench, os.path.join(BUILD, "classes") + os.pathsep + jars)):
        out = os.path.join(BUILD, name)
        os.makedirs(out)
        argfile = os.path.join(BUILD, f"{name}.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
               "-d", out, "-classpath", cp, "@" + argfile]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            raise BenchError(f"compiling {name} failed:\n{p.stdout[-4000:]}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_jvm(work, args, deadline):
    """Launch BenchMain; return (setup seconds, parsed result)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = fresh_dir(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir.
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp",
              os.pathsep.join([os.path.join(BUILD, "bench-classes"), os.path.join(BUILD, "classes"),
                               os.path.join(ROOT, "src", "main", "resources"),
                               os.path.join(spark_jars(), "*")]),
              "org.apache.spark.graftbench.BenchMain", f"work={work}"]
           + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(work, "jvm.log")
    ready = []
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env, cwd=work)

        def watch():
            for line in proc.stdout:
                if line.startswith("GRAFTBENCH_READY") and not ready:
                    ready.append(time.perf_counter() - t0)

        reader = threading.Thread(target=watch, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("benchmark JVM ran out of time")
        reader.join()
    if proc.returncode != 0:
        with open(log_path, errors="replace") as f:
            raise BenchError(f"benchmark JVM exited {proc.returncode}:\n{f.read()[-3000:]}")
    if not ready:
        raise BenchError("benchmark JVM never reported ready")
    with open(os.path.join(work, "jvm_result.json")) as f:
        return ready[0], json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def documents_text_mb(con):
    return con.execute("SELECT sum(strlen(text)) FROM documents").fetchone()[0] / 1e6


def documents_tokens(con):
    return con.execute(
        r"SELECT sum(len(list_filter(string_split_regex(text, '[^\p{L}]+'), x -> x <> ''))) FROM documents"
    ).fetchone()[0]


def check_results(workload, work, expected, con):
    """Untimed correctness checks: {op name: reason} for every wrong result."""
    bad = {}
    if workload == "mr_corpus":
        wc, ii = expected
        for name, check, want in (("wc", corpus.check_wc, wc), ("ii", corpus.check_ii, ii)):
            path = os.path.join(work, "mr-out", name)
            why = check(*corpus.read_sink(path), want) if os.path.isdir(path) else "no sink output"
            if why:
                bad[name] = why
    else:
        with open(os.path.join(work, "oracle_sql.json")) as f:
            sqls = json.load(f)
        for q in QUERY_MIX:
            why = oracle.check_query(con, q, os.path.join(work, "results", q), sqls.get(q))
            if why:
                bad[q] = why
    return bad


def layer_metrics(res, ops, facts):
    """Per-pass totals of the traced passes, plus the run-level layers."""
    traced = [o for o in ops if o["traced"]]
    n_pass = max(1, len({o["pass"] for o in traced}))

    def total(key, phases=("builder", "action")):
        return sum(o[p][key] for o in traced for p in phases) / n_pass

    started = sum(o[p]["tasks_started"] for o in traced for p in ("builder", "action"))
    wasted = sum(o[p]["tasks_wasted"] for o in traced for p in ("builder", "action"))
    jobs_ops = [o for o in traced if o["name"] in (facts["wc"], facts["ii"])]
    tokens = facts["tokens"] * len(jobs_ops)
    sh_rec = sum(o[p]["shuffle_write_records"] for o in jobs_ops for p in ("builder", "action"))
    passes = res["passes"]
    t_pass = median([p["ms"] for p in passes if p["traced"]])
    u_pass = median([p["ms"] for p in passes if not p["traced"]])
    ms, cnt, by = "ms", "count", "bytes"
    m = {
        "session.build_ms": (res["session_build_ms"], ms),
        "session.warmup_ms": (res["warmup_ms"], ms),
        "tables.load_ms": (median([x["ms"] for x in res["loads"]]), ms),
        "builder.ms": (sum(o["builder_ms"] for o in traced) / n_pass, ms),
        "builder.jobs": (total("jobs", ("builder",)), cnt),
        "action.ms": (sum(o["action_ms"] for o in traced) / n_pass, ms),
        "action.jobs": (total("jobs", ("action",)), cnt),
        "catalyst.analysis_ms": (total("analysis_ms"), ms),
        "catalyst.optimization_ms": (total("optimization_ms"), ms),
        "catalyst.planning_ms": (total("planning_ms"), ms),
        "plan.nodes": (total("plan_nodes", ("action",)), cnt),
        "plan.exchanges": (total("plan_exchanges", ("action",)), cnt),
        "plan.scans": (total("plan_scans", ("action",)), cnt),
        "sched.jobs": (total("jobs"), cnt),
        "sched.stages": (total("stages"), cnt),
        "sched.tasks": (total("tasks"), cnt),
        "sched.dispatch_gap_ms": (sum(o["dispatch_gap_ms"] for o in traced) / n_pass, ms),
        "sched.tasks_wasted_frac": (wasted / started if started else 0.0, "ratio"),
        "task.run_ms": (total("task_run_ms"), ms),
        "task.cpu_ms": (total("task_cpu_ms"), ms),
        "task.gc_ms": (total("task_gc_ms"), ms),
        "task.peak_mem_bytes": (max([o[p]["task_peak_mem_bytes"] for o in traced for p in ("builder", "action")] or [0]), by),
        "shuffle.write_bytes": (total("shuffle_write_bytes"), by),
        "shuffle.write_records": (total("shuffle_write_records"), cnt),
        "shuffle.read_bytes": (total("shuffle_read_bytes"), by),
        "shuffle.fetch_wait_ms": (total("shuffle_fetch_wait_ms"), ms),
        "spill.bytes": (total("spill_bytes"), by),
        "scan.input_bytes": (total("scan_input_bytes"), by),
        "scan.input_records": (total("scan_input_records"), cnt),
        "write.output_bytes": (total("write_output_bytes"), by),
        "localdir.bytes": (res["localdir_bytes"], by),
        "mr.map_stage_ms": (total("map_stage_ms"), ms),
        "mr.reduce_stage_ms": (total("reduce_stage_ms"), ms),
        "mr.shuffle_records_per_token": (sh_rec / tokens if tokens else 0.0, "ratio"),
        "trace.overhead_frac": (t_pass / u_pass - 1.0, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def e2e_metrics(setup_s, res, facts):
    """End-to-end metrics of the untraced passes, and the sample count of each."""
    by_name = {}
    for o in res["ops"]:
        if not o["traced"]:
            by_name.setdefault(o["name"], []).append((o["builder_ms"] + o["action_ms"]) / 1e3)
    lat = [x for xs in by_name.values() for x in xs]
    wc_lat, ii_lat = by_name.get(facts["wc"], []), by_name.get(facts["ii"], [])
    job_s = wc_lat + ii_lat
    passes = [p["ms"] / 1e3 for p in res["passes"] if not p["traced"]]
    m = {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (median(passes), "s", len(passes)),
        "op_p50_s": (median(lat), "s", len(lat)),
        "wc_s": (median(wc_lat), "s", len(wc_lat)),
        "ii_s": (median(ii_lat), "s", len(ii_lat)),
        "input_mb_per_s": (2 * facts["mb"] / (median(wc_lat) + median(ii_lat)), "MB/s", len(job_s)),
        "peak_rss_mb": (res["vm_hwm_kb"] / 1024.0, "MB", 1),
    }
    return ({k: {"value": v, "unit": u} for k, (v, u, _) in m.items()},
            {k: n for k, (_, _, n) in m.items()})


def print_op_table(ops):
    print(f"{'op':10s} {'name':26s} {'builder_ms':>10s} {'action_ms':>9s} {'jobs':>4s} {'stages':>6s} "
          f"{'tasks':>5s} {'gap_ms':>6s} {'catalyst_ms':>11s} {'task_cpu_ms':>11s} {'shuffle_w_B':>11s} "
          f"{'exch':>4s} {'scans':>5s}")
    for o in ops:
        if not o["traced"]:
            continue
        b, a = o["builder"], o["action"]
        cat = sum(x[k] for x in (b, a) for k in ("analysis_ms", "optimization_ms", "planning_ms"))
        print(f"{o['id']:10s} {o['name']:26s} {o['builder_ms']:10.1f} {o['action_ms']:9.1f} "
              f"{b['jobs'] + a['jobs']:4d} {b['stages'] + a['stages']:6d} {b['tasks'] + a['tasks']:5d} "
              f"{o['dispatch_gap_ms']:6d} {cat:11d} {b['task_cpu_ms'] + a['task_cpu_ms']:11d} "
              f"{b['shuffle_write_bytes'] + a['shuffle_write_bytes']:11d} {a['plan_exchanges']:4d} "
              f"{a['plan_scans']:5d}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = fresh_dir(os.path.join(WORK_ROOT, a.workload))
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "cores": CORES}
    con = None
    if a.workload == "mr_corpus":
        inp = os.path.join(work, "corpus")
        wc, ii, tokens, nbytes = corpus.generate(inp, a.seed)
        expected = (wc, ii)
        facts = {"mb": nbytes / 1e6, "tokens": tokens, "wc": "wc", "ii": "ii"}
        print(f"corpus: {len(os.listdir(inp))} files, {nbytes / 1e6:.1f} MB, {tokens} tokens, {len(wc)} words")
    else:
        if not os.path.isdir(DATA):
            raise BenchError(f"missing tables: {DATA}")
        inp, expected = DATA, None
        args["queries"] = ",".join(QUERY_MIX)
        con = oracle.connect(DATA)
        facts = {"mb": documents_text_mb(con), "tokens": documents_tokens(con),
                 "wc": "wc_wordcount", "ii": "ii_inverted_index"}
    args["input"] = inp
    setup_s, res = run_jvm(work, args, deadline)

    ops = res["ops"]
    bad = check_results(a.workload, work, expected, con)
    for name, why in sorted({**res["failures"], **bad}.items()):
        print(f"FAILED {name}: {why}")
    failed_names = set(bad) | set(res["failures"])
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failed_names)

    if a.trace:
        print_op_table(ops)
        metrics = layer_metrics(res, ops, facts)
    else:
        metrics, samples = e2e_metrics(setup_s, res, facts)
        for k, v in metrics.items():
            print(f"{k:16s} {v['value']:12.4f} {v['unit']:5s} n={samples[k]}")
        print(f"failed {failed}/{attempted} operations")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
