#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.py), generates the
seeded inputs and their expected answers (perfbench/gen.py), runs the
harness JVM on one workload, checks every result, and prints a summary
followed by one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Everything it writes goes under the build dir
(.bench_build by default). See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside the build dir

import build  # noqa: E402
import gen  # noqa: E402

# workload -> the generated inputs it reads
WORKLOADS = {
    "report": ["report"],
    "mixed_session": ["graph", "mixed"],
}
DEADLINE_S = 170
# cold set-ups per run: the harness JVM's own plus this many set-up-only JVMs
EXTRA_SETUPS = 2
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def tail(xs):
    """(label, value) of the highest percentile the sample supports: p99
    from 100 samples, p95 from 20, p90 from 10, p75 from 4, else the
    maximum. Nearest-rank, so the value is always one of the samples."""
    s = sorted(xs)
    for p, n in ((99, 100), (95, 20), (90, 10), (75, 4)):
        if len(s) >= n:
            return f"p{p}", s[math.ceil(p / 100 * len(s)) - 1]
    return "max", s[-1]


def run_java(jar, args, out, name, started, dump_classes):
    """Run one JVM of the harness (`graft.PerfBench <args>`) with its output
    in `out/<name>.log`; `started` is when the run's clock started (after
    any build), so a first run may build for longer than the deadline."""
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # class-data sharing: the first harness in a build dumps the classes it
    # loaded, later JVMs map them instead of parsing thousands of jars' worth
    jsa = os.path.splitext(jar)[0] + ".jsa"
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa)
           else [f"-XX:ArchiveClassesAtExit={jsa}"] if dump_classes else [])
    # a fixed heap under the parallel collector: G1's adaptive sizing made
    # the same run vary by ~15% from one JVM to the next
    cmd = (["java", "-XX:-UsePerfData"] + cds + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-Xss4m"] + opens +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/spark",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.PerfBench"] + [str(x) for x in args])
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CONF", None)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    log_path = os.path.join(out, f"{name}.log")
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"{name} timed out")
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"{name} failed ({rc})")


def run_harness(jar, workload, data, seconds, trace, out, started):
    """The measuring JVM, then the set-up-only JVMs (after it, so that a
    first run's class-archive dump covers the whole workload). Returns the
    harness's result with `setup_s` replaced by the list of cold set-ups."""
    run_java(jar, ["run", workload, data, seconds, trace, out], out, "harness", started, True)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    setups = [res["setup_s"]]
    for i in range(EXTRA_SETUPS):
        path = os.path.join(out, f"setup{i}.txt")
        run_java(jar, ["setup", workload, data, path], out, f"setup{i}", started, False)
        with open(path) as f:
            setups.append(float(f.read()))
    res["setup_s"] = setups
    return res


def read_tsv(path, key=str):
    with open(path) as f:
        return {key(k): int(v) for k, v in (line.rstrip("\n").split("\t") for line in f)}


def check_dumps(res, data):
    """Verify each query's first result; return {query: error} for failures."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from oracle_check import canon
    bad = {}
    con = None
    for q, d in res["dumps"].items():
        check, path = d["check"], d["path"]
        src = os.path.join(data, "mixed" if q == "top30_report" else "report")
        try:
            if check == "report":
                with open(path, "rb") as a, open(os.path.join(src, "report.txt"), "rb") as b:
                    if a.read() != b.read():
                        bad[q] = "report differs from the expected bytes"
                continue
            got = pd.read_parquet(path)
            if check in ("counts", "degree"):
                exp = (read_tsv(os.path.join(src, "counts.tsv")) if check == "counts"
                       else read_tsv(os.path.join(src, "degree.tsv"), key=int))
                k, v = got.columns
                if dict(zip(got[k].tolist(), got[v].astype(int).tolist())) != exp:
                    bad[q] = f"{check} differ from the generator's"
            else:
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET threads=4")
                    li = os.path.join(data, "graph", "lineitem.parquet")
                    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
                want = con.execute(res["oracle_sql"][q]).fetchdf()
                a, b = canon(got), canon(want)
                if list(a.columns) != list(b.columns) or len(a) != len(b) or not a.equals(b):
                    bad[q] = f"differs from the DuckDB twin ({len(a)} vs {len(b)} rows)"
        except Exception as e:  # a check that cannot run is a failed check
            bad[q] = f"check error: {e}"
    return bad


def end_to_end(res, foreground):
    """(value, unit, how) per end-to-end metric. The interactive figures are
    per foreground query first (its median, its tail), then combined, so a
    pass mixing query kinds does not make the median jump between kinds."""
    passes = [p["seconds"] for p in res["passes"]]
    fg = [e for e in res["execs"] if not e["warm"] and foreground(e)]
    # throughput counts the calls that completed inside the timed window
    fg_done = [e for e in fg if e["end_s"] <= res["window_s"]]
    by_q = {}
    for e in fg:
        by_q.setdefault(e["query"], []).append(e["latency_s"])
    p_lbl, p_tail = tail(passes)
    q_lbl, q_tail = max((tail(x) for x in by_q.values()), key=lambda t: t[1])
    n = len(passes)
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s",
                    f"median of {len(res['setup_s'])} cold set-ups, each from JVM start"),
        "pass_s": (statistics.median(passes), "s", f"median of {n} passes"),
        "pass_tail_s": (p_tail, "s", f"{p_lbl} of {n} passes"),
        "interactive_p50_s": (statistics.median(statistics.median(x) for x in by_q.values()), "s",
                              f"median over {len(by_q)} foreground queries of their medians"),
        "interactive_tail_s": (q_tail, "s", f"{q_lbl} of the slowest foreground query"),
        "interactive_per_s": (len(fg_done) / res["window_s"], "1/s",
                              f"{len(fg_done)} foreground calls in {res['window_s']:.1f} s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB", "live heap after a full GC at the end"),
    }


def per_layer(spans, cores, foreground):
    """Per-pass sums over traced passes (mean over passes), ratios over the
    summed totals; the minimum width over the stages that materialize a
    pinned cut (0 when there are none), the maximum over every traced stage."""
    passes = [s for s in spans if s["kind"] == "pass" and s["traced"]]
    ids = {p["id"] for p in passes}
    calls = [s for s in spans if s["kind"] == "call" and s["parent"] in ids]
    sweeps = [s for s in spans if s["kind"] == "sweep" and s["parent"] in ids]
    n = len(passes)

    def tot(key, xs=calls):
        return sum(s[key] for s in xs)

    latency_ms = tot("call_ms") + tot("plan_ms") + tot("result_ms")
    staged = [s for s in calls if s["stages"] > 0]
    cut = [s["cut_width_min"] for s in calls if s["cut_width_min"] > 0]
    plans = [s["aqe_off"] for s in calls if foreground(s) and s["aqe_off"] is not None]
    m = {
        "sources.input_mb": (tot("input_mb") / n, "MB"),
        "sources.input_records": (tot("input_records") / n, "count"),
        "sources.scan_ms": (tot("scan_ms") / n, "ms"),
        "exec.combine_ratio": (tot("shuffle_records_written") / max(1.0, tot("input_records")), "ratio"),
        "plans.plan_ms": (tot("plan_ms") / n, "ms"),
        "plans.aqe_off_ratio": (sum(plans) / len(plans) if plans else 0.0, "ratio"),
        "exec.jobs": (tot("jobs") / n, "count"),
        "exec.stages": (tot("stages") / n, "count"),
        "exec.tasks": (tot("tasks") / n, "count"),
        "exec.idle_ms": (tot("idle_ms") / n, "ms"),
        "exec.task_wait_ms": (tot("task_wait_ms") / n, "ms"),
        "exec.width_min": (min(cut, default=0), "count"),
        "exec.width_max": (max((s["width_max"] for s in staged), default=0), "count"),
        "exec.busy_ratio": (tot("task_ms") / max(1e-9, latency_ms * cores), "ratio"),
        "exec.empty_task_ratio": (tot("empty_tasks") / max(1, tot("tasks")), "ratio"),
        "exec.shuffle_read_mb": (tot("shuffle_read_mb") / n, "MB"),
        "exec.shuffle_write_mb": (tot("shuffle_write_mb") / n, "MB"),
        "exec.spill_mb": (tot("spill_mb") / n, "MB"),
        "exec.run_ms": (tot("run_ms") / n, "ms"),
        "exec.cpu_ms": (tot("cpu_ms") / n, "ms"),
        "exec.gc_ms": (tot("gc_ms") / n, "ms"),
        "operators.call_ms": (tot("call_ms") / n, "ms"),
        "operators.result_ms": (tot("result_ms") / n, "ms"),
        "blocks.put_count": (tot("put_count") / n, "count"),
        "blocks.put_mb": (tot("put_mb") / n, "MB"),
        "blocks.held_mb": (tot("held_mb") / n, "MB"),
        "blocks.sweep_ms": (tot("call_ms", sweeps) / n, "ms"),
    }
    return {k: (v, unit, f"per traced pass, n={n}") for k, (v, unit) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    jar = build.ensure()
    started = time.time()
    data = os.path.join(build.build_dir(), "data", f"seed{a.seed}")
    gen.ensure(a.seed, data, WORKLOADS[a.workload])
    out = os.path.join(build.build_dir(), "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    t_ready = time.time()
    res = run_harness(jar, a.workload, data, a.seconds, a.trace, out, started)
    t_ran = time.time()
    bad = check_dumps(res, data)
    log(f"wall: build {started - t0:.1f} s, inputs {t_ready - started:.1f} s, harness {t_ran - t_ready:.1f} s, "
        f"checks {time.time() - t_ran:.1f} s")
    failed = sum(1 for e in res["execs"] if not e["ok"] or e["query"] in bad)
    attempted = len(res["execs"])
    for e in res["execs"]:
        if e["err"]:
            log(f"error in {e['query']}: {e['err']}")
    for q, why in bad.items():
        log(f"check failed for {q}: {why}")

    mixed = a.workload == "mixed_session"
    foreground = (lambda e: e["client"] > 0) if mixed else (lambda e: True)
    log(f"workload={a.workload} seed={a.seed} trace={a.trace} cores={res['cores']} "
        f"passes={len(res['passes'])} executions={attempted} failed={failed} "
        f"failed_ratio={failed / attempted:.4f}")
    log("cold set-ups (JVM start to session and inputs): "
        + ", ".join(f"{x:.3f} s" for x in res["setup_s"]))
    by_query = {}
    for e in res["execs"]:
        if not e["warm"]:
            by_query.setdefault(e["query"], []).append(e["latency_s"])
    for q, xs in by_query.items():
        log(f"  {q}: median {statistics.median(xs):.3f} s over {len(xs)}")

    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        fg_span = (lambda s: s["thread"].startswith("perfbench-client")) if mixed else (lambda s: True)
        metrics = per_layer(spans, res["cores"], fg_span)
        # whole ABBA blocks, so the means cancel a linear drift
        traced = [p["seconds"] for p in res["passes"] if p["traced"]]
        plain = [p["seconds"] for p in res["passes"] if not p["traced"]]
        overhead = statistics.mean(traced) - statistics.mean(plain)
        with open(os.path.join(out, "trace_overhead.json"), "w") as f:
            json.dump({"traced_pass_s": traced, "untraced_pass_s": plain,
                       "overhead_s": overhead}, f)
        log(f"tracing overhead: {overhead:+.4f} s per pass "
            f"(mean of {len(traced)} traced vs {len(plain)} untraced passes, ABBA order)")
        log(f"spans: {os.path.join(out, 'spans.json')}")
    else:
        metrics = end_to_end(res, foreground)
    for k, (v, unit, how) in metrics.items():
        log(f"{k} = {v:.6g} {unit} ({how})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit, _) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
