#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the runner
with the Scala compiler that ships with Spark (into `.bench_build/`,
reused while the sources are unchanged), generates the workload's
inputs from the seed (`gen.py`, cached per seed), and starts one
`local[nproc]` JVM (`scala/graft/perfbench/Runner.scala`) that sets up
once, then times whole passes over the workload's ops (`workloads.py`)
for `--seconds`. Every op's last output is checked against its DuckDB
twin (`check.py`). The last stdout line is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (BENCHMARK.json lists both). Failed and wrong ops are
named on stderr with their cause; the full result, with the tail
percentile and its sample count, goes to `.bench_build/results/`, and
the JVM log of the last run stays in `.bench_build/run/jvm.log`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

BUILD = ".bench_build"
JVM_TIMEOUT_S = 150
# A fixed heap, touched in full at start: how much of a heap is resident
# depends on GC timing, which made peak RSS differ by up to 15% run to run.
# Peak RSS then moves with off-heap memory (state stores, code, metadata);
# heap use shows in jvm.heap_peak_mb.
HEAP = "2g"
KEEP_INPUTS = 4
KEEP_BUILDS = 2
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's own
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("no library sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                                   recursive=True))


def build(root, jars):
    """Compiles library + runner into `<dir>/classes`, once per source
    digest, and returns `<dir>`. The two builds used last are kept, so a
    checkout can switch between two source trees without recompiling."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD, f"build-{h.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                            for p in ("compiler", "library", "reflect"))
        t0 = time.time()
        log(f"compiling {len(srcs)} sources")
        subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", ":".join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
                        "-d", classes] + srcs,
                       check=True, stdout=sys.stderr, timeout=600)
        open(os.path.join(out, ".done"), "w").close()
        log(f"compiled in {time.time() - t0:.1f} s")
    os.utime(out)
    builds = sorted(glob.glob(os.path.join(root, BUILD, "build-*")), key=os.path.getmtime)
    for old in builds[:-KEEP_BUILDS]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def inputs(root, workload, seed):
    """The generated tables' directory, cached per (generator, workload,
    seed)."""
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + f"{workload}/{seed}".encode()).hexdigest()[:12]
    base = os.path.join(root, BUILD, "inputs", f"{workload}-{seed}-{key}")
    if not os.path.exists(os.path.join(base, ".done")):
        shutil.rmtree(base, ignore_errors=True)
        t0 = time.time()
        gen.generate(base, workload, seed)
        open(os.path.join(base, ".done"), "w").close()
        log(f"generated inputs in {time.time() - t0:.1f} s")
    os.utime(base)
    cached = sorted(glob.glob(os.path.join(root, BUILD, "inputs", "*")),
                    key=os.path.getmtime)
    for old in cached[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return base


def _json(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def run_jvm(root, jars, build_dir, workload, base, seconds, trace):
    """Runs the Runner and returns (run dir, record). The record's `ops`
    are the timed executions and `setup_s` runs from the JVM's launch to
    the first timed op. A run that is cut (timeout, crash) still gives a
    record: every op it did not finish counts as failed with the cause,
    and its wall time and RSS are infinite."""
    ops = workloads.WORKLOADS[workload]
    run = os.path.join(root, BUILD, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "stage", "stream", "warehouse"):
        os.makedirs(os.path.join(run, d))
    ops_file = os.path.join(run, "ops.txt")
    with open(ops_file, "w") as f:
        f.writelines(f"{op} {module}\n" for op, module in ops)
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              f"-Djava.io.tmpdir={run}/tmp", f"-Dgraft.stage.tmp={run}/stage",
              f"-Dgraft.stream.tmp={run}/stream", f"-Dperfbench.warehouse={run}/warehouse",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{build_dir}/classes:{jars}/*", "graft.perfbench.Runner",
              workload, ops_file, base, str(seconds), str(trace), run])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    with open(os.path.join(run, "jvm.log"), "w") as jlog:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env, cwd=run)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    setup = _json(os.path.join(run, "setup.json"))
    execs = []
    if os.path.exists(os.path.join(run, "ops.jsonl")):
        with open(os.path.join(run, "ops.jsonl")) as f:
            for line in f:
                try:
                    execs.append(json.loads(line))
                except ValueError:  # the line a killed runner was writing
                    pass
    rec = _json(os.path.join(run, "record.json")) if code == 0 else None
    log(f"runner ended ({code}) after {time.time() - launched:.1f} s")
    if rec is None:
        cause = (f"runner timed out after {JVM_TIMEOUT_S} s" if code == "timeout"
                 else f"runner exited with code {code}")
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(cause)
        execs += stats.unfinished(execs, ops, cause)
        rec = dict(cut=cause, loop=[0.0, 0.0], passes=max(e["pass"] for e in execs) + 1,
                   batches=[], stream_starts=[],
                   peak_rss_mb=math.inf, gc_s=0.0, heap_peak_mb=0.0, calib_s=0.0,
                   jobs=[], stages=[], tasks=[], execs=[], compiles=[])
    rec["ops"] = execs
    rec["setup"] = setup or {"errors": [], "oracle": {}}
    rec["setup_s"] = setup["loop_start"] / 1000.0 - launched if setup else math.inf
    return run, rec


def check_outputs(rec, base, run):
    """{op: cause} for every op whose last output disagrees with its twin.
    Ops that raised are failed already and are not compared."""
    import check
    wrong = {}
    raised = {e["op"] for e in rec["ops"] if e["error"]}
    for op in dict.fromkeys(e["op"] for e in rec["ops"]):
        if op in raised:
            continue
        sql = rec["setup"]["oracle"].get(op)
        cause = ("no oracle twin" if sql is None else
                 check.compare(base, os.path.join(run, "out"), op, sql))
        if cause:
            wrong[op] = cause
    return wrong


def in_window(t, window):
    return window[0] <= t <= window[1]


def end_to_end(rec, wrong):
    execs = rec["ops"]
    lat = stats.latencies(execs, wrong)
    p_tail, op_tail = stats.tail(lat)
    walls = []
    for p in range(rec["passes"]):
        mine = [e for e in execs if e["pass"] == p]
        walls.append(math.inf if "cut" in rec else
                     (max(e["t2"] for e in mine) - min(e["t0"] for e in mine)) / 1000.0)
    metrics = {
        "setup_s": (rec["setup_s"], "s"),
        "wall_s": (stats.median(walls), "s"),
        "op_p50_s": (stats.median(lat), "s"),
        "op_tail_s": (op_tail, "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    detail = {"op_tail_percentile": p_tail, "op_n": len(lat), "pass_walls_s": walls,
              "passes": rec["passes"], "cut": rec.get("cut"),
              "setup": {k: v for k, v in rec["setup"].items() if k != "oracle"},
              "op_s": {e["op"]: round((e["t2"] - e["t0"]) / 1000.0, 4) for e in execs},
              "fail_share": stats.fail_share(*stats.failures(execs, wrong))}
    return metrics, detail


def layers(rec, wrong):
    """Per-layer metrics of a traced run. Sums and counts of work are per
    pass; failure counts, shares, peaks and the probe are not."""
    win, passes = rec["loop"], rec["passes"]
    execs = rec["ops"]
    m = {}
    for mod in workloads.MODULES:
        mine = [e for e in execs if e["module"] == mod]
        m[f"{mod}.busy_s"] = (sum(e["t2"] - e["t0"] for e in mine) / 1000.0 / passes, "s")
        m[f"{mod}.ops"] = (len(mine) / passes, "count")
        m[f"{mod}.failed"] = (sum(1 for e in mine if e["error"] or e["op"] in wrong), "count")

    ex = [x for x in rec["execs"] if in_window(x[1], win)]
    m["catalyst.analysis_s"] = (sum(x[2] for x in ex) / 1000.0 / passes, "s")
    m["catalyst.optimization_s"] = (sum(x[3] for x in ex) / 1000.0 / passes, "s")
    m["catalyst.planning_s"] = (sum(x[4] for x in ex) / 1000.0 / passes, "s")
    m["catalyst.executions"] = (len(ex) / passes, "count")
    cg = [c for c in rec["compiles"] if in_window(c[0], win)]
    m["codegen.compile_s"] = (sum(c[1] for c in cg) / 1000.0 / passes, "s")
    m["codegen.compiles"] = (len(cg) / passes, "count")
    jobs = [j for j in rec["jobs"] if in_window(j[0], win)]
    m["driver.nonjob_s"] = (sum(stats.self_time((e["t0"], e["t2"]), jobs)
                                for e in execs) / 1000.0 / passes, "s")

    tasks = [t for t in rec["tasks"] if in_window(t[0], win)]
    col = lambda i: sum(t[i] for t in tasks)  # noqa: E731
    m["exec.jobs"] = (len(jobs) / passes, "count")
    stages = [s for s in rec["stages"] if in_window(s[0], win)]
    m["exec.stages"] = (len(stages) / passes, "count")
    m["exec.tasks"] = (len(tasks) / passes, "count")
    m["exec.task_run_s"] = (col(3) / 1000.0 / passes, "s")
    m["exec.task_cpu_s"] = (col(4) / 1000.0 / passes, "s")
    m["exec.task_gc_s"] = (col(5) / 1000.0 / passes, "s")
    m["exec.task_wait_s"] = (col(6) / 1000.0 / passes, "s")
    m["exec.tasks_failed"] = (sum(1 for t in tasks if not t[2]), "count")
    m["exec.stages_retried"] = (sum(1 for s in stages if s[1] > 0), "count")
    m["exec.empty_task_share"] = (
        sum(1 for t in tasks if t[14] == 0) / len(tasks) if tasks else 0.0, "ratio")
    m["shuffle.write_bytes"] = (col(7) / passes, "B")
    m["shuffle.read_bytes"] = (col(8) / passes, "B")
    m["shuffle.fetch_wait_s"] = (col(9) / 1000.0 / passes, "s")
    m["spill.memory_bytes"] = (col(10) / passes, "B")
    m["spill.disk_bytes"] = (col(11) / passes, "B")
    m["scan.bytes_read"] = (col(12) / passes, "B")
    m["sink.bytes_written"] = (col(13) / passes, "B")

    batches = [b for b in rec["batches"] if in_window(b["t0"], win)]
    dur = lambda k: sum(b["durations"].get(k, 0) for b in batches) / 1000.0 / passes  # noqa: E731
    lifecycle, last = 0.0, []
    for e in execs:
        span = (e["t0"], e["t2"])
        mine = [b for b in batches if in_window(b["t0"], span)]
        if mine:
            intervals = [(b["t0"], b["t0"] + b["durations"].get("triggerExecution", 0))
                         for b in mine]
            lifecycle += stats.self_time(span, intervals)
            last.append(max(mine, key=lambda b: b["t0"]))
    m["stream.queries"] = (len([t for t in rec["stream_starts"] if in_window(t, win)])
                           / passes, "count")
    m["stream.batches"] = (len(batches) / passes, "count")
    trig = [b["durations"].get("triggerExecution", 0) for b in batches]
    m["stream.batch_p50_ms"] = (stats.median(trig) if trig else 0.0, "ms")
    m["stream.batch_tail_ms"] = (stats.tail(trig)[1] if trig else 0.0, "ms")
    m["stream.trigger_s"] = (dur("triggerExecution"), "s")
    m["stream.add_batch_s"] = (dur("addBatch"), "s")
    m["stream.planning_s"] = (dur("queryPlanning"), "s")
    m["stream.wal_commit_s"] = (dur("walCommit"), "s")
    m["stream.commit_offsets_s"] = (dur("commitOffsets"), "s")
    m["stream.source_s"] = (dur("getBatch") + dur("latestOffset"), "s")
    m["stream.state_commit_s"] = (sum(b["state_commit_ms"] for b in batches)
                                  / 1000.0 / passes, "s")
    m["stream.batch0_s"] = (sum(b["durations"].get("triggerExecution", 0)
                                for b in batches if b["batch"] == 0) / 1000.0 / passes, "s")
    m["stream.lifecycle_s"] = (lifecycle / 1000.0 / passes, "s")
    m["stream.state_rows"] = (sum(b["state_rows"] for b in last) / passes, "count")
    m["stream.state_bytes"] = (sum(b["state_bytes"] for b in last) / passes, "B")
    m["stream.rows_in"] = (sum(b["rows_in"] for b in batches) / passes, "count")
    m["stream.late_rows_dropped"] = (sum(b["late_rows"] for b in batches), "count")
    m["jvm.gc_s"] = (rec["gc_s"] / passes, "s")
    m["jvm.heap_peak_mb"] = (rec["heap_peak_mb"], "MB")
    m["box.calib_s"] = (rec["calib_s"], "s")
    return m


def op_breakdown(rec):
    """Per op, averaged over timed passes: its wall time, the CPU time of
    the tasks launched inside it and the part of it no Spark job covers
    (traced runs; written to the results file)."""
    out = {}
    for e in rec["ops"]:
        span = (e["t0"], e["t2"])
        cpu = sum(t[4] for t in rec["tasks"] if in_window(t[0], span))
        row = out.setdefault(e["op"], [0.0, 0.0, 0.0])
        row[0] += (e["t2"] - e["t0"]) / 1000.0 / rec["passes"]
        row[1] += cpu / 1000.0 / rec["passes"]
        row[2] += stats.self_time(span, rec["jobs"]) / 1000.0 / rec["passes"]
    return {op: dict(zip(("wall_s", "task_cpu_s", "nonjob_s"), (round(x, 4) for x in v)))
            for op, v in out.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars(root)
    build_dir = build(root, jars)
    base = inputs(root, a.workload, a.seed)
    run, rec = run_jvm(root, jars, build_dir, a.workload, base, a.seconds, a.trace)
    t0 = time.time()
    wrong = check_outputs(rec, base, run)
    log(f"checked outputs in {time.time() - t0:.1f} s")
    attempted, failed = stats.failures(rec["ops"], wrong)
    for err in rec["setup"]["errors"]:
        log(f"set-up step failed, {err}")
    for op in dict.fromkeys(e["op"] for e in rec["ops"]):
        errs = [e["error"] for e in rec["ops"] if e["op"] == op and e["error"]]
        if errs or op in wrong:
            log(f"FAILED {op}: {errs[0] if errs else 'wrong result: ' + wrong[op]}")
    metrics, detail = end_to_end(rec, wrong)
    if a.trace:
        metrics = dict(layers(rec, wrong), **{"trace.wall_s": metrics["wall_s"]})
        detail["per_op"] = op_breakdown(rec)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(root, BUILD, "results"), exist_ok=True)
    with open(os.path.join(root, BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(result, detail=detail, wrong=wrong), f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
