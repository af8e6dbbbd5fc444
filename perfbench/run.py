#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per run, timed from outside.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

A run builds the program from source when the sources changed
(perfbench/build.sh), generates its inputs from the seed, starts one JVM
that sets up the workload, warms it and times passes over it for
`--seconds` (graft.perfbench.Main), then checks every output against an
independent oracle (perfbench/oracle.py). Everything it writes goes under
.bench_build/perfbench/ in the repository root.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones; with `--trace 1` the per-layer ones (BENCHMARK.json).
The exit code is 0 only when every output matched its oracle.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 170

# Table workloads run at this TPC-H-ish scale factor; the MapReduce
# corpus is CORPUS_FILES files of CORPUS_LINES lines each.
SF = 0.01
CORPUS_FILES = 16
CORPUS_LINES = 6000
MR_REDUCERS = 4
SETUPS = 3
# Spark runs local[CORES[workload]], leaving the machine's other cores
# to the driver thread, the JIT, the garbage collector and the operating
# system. The MapReduce jobs gain from a second task thread; the LLM
# pipeline is bound by its driver thread (planning, code generation,
# eager construction) and runs as fast on one, with less CPU.
CORES = {"mr_corpus": 2, "llm_pipeline": 1, "classes": 2}
WORKLOADS = ("mr_corpus", "llm_pipeline")

E2E = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
       "cpu_s": "s", "heap_live_mb": "MB"}
LAYER_UNITS = {
    "construct_s": "s", "construct_self_s": "s", "construct_jobs": "count", "plan_s": "s",
    "plan_exchanges": "count", "exec_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
    "gc_s": "s", "task_skew": "ratio", "core_idle_frac": "ratio",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "shuffle_records": "count", "spill_mb": "MB", "fetch_wait_s": "s",
    "scan_mb": "MB", "scan_records": "count", "materialized_mb": "MB",
    "shared_build_hit_frac": "ratio", "stages_skipped_frac": "ratio",
    "blocks_held_mb": "MB", "heap_peak_mb": "MB", "mr_map_s": "s", "mr_reduce_s": "s",
    "mr_map_out_records": "count", "mr_reduce_skew": "ratio",
    "mr_pipe_child_cpu_s": "s", "mr_input_mb_per_s": "MB/s",
    "stream_exec_s": "s", "stream_wait_s": "s", "stream_batches": "count",
    "state_rows": "count", "state_mb": "MB", "wal_commit_s": "s",
    "disk_write_mb": "MB", "disk_read_mb": "MB",
    "trace_overhead_frac": "ratio", "ext_cpu_cores": "cores",
    "iowait_cores": "cores",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the
    repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("cannot find Spark's jars (set SPARK_HOME)", 2)


def build(jars):
    """Compiles the program and the harness into one jar unless the
    sources are unchanged since the last build; returns the jar."""
    src_roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(src_roots[0]):
        fail("no program sources (src/main/scala) next to the benchmark", 2)
    h = hashlib.sha256()
    for root in src_roots:
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = h.hexdigest()
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    os.makedirs(BUILD, exist_ok=True)
    for stale in (stamp, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), jar, jars],
                             stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc})", 2)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def java_cmd(jar, jars, work, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *extra]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}:{jars}/*", "graft.perfbench.Main"]


def harness(cmd, work, deadline):
    """Runs the harness JVM in `work`; returns its exit code."""
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def class_archive(jar, jars):
    """The JVM's class-data archive for this build: the classes a run of
    every workload loads, mapped at start-up instead of read from the
    jars, which halves the cold set-up. Made once per build, by one
    untimed run over small inputs; without it the runs still work."""
    if os.path.exists(ARCHIVE):
        return ["-XX:SharedArchiveFile=" + ARCHIVE]
    import gen

    work = os.path.join(BUILD, "work", "classes")
    shutil.rmtree(work, ignore_errors=True)
    data, corpus = os.path.join(work, "data"), os.path.join(work, "corpus")
    gen.tables(data, SF, 0)
    gen.corpus(corpus, 0, 4, 1000)
    cmd = java_cmd(jar, jars, work, ["-XX:ArchiveClassesAtExit=" + ARCHIVE]) + [
        "--workload", "classes", "--seed", "0", "--seconds", "0", "--trace", "1",
        "--data", data, "--corpus", corpus, "--work", work,
        "--scripts", os.path.join(HERE, "mr"), "--setups", "1",
        "--cores", str(CORES["classes"])]
    if harness(cmd, work, time.time() + 600) != 0 or not os.path.exists(ARCHIVE):
        print("perfbench: no class-data archive; continuing without", file=sys.stderr)
        return []
    return ["-XX:SharedArchiveFile=" + ARCHIVE]


def run_jvm(jar, jars, cds, workload, args, work, data, corpus, deadline):
    cmd = java_cmd(jar, jars, work, cds) + [
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--corpus", corpus, "--work", work,
        "--scripts", os.path.join(HERE, "mr"), "--setups", str(SETUPS),
        "--cores", str(CORES[workload])]
    launch = time.time()
    rc = harness(cmd, work, deadline)
    log = os.path.join(work, "jvm.log")
    if rc is None:
        fail(f"{workload}: timed out; see {log}")
    if rc != 0 or not os.path.exists(os.path.join(work, "metrics.json")):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: harness exited with {rc}")
    with open(os.path.join(work, "metrics.json")) as f:
        return json.load(f), launch


def run_one(workload, args, jar, jars, cds, deadline):
    import gen
    import oracle

    t0 = time.time()
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    data, corpus = os.path.join(work, "data"), os.path.join(work, "corpus")
    inputs = {}
    if workload == "mr_corpus":
        nbytes, nlines = gen.corpus(corpus, args.seed, CORPUS_FILES, CORPUS_LINES)
        inputs.update(corpus_bytes=nbytes, corpus_lines=nlines)
    else:
        gen.tables(data, SF, args.seed)
        inputs.update(table_bytes=sum(os.path.getsize(os.path.join(data, f))
                                      for f in os.listdir(data)))
    gen_s = time.time() - t0

    m, launch = run_jvm(jar, jars, cds, workload, args, work, data, corpus, deadline)
    jvm_s = time.time() - launch
    t_check = time.time()

    # output check, outside the timed section
    mismatches = dict(m["failures"])
    if workload == "mr_corpus":
        counts = oracle.word_counts(corpus)
        inputs["distinct_keys"] = len(counts)
        for job in ("mr_wc_fn", "mr_wc_exec"):
            why = oracle.check_word_count(os.path.join(work, "mr", job), counts, MR_REDUCERS)
            if why:
                mismatches[job] = why
        why = oracle.check_grep(os.path.join(work, "mr", "mr_grep"), oracle.grep_lines(corpus))
        if why:
            mismatches["mr_grep"] = why
    else:
        mismatches.update(oracle.check_queries(os.path.join(work, "out"), data))

    check_s = time.time() - t_check
    launch_s = m["main_epoch_ms"] / 1e3 - launch
    e2e = dict(m["e2e"])
    e2e["setup_s"] = gen_s + launch_s + statistics.median(m["setup_jvm_s"])
    layers = dict(m["layers"])
    layers["ext_cpu_cores"] = m["ext_cpu_cores"]
    layers["iowait_cores"] = m["iowait_cores"]
    mr_mb_s = 0.0
    if workload == "mr_corpus":
        mr_mb_s = inputs["corpus_bytes"] / 1048576 / m["per_item_p50_s"]["mr_wc_fn"]
    layers["mr_input_mb_per_s"] = mr_mb_s

    attempted = m["attempted"]
    failed = m["failed_samples"] + sum(1 for n in mismatches if n not in m["failures"])
    print(f"== {workload} seed={args.seed} passes={m['passes']} "
          f"left_out_for_steal={m['contended_passes']} "
          f"traced_passes={m['traced_passes']} window_s={m['window_s']:.2f} "
          f"items={len(m['per_item_p50_s'])}")
    print("   inputs: " + " ".join(f"{k}={v}" for k, v in inputs.items()))
    print(f"   run: gen_s={gen_s:.2f} jvm_s={jvm_s:.2f} (start {launch_s:.2f}, set-ups "
          + "/".join(f"{x:.2f}" for x in m["setup_jvm_s"])
          + f", window {m['window_s']:.2f}) check_s={check_s:.2f}")
    print("   pass walls: " + " ".join(f"{x:.2f}" for x in m["pass_walls_s"]) + " s; steal: "
          + " ".join(f"{x:.2f}" for x in m["pass_steal_s"]) + " s")
    for k, unit in E2E.items():
        print(f"   {k} = {e2e[k]:.4f} {unit}")
    print(f"   query_tail_s is the median wall of the slowest item ({m['slowest_item']}); "
          f"{m['samples']} timed samples")
    print(f"   failed_frac = {failed / max(attempted, 1):.4f}  "
          f"blocks_held_mb = {m['blocks_held_mb']:.2f} MB  "
          f"mr_input_mb_per_s = {mr_mb_s:.3f} MB/s")
    print(f"   contention: ext_cpu_cores = {m['ext_cpu_cores']:.2f}  "
          f"iowait_cores = {m['iowait_cores']:.2f}  steal_cores = {m['steal_cores']:.2f}")
    if args.trace:
        for k in sorted(layers):
            print(f"   {k} = {layers[k]:.4f} {LAYER_UNITS[k]}")
    for n, why in sorted(mismatches.items()):
        print(f"   MISMATCH {n}: {why}")
    if args.trace:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    return {"correct": not mismatches, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (harness's finally clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    jars = spark_jars()
    jar = build(jars)
    cds = class_archive(jar, jars)
    deadline = time.time() + DEADLINE_S
    if args.workload != "all":
        result = run_one(args.workload, args, jar, jars, cds, deadline)
    else:
        results = {}
        for w in WORKLOADS:
            results[w] = run_one(w, args, jar, jars, cds, time.time() + DEADLINE_S)
            print(json.dumps(results[w]))
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{w}.{k}": v for w, r in results.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
