#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The run builds the engine and this harness from source when they changed
(an sbt project in this directory that compiles ../src/main with it),
generates the workload's inputs from the seed with tools/gen_sf.py, runs
the workload in one JVM (perfbench/src/main/scala/graftbench/Main.scala),
checks the outputs against DuckDB with tools/oracle_check.py, and prints
as its last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics`. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics.

Everything the run writes lives under the build dir ($CARGO_TARGET_DIR,
default .bench_build) of the checkout; the run's own scratch dir is
removed when it ends. The traced run keeps its spans and per-op table in
<build dir>/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Each workload is a closed loop: one JVM, one client thread, one op at a
# time. `sf` is the scale of the timed inputs; the warm-up runs on the
# seed's sibling at sf/10.
WORKLOADS = {
    # Fixed per-op cost. At this scale every table broadcasts, and an op
    # costs its driver-side build, Catalyst and job launches, not its
    # data: TPC-H and analytics queries, an IVF index trained on first
    # use, the toy-scale exchange ops over the staged corpus, and a
    # stateful stream.
    "short_mix": {
        "sf": "0.01",
        "ops": [
            "q1_pricing_summary", "q3_topk_revenue", "q_cube", "q_sessionize",
            "s_ann_ivf", "d_substring_dedup", "t_pii_scrub", "p_token_budget",
            "f_stream_update_counts",
        ],
    },
    # The write path of graft.sources, sharing no staged tables: a
    # FoodPipeline DAG (parquet export with audits) and the steps of a
    # SnapshotTable copy-on-write cycle, each timed as its own op.
    "write_mix": {
        "sf": "0.01",
        "ops": ["pipeline", "snapshot.create", "snapshot.merge", "snapshot.delete",
                "snapshot.compact", "snapshot.read", "snapshot.read_v0",
                "snapshot.vacuum"],
    },
}

# A run must end within 180 s (plus the build, when it builds); stop the
# JVM well before that.
RUN_LIMIT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(bdir):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(bdir, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    log("building the engine and the harness")
    t0 = time.time()
    # sbt's global and boot dirs go to the build dir; its boot socket stays
    # in the system temp dir, where the socket path fits the OS limit
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}", "compile"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return classes


def heap():
    """The Spark driver heap the repo's test run uses: half of RAM, 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def generate(sf, out, seed):
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"),
                        sf, out, str(seed)],
                       stdout=subprocess.DEVNULL, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"input generation failed for sf{sf}")


def stop_group(p):
    """Stop the JVM and everything it started, and wait for it."""
    if p.poll() is None:
        for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(wait)
                break
            except subprocess.TimeoutExpired:
                pass


def oracle_check(full, dump, names, run_dir, cpus):
    """Names of dumped outputs that tools/oracle_check.py passes."""
    if not names:
        return set()
    env = dict(os.environ, ORACLE_DUCKDB_MEMLIMIT="2GB", ORACLE_DUCKDB_THREADS=str(cpus),
               ORACLE_DUCKDB_TMPDIR=os.path.join(run_dir, "duckdb"))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        full, dump, *names], env=env, cwd=run_dir,
                       capture_output=True, text=True, timeout=60)
    passed = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")}
    for l in r.stdout.splitlines():
        if l.startswith("FAIL "):
            log(f"oracle {l[:300]}")
    return passed


def main():
    # a terminated run must still stop its JVM and remove its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in ("src/main/scala/graft", "tools/gen_sf.py", "tools/oracle_check.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} is missing; run from the root of a graft checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark installation")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]

    w = WORKLOADS[a.workload]
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classes = build(bdir)
    t_start = time.time()  # the run's time limit starts after the build
    cpus = os.cpu_count() or 1
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    jvm = None
    try:
        for sub in ("tmp", "local", "out", "duckdb"):
            os.makedirs(os.path.join(run_dir, sub))
        full = os.path.join(run_dir, "data", "full")
        warm = os.path.join(run_dir, "data", "warm")
        t0 = time.time()
        generate(w["sf"], full, a.seed)
        generate(str(float(w["sf"]) / 10), warm, a.seed)
        log(f"inputs sf{w['sf']} + sibling generated in {time.time() - t0:.1f} s")

        out = os.path.join(run_dir, "out")
        cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Xmx{heap()}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
               "graftbench.Main", f"workload={a.workload}", f"ops={','.join(w['ops'])}",
               f"full={full}", f"warm={warm}", f"seconds={a.seconds}",
               f"trace={a.trace}", f"seed={a.seed}", f"out={out}", f"cpus={cpus}"]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as lf:
            jvm = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=lf,
                                   stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                code = jvm.wait(max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                code = None
        if code != 0:
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit("perfbench: the workload run " +
                             ("timed out" if code is None else f"exited with {code}"))
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)

        passed = oracle_check(full, os.path.join(out, "dump"), res["oracle_ops"],
                              run_dir, cpus)
        oracle_failed = set(res["oracle_ops"]) - passed
        samples = res["samples"]
        failed = sum(1 for s in samples if s["error"])
        wrong = sum(1 for s in samples
                    if not s["error"] and (not s["match"] or s["op"] in oracle_failed))
        attempted = len(samples)
        e2e = res["e2e"]
        print(f"workload {a.workload}  seed {a.seed}  sf{w['sf']}  ops {len(w['ops'])}  "
              f"passes {len(res['passes']) + 1}  cores {cpus}")
        for m in bench["end_to_end"]:
            print(f"  {m['name']:<14} {e2e[m['name']]:.4f} {m['unit']}")
        # shown, not bounded: one pass's time, and in a small mix the
        # median op latency is one op's, swing too much from run to run
        print(f"  {'first_pass_s':<14} {e2e['first_pass_s']:.4f} s (unbounded)")
        print(f"  {'op_p50_s':<14} {e2e['op_p50_s']:.4f} s "
              f"(unbounded; median of {res['op_latency_samples']} op latencies)")
        print(f"  {'failed_frac':<14} {failed / attempted:.4f} fraction ({failed}/{attempted})")
        print(f"  {'wrong_frac':<14} {wrong / attempted:.4f} fraction ({wrong}/{attempted})")
        for f_ in res["failed_ops"] + [f"oracle FAIL {o}" for o in sorted(oracle_failed)] \
                + [f"fingerprint mismatch {x}" for x in res["wrong_ops"]] \
                + [f"verify {k}: {v}" for k, v in res["verify_errors"].items()]:
            print(f"  ! {f_}")

        if a.trace:
            layer = res["layer"]
            traces = os.path.join(bdir, "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(os.path.join(out, "trace.json"), kept)
            slow = [t for t in res["first_touch"] if t["ratio"] > 2]
            print("  first-touch (first full-scale run > 2x steady): " +
                  (", ".join(f"{t['op']} {t['first_s']:.2f}/{t['steady_s']:.2f} s"
                             for t in slow) or "none"))
            print(f"  {'op':<24} {'latency_s':>9} {'jobs':>6} {'busy':>6}")
            for p in res["per_op"]:
                print(f"  {p['op']:<24} {p['latency_s']:>9.3f} {p['jobs']:>6.1f} "
                      f"{p['busy_frac']:>6.3f}")
            print(f"  trace.overhead_s {layer['trace.overhead_s']:.4f} s; spans in {kept}")
            metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in wanted}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in wanted}
        print(json.dumps({"correct": wrong == 0 and not res["verify_errors"],
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        if jvm is not None:
            stop_group(jvm)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
