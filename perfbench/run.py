#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload suite|hits --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
(perfbench/build.sbt); the `hits` workload generates its seeded table on
first use of a seed (perfbench/.cache). The last line of stdout is one
JSON object: correct, attempted, failed and the metrics (end-to-end
with --trace 0, per-layer with --trace 1). The run's per-statement rows
go to perfbench/.out/. Exits 1 when an output check fails.

    python3 perfbench/run.py --selftest       # tests of the harness
    python3 perfbench/run.py --record-golden  # re-record suite digests
"""

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
# the Spark distribution graft builds and runs against
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or ".")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")
SUITE_GOLDEN = os.path.join(HERE, "golden", "suite_sf0.01.json")
SUITE_QUERIES = os.path.join(HERE, "suite_queries.tsv")
HITS_QUERIES = os.path.join(HERE, "hits_queries.tsv")
HITS_ROWS = 200_000
# One generated table serves every seed (the seed orders the queries):
# generating it takes longer than a run, and a table per seed would add
# the tables' differences to the run-to-run spread.
HITS_DATA_SEED = 0
HITS_CACHE_KEEP = 2

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "resolve.jobs": "count", "resolve.s": "s",
    "build.s": "s", "build.jobs": "count",
    "analysis.s": "s", "optimization.s": "s", "planning.s": "s",
    "graft_rules.s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "sched.idle_s": "s",
    "exec.s": "s", "executor_run.s": "s", "executor_cpu.s": "s", "gc.s": "s",
    "shuffle_read.bytes": "bytes", "shuffle_write.bytes": "bytes",
    "spill.bytes": "bytes", "input.bytes": "bytes",
    "scan.files_read": "count", "scan.files_total": "count",
    "sketch.bypass_tasks": "count", "sketch.bypass_rows": "count",
    "http.insert_s": "s", "http.select_s": "s", "optimize.s": "s",
    "insert_p50_s": "s", "optimize_p50_s": "s", "disk.bytes": "bytes",
    "stored_bytes_per_input_byte": "ratio",
    "failed_frac": "ratio", "trace.overhead_s": "s",
    "trace.consistency_misses": "count",
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            files = [p]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft + the harness unless the sources are unchanged."""
    stamp = tree_hash([GRAFT_SRC, os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building graft and the benchmark harness (sbt)")
    env = dict(os.environ, SPARK_HOME=SPARK_HOME, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")))
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far (/proc/stat)."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return xs[7], sum(xs)


def _die_with_parent():
    """Child-process hook: the JVM is killed if this script dies."""
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def java(mode, work, extra, log_path, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # fixed heap geometry, so the resident set does not follow GC ergonomics
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Main", "--mode", mode, "--work", work,
            "--cpus", str(os.cpu_count())]
    for k, v in extra.items():
        cmd += ["--" + k, str(v)]
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             preexec_fn=_die_with_parent)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0:
        with open(log_path) as lf:
            tail = lf.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"{mode} JVM exited with {rc}")


def hits_data(scratch):
    """Directory of the seeded hits table (`table`) and its digests,
    generating them on first use."""
    seed = HITS_DATA_SEED
    gen = tree_hash([os.path.join(HERE, "src"), HITS_QUERIES])[:12]
    path = os.path.join(CACHE, f"hits-s{seed}-r{HITS_ROWS}-g{gen}")
    if os.path.exists(os.path.join(path, "READY")):
        os.utime(path)
        return path
    os.makedirs(CACHE, exist_ok=True)
    old = sorted((os.path.join(CACHE, d) for d in os.listdir(CACHE)), key=os.path.getmtime)
    for d in old[:max(0, len(old) - HITS_CACHE_KEEP + 1)]:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    log(f"generating hits for seed {seed} ({HITS_ROWS} rows)")
    t0 = time.time()
    java("gen-hits", scratch, {"hits": path, "rows": HITS_ROWS, "seed": seed,
                               "queries": HITS_QUERIES},
         os.path.join(scratch, "gen.log"), 300)
    open(os.path.join(path, "READY"), "w").close()
    log(f"generated in {time.time() - t0:.0f} s")
    return path


def summarize(art, trace):
    """The result line's metrics from the run's artifact."""
    samples = art["samples"]
    untraced = [s for s in samples if not s["traced"] and s["kind"] != "warmup"]
    traced = [s for s in samples if s["traced"]]
    if not trace:
        # every attempted read counts, so a failing one cannot thin the
        # samples below the percentile's minimum
        reads = [s["wall_s"] for s in untraced if s["kind"] == "read"]
        log(f"{len(reads)} read samples in {len(art['pass_s'])} passes")
        return {
            "setup_s": benchlib.median(art["setup_s"]),
            "pass_s": benchlib.median(art["pass_s"]),
            "query_p50_s": benchlib.percentile(reads, 0.5),
            "query_p90_s": benchlib.percentile(reads, 0.9),
            "peak_rss_mb": art["peak_rss_mb"],
        }
    m = {k: 0.0 for k in PER_LAYER}
    m.update(benchlib.layer_sums(traced))
    m.update(art["probes"])
    # after a warm-up lap, every read statement ran once traced and once
    # untraced, in alternating order; the HTTP inserts and merges of the
    # hits workload cannot repeat, and ran traced only
    untraced_wall = {s["name"]: s["wall_s"] for s in untraced}
    paired = [s for s in traced if s["name"] in untraced_wall]
    m["trace.overhead_s"] = sum(s["wall_s"] - untraced_wall[s["name"]] for s in paired)
    misses = benchlib.consistency_misses(
        {s["name"]: (s["layers"], s["wall_s"]) for s in paired}, untraced_wall)
    for name, total, wall, tol in misses:
        log(f"consistency miss {name}: layers {total:.4f} s, untraced {wall:.4f} s, "
            f"tolerance {tol:.4f} s")
    m["trace.consistency_misses"] = len(misses)
    art["consistency_misses"] = misses
    return m


def main():
    # a SIGTERM unwinds like an exception, so the work dir is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["suite", "hits"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        sys.exit(f"graft sources not found under {GRAFT_SRC}: run from a full checkout")
    if not (a.workload or a.selftest or a.record_golden):
        ap.error("--workload is required")
    build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.selftest:
            r = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", HERE,
                                "-p", "test_*.py"], cwd=HERE)
            if r.returncode != 0:
                sys.exit("python tests failed")
            java("selftest", work, {}, os.path.join(work, "selftest.log"), 600)
            print(open(os.path.join(work, "selftest.log")).read().strip().splitlines()[-1])
            return
        if a.record_golden:
            java("run", work, {"workload": "suite", "seed": a.seed, "seconds": 0,
                               "trace": 0, "data": SUITE_DATA, "golden": SUITE_GOLDEN,
                               "record": 1, "out": os.path.join(work, "a.json")},
                 os.path.join(work, "run.log"), 900)
            log(f"recorded {SUITE_GOLDEN}")
            return
        os.makedirs(OUT, exist_ok=True)
        artifact = os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}.json")
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "out": artifact}
        if a.workload == "suite":
            args.update(data=SUITE_DATA, golden=SUITE_GOLDEN, queries=SUITE_QUERIES)
        elif a.workload == "hits":
            args.update(hits=hits_data(work), queries=HITS_QUERIES)
        steal0, total0 = cpu_ticks()
        # a run must end within 180 s; a hung JVM is killed before that
        java("run", work, args, os.path.join(work, "run.log"), 170)
        steal1, total1 = cpu_ticks()
        with open(artifact) as f:
            art = json.load(f)
        # diagnostic only: CPU time the hypervisor gave to other guests
        art["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        log(f"cpu steal during the run: {art['cpu_steal_share']:.1%}")
        failures = art["failures"]
        for fl in failures:
            log(f"output check failed: {fl['name']}: {fl['error']}")
        attempted = max(1, len(art["samples"]))
        metrics = summarize(art, a.trace)
        if a.trace:
            metrics["failed_frac"] = len(failures) / attempted
        art["metrics"] = metrics
        with open(artifact, "w") as f:
            json.dump(art, f)
        units = PER_LAYER if a.trace else END_TO_END
        line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
        log(f"artifact: {os.path.relpath(artifact, ROOT)}")
        print(json.dumps(line), flush=True)
        if failures:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
