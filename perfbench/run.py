#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run compiles
the engine and the benchmark from source (into `perfbench/target/`); later
runs reuse the build while the sources are unchanged. Each run then starts
one JVM with its own temp, Spark scratch and store directories under
`perfbench/target/runs/`, deletes them at exit, and fails if the system
temp directory gained entries.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The workload's own headline figures and percentile
sample counts go to standard error. Every median and percentile, of the
output line and of the detail figures, is computed here from the JVM's raw
samples by the stats code below, which tests itself on every run.

Extra option: --detail FILE (write the full result, including the traced
run's self-time table, as JSON).
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("store_serving", "llm_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Layers a workload never calls: their per-layer counts and times are 0 in
# that workload's traced runs (no event happened), everything else is
# measured.
NOT_CALLED = {
    "store_serving": ("refinery.", "face.", "warm."),
    "llm_pipeline": ("core.cache.", "core.get_", "core.flush", "core.range_"),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stats

def percentile(xs, p):
    """Nearest-rank percentile p (0-100] of xs."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def supported(n, p):
    """True if at least 10 of n samples lie beyond percentile p."""
    return n - -(-n * p // 100) >= 10


def highest_supported(n, candidates=(50, 90, 95, 99, 99.9)):
    ok = [p for p in candidates if supported(n, p)]
    return ok[-1] if ok else None


def stat(xs, p, name, quiet=False):
    """Percentile p of xs; refuses a percentile with fewer than 10 samples
    beyond it, and logs the sample count and the highest supported one. A
    median of fewer than 10 samples is flagged in the log."""
    n = len(xs)
    if p == 50:
        if n == 0:
            raise ValueError(f"{name}: no samples")
        v = statistics.median(xs)
    else:
        if not supported(n, p):
            raise ValueError(f"{name}: p{p} needs 10 samples beyond it, have n={n}")
        v = percentile(xs, p)
    flag = ", FEW SAMPLES: n < 10" if n < 10 else ""
    if not quiet:
        log(f"{name}: p{p}={v:.4f} (n={n}, highest supported p{highest_supported(n)}{flag})")
    return v


def late_over_early(xs, quiet=False):
    """Median of the last quarter of xs over the median of the first."""
    q = max(1, len(xs) // 4)
    return stat(xs[-q:], 50, "late quarter", quiet) / stat(xs[:q], 50, "early quarter", quiet)


def self_test():
    xs = list(range(1, 1001))
    assert statistics.median(xs) == 500.5
    assert percentile(xs, 99) == 990 and percentile(xs, 50) == 500
    assert supported(1000, 99) and not supported(1000, 99.9) and not supported(999, 99)
    assert highest_supported(1000) == 99 and highest_supported(20) == 50
    assert highest_supported(9) is None
    assert percentile([3, 1, 2], 100) == 3
    assert stat([4.0, 1.0, 3.0, 2.0], 50, "self-test", quiet=True) == 2.5
    assert late_over_early([1.0, 2.0, 9.0, 9.0, 9.0, 9.0, 4.0, 6.0], quiet=True) == 5 / 1.5
    try:
        stat(list(range(50)), 99, "self-test", quiet=True)
        raise AssertionError("p99 of 50 samples must be refused")
    except ValueError:
        pass


# ---------------------------------------------------------------- build

def spark_jars():
    """The jar directory the engine's build compiles and runs against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        log(f"no Spark jar directory: the engine's build names {d!r}")
        sys.exit(3)
    return d


def sources():
    """The engine's main sources and the benchmark's, in a fixed order."""
    out = []
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        out += sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))
    return out


def source_stamp(srcs, jars):
    h = hashlib.sha256()
    for p in [os.path.join(ROOT, "build.sbt")] + srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure_built():
    """Compiles the engine and the benchmark from source in one scalac run,
    with the Scala compiler that ships among the Spark jars (the engine's
    build has no other dependency), into `perfbench/target/classes`.
    Returns the run-time classpath and the sources' stamp."""
    os.makedirs(TARGET, exist_ok=True)
    jars = spark_jars()
    classes = os.path.join(TARGET, "classes")
    cp = f"{classes}:{jars}/*"
    stamp_file = os.path.join(TARGET, "build.stamp")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        srcs = sources()
        stamp = source_stamp(srcs, jars)
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == stamp:
                    return cp, stamp
        log("compiling engine and benchmark (first run in this checkout)")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        build_tmp = os.path.join(TARGET, "build-tmp")
        os.makedirs(build_tmp, exist_ok=True)
        all_jars = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
        compiler = [j for j in all_jars
                    if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", os.path.basename(j))]
        args_file = os.path.join(build_tmp, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(f'"{a}"' for a in ["-nowarn", "-d", classes, "-classpath", ":".join(all_jars)] + srcs))
        t0 = time.time()
        with open(os.path.join(TARGET, "build.log"), "w") as out:
            try:
                rc = subprocess.run(
                    ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={build_tmp}", "-cp", ":".join(compiler),
                     "scala.tools.nsc.Main", "@" + args_file],
                    cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        shutil.rmtree(build_tmp, ignore_errors=True)
        if rc != 0:
            log(f"build failed ({rc}); build log tail:\n" + tail(os.path.join(TARGET, "build.log")))
            sys.exit(3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build done in {time.time() - t0:.0f} s")
        return cp, stamp


# ---------------------------------------------------------------- run

def run_jvm(cp, stamp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_SPARK_CONF", "MAX_RECACHE_ITEMS", "MAX_WRCACHE_ITEMS",
                        "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=error"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--cores", str(cores), "--stamp", stamp])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def figures(res):
    """The JVM's figures by kind ("metric", "detail", "layer"), with the
    medians and percentiles of its raw samples computed here."""
    out = {"metric": dict(res["metrics"]), "detail": dict(res["detail"]), "layer": dict(res["layer"])}
    for name, m in res["medians"].items():
        out[m["kind"]][name] = {"value": stat(m["samples"], 50, name), "unit": m["unit"]}
    s = res["samples"]
    if "get_us" in s:
        out["detail"]["get_p50_us"] = {"value": stat(s["get_us"], 50, "get_us"), "unit": "us"}
        out["detail"]["get_p99_us"] = {"value": stat(s["get_us"], 99, "get_us"), "unit": "us"}
    if "batch_ms" in s:
        out["detail"]["late_over_early"] = {"value": late_over_early(s["batch_ms"]), "unit": "ratio"}
    return out


def output_metrics(res, fig, spec, trace):
    """The metrics of the output line."""
    names = spec["per_layer"] if trace else spec["end_to_end"]
    have = fig["layer"] if trace else fig["metric"]
    out = {}
    for m in names:
        name = m["name"]
        if name in have:
            v = have[name]["value"]
        elif trace and name.startswith(NOT_CALLED[res["workload"]]):
            v = 0.0
        else:
            raise ValueError(f"metric {name} missing from the {res['workload']} result")
        if v is None or v != v:
            raise ValueError(f"metric {name} is not a number")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def snapshot_tmp():
    t = tempfile.gettempdir()
    try:
        return t, set(os.listdir(t))
    except OSError:
        return t, set()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail")
    args = ap.parse_args()
    self_test()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala)")
        sys.exit(2)
    spec = bench_spec()
    tmp_dir, tmp_before = snapshot_tmp()
    cp, stamp = ensure_built()

    run_dir = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    try:
        rc = run_jvm(cp, stamp, args, run_dir)
        result_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            log(f"JVM {'timed out' if rc is None else f'exited {rc}'}; log tail:\n" + tail(os.path.join(run_dir, "jvm.log")))
            sys.exit(4)
        with open(result_file) as f:
            res = json.load(f)
        wall = time.time() - t0
        fig = figures(res)
        metrics = output_metrics(res, fig, spec, args.trace == 1)
        detail = fig["detail"]
        if args.detail:
            res["output_metrics"] = metrics
            res["e2e_metrics"] = fig["metric"]
            res["detail_metrics"] = detail
            res["run_wall_s"] = wall
            res.pop("samples", None)
            res.pop("medians", None)
            with open(args.detail, "w") as f:
                json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    leaked = sorted(set(os.listdir(tmp_dir)) - tmp_before) if os.path.isdir(tmp_dir) else []
    errors = list(res["errors"])
    if leaked:
        errors.append(f"system temp dir {tmp_dir} gained entries: {leaked[:10]}")
    failed = res["failed"] + (1 if leaked else 0)
    attempted = res["attempted"] + 1  # the leak check is one more checked op
    for e in errors:
        log(f"FAILED: {e}")
    log("detail " + json.dumps(detail))
    log(f"run wall {wall:.1f} s, config {json.dumps(res['config'])}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
