#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(graft.perfbench.Main), checks every key's result fingerprint against
perfbench/expected.json, and prints either the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in BENCHMARK.json.
Artifacts, logs and span files go to .bench_build/perfbench/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(BUILD, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# a run must end within 180 s, or 900 s when it builds first
HARNESS_LIMIT_S = 165
BUILD_LIMIT_S = 700
HEAP = "4g"

# JVM flags Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group, log to log_path; kill the whole
    group if it outlives timeout or this script is terminated. Returns the
    exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        def terminate(*_):
            stop()
            sys.exit(130)

        old = {s: signal.signal(s, terminate) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
            return None
        finally:
            for s, h in old.items():
                signal.signal(s, h)


def source_stamp():
    h = hashlib.sha256()
    dirs = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the last build is current;
    return the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(OUT, "build.log")
    code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, log, BUILD_LIMIT_S, env)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail(f"no classpath in {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm(cp, tmp):
    """The java command line up to the main class."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def score(art, expected):
    """Attempted executions (timed ones plus one fingerprint check per key),
    the executions that threw, and the keys whose fingerprint is not the
    expected one. Both kinds of failure count in error_rate."""
    errors = [(e["key"], e["pass"], e["error"]) for e in art["execs"] if e["error"]]
    mismatches = [k for k, fp in art["fingerprints"].items() if expected.get(k) != fp]
    return len(art["execs"]) + len(art["fingerprints"]), errors, mismatches


def finite(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool) and math.isfinite(x)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("run from the repository root: src/main/scala/graft/SparkEntry.scala not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; have {sorted(workloads)}")
    keys = workloads[a.workload]["keys"]
    # a fixed number of warm passes, sized to --seconds at the workload's
    # nominal pass time, so that every run does the same work
    passes = max(2, round(a.seconds / workloads[a.workload]["pass_s"]))
    sf = os.path.join(HERE, "data", "sf0.1")

    os.makedirs(OUT, exist_ok=True)
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    artifact = os.path.join(OUT, f"{tag}.json")
    spans = os.path.join(OUT, f"{tag}.spans.jsonl")
    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    for stale in (artifact, spans):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = jvm(cp, tmp) + ["graft.perfbench.Main", "--keys", ",".join(keys),
            "--seed", str(a.seed), "--warm-passes", str(passes), "--trace", str(a.trace),
            "--sf", sf, "--tmp", tmp, "--out", artifact]
    if a.trace:
        cmd += ["--spans", spans]
    log = os.path.join(OUT, f"{tag}.log")
    code = run_group(cmd, ROOT, log, HARNESS_LIMIT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(artifact):
        fail(f"harness failed (exit {code}); see {log}", 4)
    with open(artifact) as f:
        art = json.load(f)

    attempted, errors, mismatches = score(art, expected)
    failed = len(errors) + len(mismatches)
    art["attempted"], art["failed"], art["error_rate"] = attempted, failed, failed / attempted
    art["failed_keys"] = sorted({k for k, _, _ in errors} | set(mismatches))
    with open(artifact, "w") as f:
        json.dump(art, f)

    print(f"workload {a.workload}: {len(keys)} keys, seed {a.seed}, nproc {art['nproc']}, "
          f"{art['warm_passes']} warm passes, {art['warm_samples']} warm samples")
    steal = art["steal_pct_warm"]
    print(f"load avg {art['load_avg_start']:.2f} -> {art['load_avg_end']:.2f}; calibration burn "
          f"single {art['calib_single']:.3f} s, parallel {art['calib_parallel']:.3f} -> "
          f"{art['calib_parallel_end']:.3f} s; CPU steal during warm passes "
          + (f"{steal:.1f}%" if finite(steal) else "n/a"))
    for k, p, err in errors:
        print(f"FAILED {k} (pass {p}): {err[:200]}")
    for k in mismatches:
        print(f"MISMATCH {k}: fingerprint {art['fingerprints'][k]} != expected {expected.get(k)}")
    print(f"error_rate {art['error_rate']:.4f} ({failed}/{attempted} executions)")
    warm = [e["ms"] for e in art["execs"] if e["pass"] > 1 and not e["error"]]
    p90 = art["metrics"].get("warm_p90_ms")
    if warm and finite(p90):
        print(f"warm samples {len(warm)}; warm_p90_ms {p90:.1f} ms has "
              f"{sum(x > p90 for x in warm)} samples beyond it, too few for a bound")

    if a.trace:
        wanted = spec["per_layer"]
        values = art["layers"]
        untraced = []
        for n in sorted(os.listdir(OUT)):
            if n.startswith(f"{a.workload}-s") and n.endswith("-t0.json"):
                with open(os.path.join(OUT, n)) as f:
                    untraced.append(json.load(f)["metrics"]["cold_s"])
        if untraced:
            base = statistics.median(untraced)
            over = values["trace.cold_s"] - base
            print(f"tracing overhead: {over:+.3f} s on cold_s ({100 * over / base:+.1f}%) "
                  f"vs median of {len(untraced)} untraced runs")
        else:
            print("tracing overhead: no untraced run of this workload to compare with yet")
        worst = max((r["residual"] for r in art["accounting"]), default=0.0)
        print(f"spans: {spans}; worst per-key accounting residual {100 * worst:.1f}%")
    else:
        wanted = spec["end_to_end"]
        values = art["metrics"]
    units = {m["name"]: m["unit"] for m in wanted}
    # a traced run prints every layer metric it measured, including those
    # left out of BENCHMARK.json for always reading 0 here
    for name in (values if a.trace else units):
        v = values.get(name)
        print(f"{name:34s} {v:14.4f} {units.get(name, '')}" if finite(v) else f"{name}: missing")
    print(f"artifact: {artifact}")
    missing = [m["name"] for m in wanted if not finite(values.get(m["name"]))]
    if missing:
        fail(f"metrics not measured: {missing}", 5)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
