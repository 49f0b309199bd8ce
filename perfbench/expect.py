#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the result fingerprints run.py checks.

    python3 perfbench/expect.py        (from the repository root)

For every workload key this
  1. runs the harness twice with different seeds (cold pass and
     fingerprints only) and requires the two fingerprints to agree;
  2. dumps the key's result with graft.Verify at the benchmark's sf0.1 data
     and checks every key that has oracle SQL against DuckDB with
     tools/compare.py.
expected.json is written only if every key passes both checks. Keys without
an oracle are listed; their fingerprint rests on step 1 alone.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.OUT, "expect")
SF = os.path.join(run.HERE, "data", "sf0.1")


def harness(cp, keys, seed):
    tmp = os.path.join(OUT, f"tmp{seed}")
    art = os.path.join(OUT, f"fp{seed}.json")
    os.makedirs(tmp, exist_ok=True)
    cmd = run.jvm(cp, tmp) + ["graft.perfbench.Main", "--keys", ",".join(keys),
                              "--seed", str(seed), "--warm-passes", "0", "--trace", "0",
                              "--sf", SF, "--tmp", tmp, "--out", art]
    code = run.run_group(cmd, run.ROOT, os.path.join(OUT, f"fp{seed}.log"), 1800)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        run.fail(f"harness failed (exit {code})", 4)
    with open(art) as f:
        return json.load(f)["fingerprints"]


def oracle_check(cp, keys):
    dump = os.path.join(OUT, "verify")
    tmp = os.path.join(OUT, "tmpv")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = run.jvm(cp, tmp) + ["graft.Verify", SF, dump, ",".join(keys)]
    with open(os.path.join(OUT, "verify.log"), "w") as log:
        code = subprocess.run(cmd, cwd=run.ROOT, env=env, stdout=log, stderr=subprocess.STDOUT).returncode
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        run.fail(f"graft.Verify failed (exit {code})", 4)
    res = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"), dump, SF],
                         capture_output=True, text=True)
    print(res.stdout)
    passed = set(re.findall(r"^PASS\s+(\S+)", res.stdout, re.M))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        with_oracle = set(json.load(f))
    return with_oracle, passed


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        keys = sorted({k for w in json.load(f).values() for k in w["keys"]})
    os.makedirs(OUT, exist_ok=True)
    cp = run.build()
    a, b = harness(cp, keys, 1), harness(cp, keys, 2)
    unstable = [k for k in keys if a[k] != b[k] or a[k].startswith("error")]
    with_oracle, passed = oracle_check(cp, keys)
    wrong = sorted(with_oracle - passed)
    print(f"{len(keys)} keys; {len(with_oracle)} with oracle, {len(passed)} pass; "
          f"no oracle: {sorted(set(keys) - with_oracle)}")
    if unstable or wrong:
        run.fail(f"not written: unstable fingerprints {unstable}, oracle failures {wrong}", 1)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({k: a[k] for k in keys}, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote perfbench/expected.json")


if __name__ == "__main__":
    main()
