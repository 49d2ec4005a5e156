#!/usr/bin/env python3
"""Self-test of the benchmark's checker. Run from the repository root:

    python3 perfbench/selftest.py

It proves that the benchmark can fail:
  1. with one expected entry tampered, every workload reports failures,
     and so does the file arrival of a traced `mapreduce` run;
  2. the catalog passes are isolated: SessionCache.fills repeats exactly;
  3. a set result-changing knob makes the benchmark refuse to run;
  4. in a directory holding only BENCHMARK.json and perfbench/, the
     benchmark exits non-zero without printing a result.
Exits non-zero if any of these does not hold.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def run(args, cwd=ROOT, env=None):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    artifact = next((l.split("artifact ", 1)[1] for l in p.stderr.splitlines()
                     if l.startswith("perfbench: artifact ")), None)
    return p.returncode, result, artifact


def main():
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    for w in workloads:
        code, result, artifact = run(["--workload", w, "--seed", "3", "--seconds", "1",
                                      "--trace", "0", "--tamper"])
        expect(code == 0 and result is not None and result["failed"] > 0
               and not result["correct"] and result["metrics"]["ok_frac"]["value"] < 1.0,
               f"{w}: a tampered expected entry shows as failures ({result and result['failed']} failed)")
        if w == "catalog_iterative" and artifact:
            with open(artifact) as fh:
                fills = json.load(fh)["layers"].get("SessionCache.fills", [])
            expect(len(fills) >= 2 and len(set(fills)) == 1 and fills[0] >= 1,
                   f"{w}: SessionCache.fills repeats exactly across passes ({fills})")

    # file arrival runs only in a traced run; its tampered batch must show
    code, result, artifact = run(["--workload", "mapreduce", "--seed", "3", "--seconds", "1",
                                  "--trace", "1", "--tamper"])
    failures = []
    if artifact:
        with open(artifact) as fh:
            failures = json.load(fh)["failures"]
    expect(code == 0 and result is not None and not result["correct"]
           and any("keyed" in f for f in failures),
           f"mapreduce: a tampered file-arrival batch shows as failures "
           f"({sum('keyed' in f for f in failures)} keyed-result failures)")

    env = dict(os.environ, SPARK_GRAFT_PQ_K="16")
    code, result, _ = run(["--workload", workloads[0], "--seed", "3", "--seconds", "1",
                           "--trace", "0"], env=env)
    expect(code != 0 and result is None, "a set result-changing knob is refused")

    bare = os.path.join(ROOT, ".perfbench", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _ = run(["--workload", workloads[0], "--seed", "3", "--seconds", "1",
                           "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and result is None, "without the program's sources the benchmark fails")

    print("selftest:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
