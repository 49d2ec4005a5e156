#!/usr/bin/env python3
"""The repository benchmark: two workloads, each in its own JVM on
local[4] with one closed-loop client thread.

    python3 perfbench/run.py --workload <mapreduce|catalog_iterative>
        --seed <n> --seconds <n> --trace <0|1> [--tamper]

Run from the repository root. The first run builds the program and the
harness from source into .perfbench/build/ (keyed by a hash of the
sources); every run generates its inputs from --seed under
.perfbench/work/, checks every operation against an independent oracle,
writes a self-describing artifact under .perfbench/runs/ (never
overwritten) and prints one JSON line as the last line of stdout.

--tamper corrupts one expected entry, so a correct program must then show
failures; perfbench/selftest.py uses it.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("mapreduce", "catalog_iterative")
# result-changing knobs: a run under any of them is not a run of the
# program's defaults, so the benchmark refuses it
REFUSED_KNOBS = ("SPARK_GRAFT_PQ_K", "SPARK_GRAFT_MIN_EST_JACCARD",
                 "SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_SHJ_THRESHOLD")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170

# Input sizes per workload: one run (set-up, warm-up and measurement) takes
# about a minute on a 4-core host.
MAPREDUCE = dict(files=200, bytes=2_000_000, lookups=4000)
# file arrival inside `mapreduce`: one batch of one trigger
STREAM = dict(batches=1, files_per_batch=16, bytes_per_file=16_000, lookups_per_batch=2)
CATALOG = dict(docs=300, vecs=300)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sh"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's
    `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    m = os.path.isfile(sbt) and re.search(
        r'^unmanagedBase := file\("([^"]+)"\)', open(sbt).read(), re.M)
    if not m:
        fail("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def build(root, state, jars):
    """Compile once per source hash; returns (class dir, build seconds)."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("no program sources (src/main/scala) in this directory")
    out = os.path.join(state, "build", source_hash(root))
    if os.path.isfile(os.path.join(out, "OK")):
        return out, 0.0
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), tmp, jars], cwd=root,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, "OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.time() - t


# ----------------------------------------------------------------- inputs

def write_warm(work):
    gen.write_files(os.path.join(work, "warm"),
                    [("w1.txt", "Alpha beta, gamma!\nalpha\n"), ("w2.txt", "ALPHA delta\n")])


def prepare_mapreduce(work, seed, tamper):
    files = gen.text_files(seed, MAPREDUCE["files"], MAPREDUCE["bytes"])
    gen.write_files(os.path.join(work, "corpus"), files)
    index = gen.word_index(files)
    terms = gen.lookup_terms(seed, index.keys(), MAPREDUCE["lookups"])
    if tamper:
        w = next(t for t in terms if t in index)
        c, d = index[w]
        index[w] = (c + 1, d + ["zz_tampered.txt"])
    with open(os.path.join(work, "expected.tsv"), "w") as fh:
        for w in sorted(index):
            c, d = index[w]
            fh.write(f"{w}\t{c}\t{','.join(d)}\n")
    with open(os.path.join(work, "lookups.txt"), "w") as fh:
        fh.write("\n".join(terms) + "\n")

    # file arrival: batch b is files [16b, 16b+16); the JVM sums the
    # per-batch counts of the batches it has landed
    fpb, n_batches = STREAM["files_per_batch"], STREAM["batches"]
    arriving = gen.text_files(seed + 1, fpb * n_batches, fpb * n_batches * STREAM["bytes_per_file"])
    arriving = [(f"up_{name}", text) for name, text in arriving]
    gen.write_files(os.path.join(work, "stream_files"), arriving)
    seen = set()
    with open(os.path.join(work, "stream_deltas.tsv"), "w") as deltas, \
            open(os.path.join(work, "stream_terms.tsv"), "w") as lookups:
        for b in range(n_batches):
            counts = {w: c for w, (c, _) in gen.word_index(arriving[b * fpb:(b + 1) * fpb]).items()}
            if tamper and b == 0:
                w = max(counts, key=counts.get)
                counts[w] += 1
            deltas.writelines(f"{b}\t{w}\t{c}\n" for w, c in sorted(counts.items()))
            seen.update(counts)
            lookups.writelines(f"{b}\t{t}\n" for t in gen.lookup_terms(
                seed + 100 + b, seen, STREAM["lookups_per_batch"]))
    return {"files": len(files), "bytes": sum(len(t.encode()) for _, t in files),
            "distinct_words": len(index), "lookup_terms": len(terms),
            "arriving_files": len(arriving), "arriving_bytes": sum(len(t.encode()) for _, t in arriving)}


def prepare_catalog(work, seed, tamper):
    gen.catalog_tables(seed, os.path.join(work, "tables"), CATALOG["docs"], CATALOG["vecs"])
    return dict(CATALOG)


def row_hash(con, sql):
    """Order-insensitive hash of a result: columns by name, each row
    rendered exactly (repr), rows sorted, then hashed."""
    rel = con.sql(sql)
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = sorted(repr(tuple(r[i] for i in cols)) for r in rel.fetchall())
    h = hashlib.sha256("\n".join([repr([rel.columns[i] for i in cols])] + rows).encode())
    return h.hexdigest()[:16], len(rows)


def duckdb_con(work):
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads TO 2")
    tables = os.path.join(work, "tables")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    return con


def catalog_oracle(work, tamper):
    """DuckDB's row hash for each query's oracle SQL, over the same tables.
    Runs while the benchmark JVM does its untimed first pass; the JVM waits
    for `oracle.done` before it starts measuring."""
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb_con(work)
    expected = {}
    for i, (q, sql) in enumerate(sorted(oracles.items())):
        try:
            expected[q] = row_hash(con, sql)
            if tamper and i == 0:
                expected[q] = ("tampered", expected[q][1])
        except Exception as e:  # noqa: BLE001 - reported as that query's failure
            expected[q] = (None, f"{type(e).__name__}: {str(e)[:200]}")
    open(os.path.join(work, "oracle.done"), "w").close()
    return expected


def check_catalog(work, expected):
    """Compare each query's first-pass rows with the oracle's.
    Returns {query: problem or None}."""
    con = duckdb_con(work)
    verdicts = {}
    for q, (exp, n_exp) in sorted(expected.items()):
        if exp is None:
            verdicts[q] = f"oracle failed: {n_exp}"
            continue
        try:
            got, n_got = row_hash(con, f"SELECT * FROM parquet_scan('{work}/verify/{q}/*.parquet')")
            verdicts[q] = None if got == exp else f"row hash {got} ({n_got} rows) != oracle {exp} ({n_exp} rows)"
        except Exception as e:  # noqa: BLE001 - a missing or unreadable result is a failure
            verdicts[q] = f"{type(e).__name__}: {str(e)[:200]}"
    return verdicts


def run_jvm(cmd, work, env, deadline, prepare, during=None):
    """Run the benchmark JVM to completion. `prepare()` generates the
    inputs while the JVM starts (it waits for `inputs.ready` before its
    timed set-up); `during(work)` runs alongside the JVM once it has
    written `oracle_sql.json`. Returns (exit code, value of `prepare`,
    value of `during`)."""
    log_path = os.path.join(work, "jvm.log")
    inputs = side = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            inputs = prepare()
            open(os.path.join(work, "inputs.ready"), "w").close()
            if during is not None:
                trigger = os.path.join(work, "oracle_sql.json")
                while proc.poll() is None and not os.path.exists(trigger) and time.time() < deadline:
                    time.sleep(0.05)
                if os.path.exists(trigger):
                    side = during(work)
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
    return code, inputs, side


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def op_median(raw):
    """The median op. When an op is several calls, it is estimated call
    by call: the sum, over the op's kinds of call, of each kind's median
    latency times the number of such calls in one op. That uses every
    call of every measured op, so it is steadier than the median of a few
    op totals."""
    parts = raw.get("op_parts") or {}
    if not parts or not raw["ops_s"]:
        return median(raw["ops_s"])
    return sum(p["per_op"] * median(p["samples_s"]) for p in parts.values())


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and
    that percentile; the maximum when there are fewer than eleven."""
    s = sorted(xs)
    if not s:
        return float("nan"), 0.0
    k = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", action="store_true")
    args = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (no BENCHMARK.json here)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    knobs = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    refused = [k for k in REFUSED_KNOBS if k in knobs]
    if refused:
        fail(f"refusing to run: result-changing knob(s) set: {', '.join(refused)}")

    state = os.path.join(root, ".perfbench")
    jars = spark_jars(root)
    classes, build_s = build(root, state, jars)

    run_id = f"{args.workload}_s{args.seed}_t{args.trace}_{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}_{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    os.makedirs(work)
    write_warm(work)
    prepare = {"mapreduce": prepare_mapreduce, "catalog_iterative": prepare_catalog}[args.workload]

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]
    result_file = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
           + ["-cp", ":".join([os.path.join(classes, "classes"), os.path.join(classes, "program"),
                               os.path.join(root, "src/main/resources"), os.path.join(jars, "*")]),
              "perfbench.Harness", "--workload", args.workload, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--result", result_file])
    env = dict(os.environ, TMPDIR=tmp)
    during = (lambda w: catalog_oracle(w, args.tamper)) if args.workload == "catalog_iterative" else None
    t_jvm = time.time()
    gen_s = []

    def generate():
        t = time.time()
        inputs = prepare(work, args.seed, args.tamper)
        gen_s.append(time.time() - t)
        return inputs

    code, inputs, expected = run_jvm(cmd, work, env, t_start + JVM_TIMEOUT_S, generate, during)
    jvm_s = time.time() - t_jvm
    if code != 0 or not os.path.isfile(result_file):
        fail(f"benchmark JVM exited with {code}")
    with open(result_file) as fh:
        raw = json.load(fh)

    attempted, failed = raw["attempted"], raw["failed"]
    failures = list(raw["failures"])
    oracle = None
    if args.workload == "catalog_iterative":
        oracle = check_catalog(work, expected or {})
        if not oracle:
            failures.append("no oracle verdicts")
            failed += 1
        executions = len(raw["ops_s"]) + 1  # timed passes plus the verify pass
        for q, problem in sorted(oracle.items()):
            if problem:
                failed += executions
                failures.append(f"{q}: {problem}")
    if not raw["ops_s"]:
        failures.append("no complete op in the measured window")
        failed += 1
        attempted += 1

    op_tail, op_tail_pct = tail(raw["ops_s"])
    e2e_values = {
        "setup_s": median(raw["info"]["setup_samples_s"]),
        "op_s_p50": op_median(raw),
        "ok_frac": 1.0 - failed / attempted if attempted else 0.0,
    }
    layers = raw["layers"]
    layers["jvm.peak_rss_mb"] = [raw["info"]["peak_rss_mb"]]
    if args.trace:
        values = {m["name"]: median(layers.get(m["name"], [0.0])) for m in spec["per_layer"]}
        listed = spec["per_layer"]
    else:
        values, listed = e2e_values, spec["end_to_end"]
    # a metric that could not be measured (no complete op) prints as 0;
    # such a run is already failed
    metrics = {m["name"]: {"value": values[m["name"]] if math.isfinite(values[m["name"]]) else 0.0,
                           "unit": m["unit"]} for m in listed}

    artifact = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "tamper": args.tamper,
        "host": {"cores": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version(), "jvm_heap": JVM_HEAP,
                 "jvm_max_heap_mb": raw["info"].get("max_heap_mb")},
        "source_hash": os.path.basename(classes), "build_s": build_s, "gen_s": gen_s[0] if gen_s else None, "jvm_s": jvm_s,
        "inputs": inputs,
        "knobs_set": knobs, "spark_conf": raw["info"].get("spark_conf"),
        "attempted": attempted, "failed": failed, "failures": failures[:50],
        "oracle": oracle, "e2e": e2e_values,
        "samples": {"ops_s": raw["ops_s"], "op_parts": raw.get("op_parts"), "op_tail_s": op_tail,
                    "op_tail_percentile": op_tail_pct,
                    "setup_s": raw["info"]["setup_samples_s"]},
        "layers": layers, "info": raw["info"], "spans": raw["spans"],
        "wall_s": time.time() - t_start,
    }
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    artifact_path = os.path.join(runs, run_id + ".json")
    with open(artifact_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"perfbench: artifact {artifact_path}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    for f in failures[:10]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
