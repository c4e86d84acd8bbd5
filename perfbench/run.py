#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, timed, checked, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <transform|dedup_gate|stream> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (cached under
.bench_build/perfbench until a source file changes), runs the workload in
one JVM at local[4], checks the outputs (the dedup_gate results against
their DuckDB oracle statements here), and prints the metrics of
BENCHMARK.json as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 prints the end_to_end metrics, --trace 1 the per_layer ones
(0 where a layer is not exercised by the workload). A traced run also
writes its spans, every metric and the tracing overhead (traced minus the
latest untraced run of the same workload) to
.bench_build/perfbench/trace/<workload>-seed<n>.json.
Exits non-zero when an output check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("transform", "dedup_gate", "stream")
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
    "-Xlog:cds*=off",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads: the engine's and the bench's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no engine sources next to the benchmark (run from the repository root)")
        sys.exit(2)
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        log("build failed")
        sys.exit(2)
    cp = ":".join(jarred(e) for e in lines[-1].strip().split(":"))
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    for w in WORKLOADS:
        if os.path.exists(cds_archive(w)):
            os.remove(cds_archive(w))
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def cds_archive(workload):
    return os.path.join(STATE, f"classes-{workload}.jsa")


def jarred(entry):
    """A class directory packed as a jar under STATE (the JVM's class-data
    archive only covers jars); jars pass through."""
    if not os.path.isdir(entry):
        return entry
    rel = os.path.relpath(entry, ROOT).replace(os.sep, "_")
    jar = os.path.join(STATE, "jars", rel + ".jar")
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with zipfile.ZipFile(jar, "w") as z:
        for dirpath, dirnames, names in os.walk(entry):
            dirnames.sort()
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, entry))
    return jar


def run_jvm(cp, args, work, deadline):
    """Run the workload's JVM. For dedup_gate, the DuckDB oracle runs here
    while the JVM warms up (the JVM waits for it before timing)."""
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # Application class-data sharing: a workload's first run after a build
    # dumps the classes it loaded at exit; its later runs map them, which
    # halves the JVM's start-up and class loading.
    archive = cds_archive(args.workload)
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java"] + JVM_FLAGS + [cds, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graft.perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", result])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr)
    expected = None
    ready = os.path.join(work, "corpus.ready")
    try:
        while proc.poll() is None:
            if time.time() > deadline:
                raise subprocess.TimeoutExpired(cmd, deadline)
            if expected is None and os.path.exists(ready):
                expected = oracle_expected(work)
                with open(os.path.join(work, "oracle.done"), "w"):
                    pass
            time.sleep(0.05)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("the run did not finish in time")
        return None, None
    if os.path.exists(result):
        log(f"JVM exited {time.time() - os.path.getmtime(result):.1f} s after writing its result")
    if proc.returncode != 0 or not os.path.exists(result):
        log(f"the benchmark JVM exited with code {proc.returncode}")
        return None, None
    with open(result) as fh:
        return json.load(fh), expected


def oracle_expected(work):
    """Each dedup_gate query's oracle statement run in DuckDB over the
    generated corpus: name -> (sorted column names, sorted normalized
    rows), or name -> error text."""
    import duckdb
    sys.dont_write_bytecode = True  # leave nothing behind in scripts/
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from selfcheck import norm

    t0 = time.time()
    with open(os.path.join(work, "corpus.ready")) as fh:
        corpus = fh.read().strip()
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus}/*.parquet')")
    out = {}
    for name, sql in oracle.items():
        try:
            exp = con.execute(sql).arrow()
            if hasattr(exp, "read_all"):
                exp = exp.read_all()
        except Exception as e:  # an oracle error is a failed check
            out[name] = f"oracle error: {e}"
            continue
        cols = sorted(exp.column_names)
        out[name] = (cols, sorted(tuple(norm(r[c]) for c in cols) for r in exp.to_pylist()))
    log(f"oracle ran {len(oracle)} statements in {time.time() - t0:.1f} s")
    return out


def oracle_compare(expected, check_dir):
    """Spark's rows against the oracle's, under scripts/selfcheck.py's
    rules: sorted column names, then sorted rows with floats rounded to 9
    places. Returns the failures."""
    import pyarrow.parquet as pq
    from selfcheck import norm

    failures = []
    for name, exp in expected.items():
        if isinstance(exp, str):
            failures.append(f"{name}: {exp}")
            continue
        ecols, erows = exp
        got = pq.read_table(os.path.join(check_dir, name))
        gcols = sorted(got.column_names)
        if gcols != ecols:
            failures.append(f"{name}: columns {gcols} vs oracle {ecols}")
            continue
        grows = sorted(tuple(norm(r[c]) for c in gcols) for r in got.to_pylist())
        if grows != erows:
            failures.append(f"{name}: {len(grows)} rows differ from the oracle's {len(erows)}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    # a run's own budget starts after the (cached) build
    deadline = time.time() + 170

    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res, expected = run_jvm(cp, args, work, deadline)
    if res is None:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "dedup_gate":
        bad = (oracle_compare(expected, os.path.join(work, "check")) if expected
               else ["the oracle did not run"])
        attempted += len(expected or {})
        failed += len(bad)
        failures += bad

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        value = got["value"] if got else (0.0 if args.trace else None)
        if value is None or (isinstance(value, float) and math.isnan(value)):
            failures.append(f"metric {m['name']} was not measured")
            failed += 1
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    if args.trace:
        save_trace(args, res, work)
    else:
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        with open(os.path.join(STATE, "results", f"{args.workload}.json"), "w") as fh:
            json.dump(res["metrics"], fh)
    shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        log(f"FAILED: {f}")
    for k, v in metrics.items():
        log(f"{k:40s} {v['value']:>16.6g} {v['unit']}")
    correct = failed == 0 and not failures
    log(f"output check: {'PASS' if correct else 'FAIL'} "
        f"({attempted - failed}/{attempted} operations ok); "
        f"wall {time.time() - started:.0f} s")
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def save_trace(args, res, work):
    """Spans, every metric of the traced run, and the tracing overhead:
    each end-to-end metric of this traced run minus the latest untraced
    run of the same workload."""
    out = {"workload": args.workload, "seed": args.seed, "metrics": res["metrics"]}
    base = os.path.join(STATE, "results", f"{args.workload}.json")
    if os.path.exists(base):
        with open(base) as fh:
            untraced = json.load(fh)
        out["tracing_overhead"] = {
            k: res["metrics"][k]["value"] - v["value"]
            for k, v in untraced.items() if k in res["metrics"]}
        for k, d in out["tracing_overhead"].items():
            log(f"tracing overhead {k:28s} {d:+.4g} {untraced[k]['unit']}")
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        with open(spans) as fh:
            out["spans"] = json.load(fh)
    os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
    with open(os.path.join(STATE, "trace", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
