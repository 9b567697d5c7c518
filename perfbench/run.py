#!/usr/bin/env python3
"""graft performance benchmark: one seeded workload per process.

Usage (from the repository root):

    python3 perfbench/run.py --workload storm_stream --seed 1 --seconds 10 --trace 0

Workloads: storm_stream, corpus_batch (see README.md).

The first run builds the harness (perfbench/build.sbt: the harness
sources plus the graft sources under src/main) with sbt and caches the
classpath under perfbench/target; later runs rebuild only when a
source file changes. Each run then starts one JVM (local[nproc]) that
generates the workload's inputs from the seed under perfbench/work,
warms up, measures for --seconds of timed work, checks the outputs
outside every timer and writes its raw result. This script adds the
DuckDB oracle checks, writes the full artifact to perfbench/out and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (and writes the span file perfbench/out/<workload>-s<seed>.trace.json).
"""
import argparse
import collections
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
WORKLOADS = ("storm_stream", "corpus_batch")
HEAP = "3g"
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric_specs():
    """(name, unit) of the end-to-end and the per-layer metrics, as
    BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, HERE).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with sbt unless the cached build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found under src/main/scala; run from a full checkout")
        sys.exit(2)
    want = stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == want:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    log("building the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # resolve offline through the user's repository config, as the repo's
    # own test command does, unless the caller already set SBT_OPTS
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true" % repos)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=780)
    cps = [l.strip() for l in p.stdout.splitlines()
           if os.path.join("target", "scala-2.13", "classes") in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cps[-1])
    with open(STAMP_FILE, "w") as f:
        f.write(want)
    return cps[-1]


def norm(v):
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def canon(con, sql):
    """Rows with columns sorted by name and rows sorted (the oracle
    compare of the repo's verify tooling: schema, row count, values)."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    rows.sort(key=lambda r: tuple((x is None, repr(x) if x is not None else "") for x in r))
    return [names[i] for i in order], rows


def oracle_check(o):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, path in o["views"].items():
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, path))
    got_cols, got = canon(con, "SELECT * FROM read_parquet('%s/*.parquet')" % o["spark_dir"])
    want_cols, want = canon(con, o["sql"])
    if got_cols != want_cols:
        return False, "columns %s != %s" % (got_cols, want_cols)
    only_got = collections.Counter(got) - collections.Counter(want)
    only_want = collections.Counter(want) - collections.Counter(got)
    if not only_got and not only_want:
        return True, "%d rows match" % len(got)
    detail = "%d spark rows vs %d oracle rows; %d only in spark, %d only in oracle" % (
        len(got), len(want), sum(only_got.values()), sum(only_want.values()))
    if only_got and only_want:
        a, b = next(iter(only_got)), next(iter(only_want))
        diff = ["%s: %r vs %r" % (c, x, y) for c, x, y in zip(got_cols, a, b) if x != y]
        detail += "; e.g. " + ", ".join(diff[:4])
    return False, detail


def percentile(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs):
    """(percentile, value) of the operation-latency tail: the highest whole
    percentile with at least ten samples beyond it once a run has 100 or
    more operations; below that, p90 by linear interpolation (so a short
    run still reports a tail, not its maximum); one sample is its own tail."""
    n = len(xs)
    if n >= 100:
        p = math.floor(100.0 * (n - 10) / n)
        while p > 0 and n - math.ceil(p / 100.0 * n) < 10:
            p -= 1
        return p, percentile(xs, p)
    if n >= 2:
        return 90, statistics.quantiles(xs, n=10, method="inclusive")[-1]
    return 100, xs[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(HERE, "work", "%s-s%d-%d" % (a.workload, a.seed, os.getpid()))
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # no hsperfdata file: the JVM writes nothing outside the work dir
    cmd = (["java"] + opens + ["-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out])
    try:
        t0 = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=jlog,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        jvm_s = time.time() - t0
        log("jvm finished in %.1f s with code %d" % (jvm_s, p.returncode))
        res_path = os.path.join(work, "result.json")
        if p.returncode != 0 or not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log("run failed")
            return 1
        with open(res_path) as f:
            res = json.load(f)

        ops = res["ops"]
        checks = res["checks"]
        known = res["known_defects"]
        for o in res["oracles"]:
            try:
                ok, detail = oracle_check(o)
            except Exception as e:  # an oracle that cannot run is a failed check
                ok, detail = False, "oracle error: %s" % e
            (known if o.get("known_defect") else checks).append(
                {"name": "oracle_" + o["name"], "ok": ok, "detail": detail})
            if not ok:
                for op in ops:
                    if op["kind"] in o["fail_kinds"]:
                        op["failed"] = True
        oracle_s = time.time() - t0 - jvm_s
        failed_checks = [c for c in checks if not c["ok"]]
        for c in failed_checks:
            log("check failed: %s (%s)" % (c["name"], c["detail"]))
        shown = [c for c in known if not c["ok"]]
        for c in shown:
            log("known defect shows: %s (%s)" % (c["name"], c["detail"]))
        attempted = len(ops)
        failed = sum(1 for op in ops if op["failed"])
        lat = [op["ms"] for op in ops if op["latency"]]
        p_tail, v_tail = tail(lat)
        krows = res["rows"] / 1000.0
        e2e = {
            "setup_s": res["setup_s"],
            "rows_per_s": res["rows"] / res["timed_s"],
            "op_p50_ms": statistics.median(lat),
            "op_tail_ms": v_tail,
            "cpu_ms_per_krow": res["cpu_ms"] / krows,
            "heap_mb": res["heap_mb"],
        }
        end_to_end, per_layer = metric_specs()
        if a.trace:  # a layer the workload does not exercise reports 0
            metrics = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u}
                       for n, u in per_layer}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in end_to_end}
        res.update({"attempted": attempted, "failed": failed, "jvm_s": jvm_s, "oracle_s": oracle_s,
                    "failed_frac": failed / attempted, "op_tail_pct": p_tail,
                    "end_to_end": e2e, "checks": checks, "known_defects": known})
        art = os.path.join(out, "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace))
        with open(art, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        h = res["host"]
        print("host: nproc=%s xmx_mb=%s spark=%s calib=%.0f calib_mt=%.0f stray_jvms=%d"
              % (h["nproc"], h["xmx_mb"], h["spark_version"], h["calib_iters_per_ms"],
                 h["calib_mt_iters_per_ms"], len(h["stray_jvms"])))
        print("%s: %d ops in %.1f s timed (jvm %.1f s, oracle %.1f s), op_tail_ms is p%d "
              "(%d samples), failed_frac %.4f, %d of %d checks failed; artifact %s"
              % (a.workload, attempted, res["timed_s"], jvm_s, oracle_s, p_tail, len(lat),
                 failed / attempted, len(failed_checks), len(checks),
                 os.path.relpath(art, ROOT)))
        if known:
            print("known defects (reported, not gated): %d of %d checks show one: %s"
                  % (len(shown), len(known), ", ".join(sorted({c["name"] for c in shown})) or "-"))
        print(json.dumps({"correct": not failed_checks, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        jlog = os.path.join(work, "jvm.log")
        if os.path.exists(jlog):
            shutil.copy(jlog, os.path.join(out, "%s-s%d-t%d.log" % (a.workload, a.seed, a.trace)))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
