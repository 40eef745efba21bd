#!/usr/bin/env python3
"""Benchmark of the Transis -> Kinesis path, the lake and the gate suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload live_http --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --ledger perfbench/ledger_seed.json --seed 1 --seconds 10

The first run builds the program and the bench from source with sbt
(perfbench/build.sbt depends on the root build) and caches the classpath
under perfbench/.build; later runs start the JVM directly. Each run
generates its inputs from the seed (perfbench/gen.py), runs one workload
in a fresh JVM (perfbench/src), checks the outputs, prints a summary with
every metric by name and unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The exit code is non-zero when an output check failed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark runs at local[<cores this process may use>]; the ledger takes the
# median of this many traced runs per workload.
CORES = len(os.sched_getaffinity(0))
LEDGER_REPEAT = 3

# Generator parameters, run constants, session settings and the
# per-layer -> end-to-end map of each workload.
with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)["workloads"]
GATE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.*"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build once per source tree; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=sbt_env(),
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(p, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and l.endswith(".jar")
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def wait(p, timeout):
    """Wait for a process group; kill it whole on timeout."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def make_inputs(workload, seed, seconds, work):
    spec = WORKLOADS[workload]
    if spec["gen"] is None:
        return
    params = dict(spec["gen"])
    if workload == "live_http":
        run = spec["run"]
        params["n_docs"] = (run["lead_docs"] + int(run["rate_docs_per_s"] * seconds) +
                            run["tail_docs"])
    gen.write(work, workload, seed, spec["run"], **params)


def run_jvm(workload, seed, seconds, trace, work, selftest=""):
    cp = classpath()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx1g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + tmp, "-cp", cp, "perfbench.Main", workload,
            str(seed), str(seconds), str(trace), work, str(CORES)] +
           ([selftest] if selftest else []))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail("%s timed out after %d s" % (workload, JVM_TIMEOUT_S))
    for l in out.splitlines():
        if l.startswith("PERFBENCH-NOTE "):
            print(l[len("PERFBENCH-NOTE "):])
    costliest = None
    with open(log) as f:
        for l in f:
            if l.startswith("[perfbench] "):
                print(l.rstrip()[len("[perfbench] "):])
                if l.startswith("[perfbench] costliest layer: "):
                    costliest = l.rstrip()[len("[perfbench] costliest layer: "):]
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("%s: the JVM exited with %d and no result" % (workload, p.returncode))
    r = json.loads(lines[-1][len("PERFBENCH "):])
    if costliest:
        r["costliest"] = costliest
    return r


def oracle_mismatches(work):
    """Gates whose row count differs from DuckDB running the gate's oracle
    SQL over the same tables."""
    import duckdb
    with open(os.path.join(work, "gates.json")) as f:
        gates = json.load(f)
    con = duckdb.connect()
    for t in GATE_TABLES:
        p = os.path.join(HERE, "data", "sf0.001", t + ".parquet")
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    bad = []
    for name, g in sorted(gates.items()):
        if g["rows"] < 0:
            bad.append(name)
        elif "oracle_sql" in g:
            want = con.execute("SELECT COUNT(*) FROM (%s) AS o" % g["oracle_sql"]).fetchone()[0]
            if want != g["rows"]:
                bad.append(name)
    return bad


def run_once(workload, seed, seconds, trace, selftest=""):
    work = os.path.join(HERE, ".work", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        make_inputs(workload, seed, seconds, work)
        t1 = time.time()
        r = run_jvm(workload, seed, seconds, trace, work, selftest)
        print("generator %.1f s, JVM %.1f s (build included when it ran)"
              % (t1 - t0, time.time() - t1))
        if workload == "gate_suite":
            bad = oracle_mismatches(work)
            if bad:
                print("gate row counts differ from the oracle: " + ", ".join(bad))
            r["failed"] += len(bad)
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(HERE, ".work", "spans-%s.jsonl" % workload))
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, r, trace, spec):
    """Summary lines, then the result line."""
    e2e = r["e2e"]
    frac = r["failed"] / max(1, r["attempted"])
    print("workload %s: attempted %d, failed %d, failed_frac %.4f"
          % (workload, r["attempted"], r["failed"], frac))
    for k, m in e2e.items():
        alias = WORKLOADS[workload]["aliases"].get(k)
        print("  %-28s %14.4f %s%s" % (k, m["value"], m["unit"],
                                       "  (%s)" % alias if alias else ""))
    if workload == "gate_suite" and "throughput_per_s" in e2e:
        n = r["layers"].get("gates.count", {}).get("value", 0)
        print("  %-28s %14.4f s" % ("suite_s", n / e2e["throughput_per_s"]["value"]))
    for k, m in r["layers"].items():
        print("  %-28s %14.4f %s" % (k, m["value"], m["unit"]))
    # every metric BENCHMARK.json lists; a layer a workload does not
    # exercise did no measured work in it and reads 0
    src = r["layers"] if trace else e2e
    metrics = {m["name"]: {"value": src.get(m["name"], {}).get("value", 0.0), "unit": m["unit"]}
               for m in spec["per_layer" if trace else "end_to_end"]}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return r["failed"] == 0


def selftest():
    """Tiny runs proving the checks catch a client that silently drops
    one record and one that alters one record."""
    saved = WORKLOADS["backfill_file"]
    WORKLOADS["backfill_file"] = dict(saved, gen=dict(saved["gen"], n_docs=12, n_sites=5))
    ok = True
    try:
        for mode, want_fail in (("", False), ("drop", True), ("alter", True)):
            r = run_once("backfill_file", 7, 1, 0, mode)
            caught = r["failed"] > 0
            print("selftest %-6s failed=%d of %d -> %s" % (
                mode or "clean", r["failed"], r["attempted"],
                "ok" if caught == want_fail else "WRONG"))
            ok &= caught == want_fail
    finally:
        WORKLOADS["backfill_file"] = saved
    return ok


def ledger(path, seed, seconds):
    """Traced runs of every workload in workloads.json, LEDGER_REPEAT
    times each; writes the median of every metric, the costliest layer of each
    run and the host they ran on as one JSON ledger."""
    import statistics
    cpu = next((l.split(":", 1)[1].strip() for l in open("/proc/cpuinfo")
                if l.startswith("model name")), "unknown")
    out = {"seed": seed, "seconds": seconds, "cores": CORES, "cpu": cpu,
           "repeat": LEDGER_REPEAT, "date": time.strftime("%Y-%m-%d"), "workloads": {}}
    for w in WORKLOADS:
        runs = [run_once(w, seed, seconds, 1) for _ in range(LEDGER_REPEAT)]
        entry = {"attempted": sum(r["attempted"] for r in runs),
                 "failed": sum(r["failed"] for r in runs),
                 "costliest_layer": [r.get("costliest") for r in runs],
                 "unattributed_frac": [r["layers"].get("unattributed_frac", {}).get("value")
                                       for r in runs]}
        entry["failed_frac"] = entry["failed"] / max(1, entry["attempted"])
        for part in ("e2e", "layers"):
            entry[part] = {k: {"value": statistics.median(r[part][k]["value"] for r in runs),
                               "unit": m["unit"]} for k, m in runs[0][part].items()}
        out["workloads"][w] = entry
        print("ledger: %s done" % w, flush=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--ledger", metavar="PATH",
                    help="traced runs of every workload, written to PATH")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program sources at %s (missing %s); run from the root "
                 "of a checkout" % (ROOT, need))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")
    if a.selftest:
        sys.exit(0 if selftest() else 1)
    if a.ledger:
        ledger(a.ledger, a.seed, a.seconds)
        sys.exit(0)
    if not a.workload:
        fail("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    r = run_once(a.workload, a.seed, a.seconds, a.trace)
    sys.exit(0 if report(a.workload, r, a.trace, spec) else 1)


if __name__ == "__main__":
    main()
