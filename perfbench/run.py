#!/usr/bin/env python3
"""Benchmark of the graft engine: closed-loop workloads over the public
entry points, with end-to-end and per-layer metrics (see README.md).

  python3 perfbench/run.py --workload mart_etl --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --all          # every workload, untraced + traced

Builds the engine and the harness from source with sbt on first use (or
when a source file changed), then launches one JVM per run with fresh
temp, spark-local, warehouse and output directories. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch")
# process start until session ready, sampled this many times per run
SETUP_SAMPLES = 3
RUN_TIMEOUT_S = 170
# Run with the others under --all, but are not in BENCHMARK.json:
# iterative_kernels_q136 fails on every pass after the first (q136), and a
# gated workload must not fail; oneshot_mix's cold pass alone takes about a
# minute on 4 cores, more than the benchmark's time budget has room for next
# to the other two. Neither is held to the gated runs' time limit.
EXTRA_WORKLOADS = ["iterative_kernels_q136", "oneshot_mix"]
EXTRA_TIMEOUT_S = 600
BUILD_TIMEOUT_S = 850
# A heap floor for every JVM the benchmark starts. With the default initial
# heap (1/64 of RAM) G1 keeps the heap at 100-400 MB and, in some JVMs and
# not in others, starts a concurrent mark cycle on almost every humongous
# allocation: 80-95 cycles in a run instead of about 5, and up to 25 s more
# GC-thread CPU, which moved cpu_s_per_op and op_p50_s by a third from one
# run of the same code to the next.
HEAP_FLOOR = "-Xms1g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the engine and the harness."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; returns
    (classpath, jvm options)."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("engine sources not found next to the benchmark; run it from a "
             "checkout of the repository")
    fp = fingerprint()
    stamp = os.path.join(LAUNCH, "fingerprint")
    if not (os.path.isfile(stamp) and open(stamp).read() == fp):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
        env["SPARK_DRIVER_MEM"] = "3g"
        print("perfbench: building engine and harness with sbt", file=sys.stderr)
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "benchLaunch"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed", 3)
        with open(stamp, "w") as f:
            f.write(fp)
    cp = open(os.path.join(LAUNCH, "classpath")).read().strip()
    jvm = open(os.path.join(LAUNCH, "jvm-options")).read().split("\n")
    return cp, [o for o in jvm if o]


def fresh_dir(tag):
    d = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(d, sub))
    return d


def jvm_env(d):
    """Engine cores pinned to nproc; Spark's scratch space in the run dir."""
    return dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                SPARK_LOCAL_DIRS=f"{d}/local")


def launch(launch_cfg, mode, args, tag, deadline):
    """One JVM in a fresh run directory; returns its JSON record."""
    cp, jvm = launch_cfg
    d = fresh_dir(tag)
    record = os.path.join(d, "record.json")
    cmd = (["java"] + jvm + [
        HEAP_FLOOR, f"-Djava.io.tmpdir={d}/tmp", f"-Dspark.local.dir={d}/local",
        f"-Dspark.sql.warehouse.dir={d}/warehouse",
        f"-Dderby.system.home={d}/warehouse", "-XX:-UsePerfData",
        "-cp", cp, "graft.perfbench.Main", "--mode", mode,
        "--record", record, "--run-dir", d,
        "--t0-ms", str(time.time_ns() / 1e6)] + args)
    env = jvm_env(d)
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=d, env=env, stdout=log,
                                 stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"{mode} run timed out; log in {log_path}", 4)
        if rc != 0 or not os.path.isfile(record):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"{mode} run exited with {rc}; log in {log_path}", 5)
        with open(record) as f:
            rec = json.load(f)
        spans = os.path.join(d, "spans.jsonl")
        if os.path.isfile(spans):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(WORK, "traces", f"{tag}.jsonl"))
        return rec
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_workload(cfg, a, workload, seed, seconds, trace, expected):
    fixture = os.path.join(HERE, "fixture", "sf0.001" if a.smoke else "sf0.01")
    deadline = time.time() + (EXTRA_TIMEOUT_S if workload in EXTRA_WORKLOADS
                              else RUN_TIMEOUT_S)
    tag = f"{workload}-s{seed}-t{trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    rec = launch(cfg, "run", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--fixture", fixture, "--expected", expected,
        "--spans", "spans.jsonl"], tag, deadline)
    samples = [rec["end_to_end"]["setup_s"]]
    # setup_s is an end-to-end metric; a traced run reports per-layer ones
    for i in range(0 if trace else SETUP_SAMPLES - 1):
        samples.append(launch(cfg, "setup", [], f"{tag}-setup{i}",
                              deadline)["setup_s"])
    rec["end_to_end"]["setup_s"] = statistics.median(samples)
    rec["setup_samples_s"] = samples
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(rec, f)
    return rec


def describe(rec, spec):
    """Human-readable rows: host, failures, and every metric with its unit."""
    h = rec["host"]
    lines = [f"[perfbench] workload={rec['workload']} seed={rec['seed']} "
             f"trace={int(rec['trace'])} nproc={h['nproc']} "
             f"loadavg={h['loadavg_before']}->{h['loadavg_after']} "
             f"java={h['java']} spark={h['spark']} "
             f"attempted={rec['attempted']} failed={rec['failed']} "
             f"mismatches={rec['mismatches']}"]
    for fl in rec["failures"]:
        lines.append(f"[perfbench]   failed op={fl['op']} pass={fl['pass']} "
                     f"{fl['class']}: {fl['message']}")
    e2e = rec["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(op_p90_s="s", error_rate="ratio", warm_ops="count")
    row = " ".join(f"{k}={fmt(v, units.get(k, ''))}" for k, v in e2e.items())
    lines.append(f"[perfbench] end_to_end {rec['workload']}: {row}")
    if rec["per_layer"]:
        lunits = {m["name"]: m["unit"] for m in spec["per_layer"]}
        row = " ".join(f"{k}={fmt(v, lunits.get(k, ''))}"
                       for k, v in rec["per_layer"].items())
        lines.append(f"[perfbench] per_layer {rec['workload']}: {row}")
    return lines


def fmt(v, unit=""):
    if v is None:
        return "n/a"
    return (f"{v:.4g}" if isinstance(v, float) else str(v)) + unit


def contract_line(rec, spec, trace):
    group = "per_layer" if trace else "end_to_end"
    values = rec[group]
    metrics = {}
    for m in spec[group]:
        v = values.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run record", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": rec["mismatches"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload, untraced then traced")
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 fixture and expected results")
    ap.add_argument("--expected", help="expected-results file to check against")
    ap.add_argument("--regen-expected", action="store_true",
                    help="verify the fixture against the DuckDB oracle, then "
                         "rewrite the expected-results file")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    sf = "sf0.001" if a.smoke else "sf0.01"
    expected = a.expected or os.path.join(HERE, "expected", f"{sf}.tsv")
    workloads = [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS
    if not (a.all or a.regen_expected or a.workload in workloads):
        fail(f"--workload must be one of {workloads}")
    cfg = build()
    if a.regen_expected:
        return regen(cfg, sf, expected)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    if not a.all:
        rec = run_workload(cfg, a, a.workload, a.seed, seconds, a.trace, expected)
        for line in describe(rec, spec):
            print(line)
        print(json.dumps(contract_line(rec, spec, a.trace)))
        return
    recs = []
    for w in workloads:
        for t in (0, 1):
            rec = run_workload(cfg, a, w, a.seed, seconds, t, expected)
            recs.append(rec)
            for line in describe(rec, spec):
                print(line)
    e2e = [m["name"] for m in spec["end_to_end"]] + ["op_p90_s", "error_rate"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(op_p90_s="s", error_rate="ratio")
    print("\n" + " | ".join(["workload"] + [f"{m} ({units[m]})" for m in e2e]
                            + ["trace.overhead (ratio)"]))
    for w in workloads:
        plain = next(r for r in recs if r["workload"] == w and not r["trace"])
        traced = next(r for r in recs if r["workload"] == w and r["trace"])
        print(" | ".join([w] + [fmt(plain["end_to_end"].get(m)) for m in e2e]
                         + [fmt(traced["per_layer"]["trace.overhead"])]))
    print(json.dumps({"correct": all(r["mismatches"] == 0 for r in recs),
                      "attempted": sum(r["attempted"] for r in recs),
                      "failed": sum(r["failed"] for r in recs)}))


def regen(cfg, sf, expected):
    """The expected results come from a build whose Verify dump of the
    fixture passes the DuckDB oracle check (tools/oracle_check.py)."""
    cp, jvm = cfg
    fixture = os.path.join(HERE, "fixture", sf)
    d = fresh_dir("regen")
    env = jvm_env(d)
    props = [HEAP_FLOOR, f"-Djava.io.tmpdir={d}/tmp", f"-Dspark.local.dir={d}/local",
             f"-Dspark.sql.warehouse.dir={d}/warehouse", "-XX:-UsePerfData"]
    try:
        subprocess.run(["java"] + jvm + props + ["-cp", cp, "graft.Verify",
                        fixture, f"{d}/out"], cwd=d, env=env, check=True)
        subprocess.run([sys.executable,
                        os.path.join(ROOT, "tools", "oracle_check.py"),
                        fixture, f"{d}/out"], check=True)
        subprocess.run(["java"] + jvm + props + [
            "-cp", cp, "graft.perfbench.Main", "--mode", "regen",
            "--fixture", fixture, "--expected", expected, "--run-dir", d,
            "--t0-ms", str(time.time_ns() / 1e6)], cwd=d, env=env, check=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    print(f"perfbench: wrote {expected}")


if __name__ == "__main__":
    main()
