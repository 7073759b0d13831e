#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of graft.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the load generator from source (into .bench_build/,
reused while the sources are unchanged), generates the workload's inputs
from the seed, measures, checks the outputs and prints every metric by
name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full
artifact (provenance, input sizes, every iteration, check results and, when
traced, the spans) lands in .bench_build/artifacts/. Exits non-zero when
an output check fails or the run cannot complete.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DAG_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

# copies x base_scale of the sf0.1 row counts; see README.md for the why
WORKLOADS = {
    "dag_sf1": {"copies": 10, "base_scale": 0.05, "tables": DAG_TABLES},
    "ops_mix": {"copies": 1, "base_scale": 0.01, "tables": gen.ALL_TABLES},
}

END_TO_END = (("run_s", "s"), ("rows_per_s", "1/s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB"))
# printed and kept in the artifact but not gated: the cold iteration does
# not repeat within a tenth from run to run, and fail_ratio is 0 when healthy
REPORTED = (("first_run_s", "s"), ("fail_ratio", "ratio"))
# set-up is measured this many times per run: the measured JVM and probes
SETUP_SAMPLES = 2
# a ceiling only: without -Xms the heap grows with demand, so VmHWM
# (peak_rss_mb) follows how much memory the engine needed. G1 grows the heap
# by 20% of the uncommitted space at a time; 2g keeps those steps near
# 200 MB, and about 7x the live heap of either workload (~250 MB)
HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = ("java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect "
             "java.base/java.io java.base/java.net java.base/java.nio java.base/java.util "
             "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
             "java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action "
             "java.base/sun.util.calendar").split()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution with a bin/spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(p)) for p in os.environ.get("PATH", "").split(os.pathsep)
        if p and os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and os.path.isdir(d):
            return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def sources():
    roots = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"))
    files = sorted(os.path.join(dp, f) for r in roots for dp, _, fs in os.walk(r)
                   for f in fs if f.endswith(".scala"))
    if not any(f.startswith(roots[0]) for f in files):
        raise RuntimeError(f"engine sources not found under {roots[0]}")
    return files


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + load generator with the Scala compiler that ships
    in the Spark distribution; skipped while the sources are unchanged."""
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    log(f"compiling {len(files)} sources")
    tmp = os.path.join(BUILD, f"classes.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, ".digest"), "w") as f:
        f.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest


def java(classes, tmp, args, timeout):
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes] + spark_jars()), "perfbench.PerfBench"]
           + [str(a) for a in args])
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                              timeout=timeout, cwd=tmp)
    except subprocess.TimeoutExpired as e:
        raise RuntimeError(f"{args[0]} did not finish within {timeout:.0f} s") from e


def setup_probe(classes, tmp):
    r = java(classes, tmp, ["--setup-only", time.time_ns()], timeout=60)
    line = [x for x in r.stdout.splitlines() if x.startswith("setup_s ")]
    if r.returncode != 0 or not line:
        raise RuntimeError("setup probe failed:\n" + r.stderr[-2000:])
    return float(line[-1].split()[1])


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except OSError:
        return None


def end_to_end(report, rows, setup_samples):
    measured = [i["wall_s"] for i in report["iterations"]
                if i["kind"] == "measured" and not i["traced"]]
    run_s = statistics.median(measured)
    return {
        "run_s": run_s,
        "rows_per_s": rows / run_s,
        "setup_s": statistics.median(setup_samples),
        "peak_rss_mb": report["peak_rss_kb"] / 1024,
    }


def run_checks(report, data_dir, tables):
    """{check name: failure reason or None} for every output the report names."""
    con = checks.connect(data_dir, tables)
    res = {os.path.basename(c["path"]): checks.oracle_check(con, c["sql"], c["path"])
           for c in report["checks"]}
    con.close()
    return res


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    started = time.monotonic()
    wl = WORKLOADS[a.workload]

    classes, digest = build()
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    scratch = os.path.join(BUILD, "runs", f"{tag}_{os.getpid()}")
    data_dir, work_dir, tmp = (os.path.join(scratch, d) for d in ("data", "work", "tmp"))
    for d in (work_dir, tmp):
        os.makedirs(d)
    try:
        # set-up time is an end-to-end metric: the traced run skips its probes
        setup = [setup_probe(classes, tmp) for _ in range(0 if a.trace else SETUP_SAMPLES - 1)]
        manifest = gen.generate(data_dir, a.seed, wl["copies"], wl["base_scale"], wl["tables"])
        out = os.path.join(scratch, "report.json")
        budget = RUN_LIMIT_S - (time.monotonic() - started) - 20
        r = java(classes, tmp, [a.workload, data_dir, work_dir, a.seconds, a.trace, out,
                                time.time_ns(), ",".join(metrics.OPS_MIX)], timeout=budget)
        if r.returncode != 0 or not os.path.exists(out):
            raise RuntimeError(f"load generator exited {r.returncode}:\n{r.stderr[-3000:]}")
        with open(out) as f:
            report = json.load(f)
        setup.append(report["setup_s"])
        results = run_checks(report, data_dir, wl["tables"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    rows = sum(t["rows"] for t in manifest["tables"].values())
    bad = {k: v for k, v in results.items() if v is not None}
    attempted = report["attempted"] + len(results)
    failed = report["failed"] + len(bad)
    if a.trace:
        values = metrics.per_layer(report)
        units = dict(metrics.per_layer_names())
    else:
        values = end_to_end(report, rows, setup)
        units = dict(END_TO_END)
    prov = dict(report["provenance"], seed=a.seed, git_commit=git_commit(),
                source_sha256=digest, spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
                os_nproc=os.cpu_count(), input=manifest)
    reported = {"first_run_s": report["iterations"][0]["wall_s"],
                "fail_ratio": failed / attempted}
    artifact = {
        "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        "reported": {k: {"value": reported[k], "unit": u} for k, u in REPORTED},
        "attempted": attempted, "failed": failed,
        "checks": results,
        "input_rows_per_iteration": rows, "setup_samples_s": setup,
        "iterations": report["iterations"], "provenance": prov,
    }
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    base = os.path.join(BUILD, "artifacts", tag)
    if a.trace:
        spans = metrics.with_self_times(
            report["spans"] + metrics.job_spans(report["jobs"], report["spans"]))
        with open(base + "_spans.json", "w") as f:
            json.dump({"spans": spans, "jobs": report["jobs"]}, f)
        artifact["spans_file"] = base + "_spans.json"
        artifact["self_s_per_iteration_by_layer"] = metrics.self_by_layer(
            spans, sum(1 for i in report["iterations"] if i["traced"]))
    with open(base + ".json", "w") as f:
        json.dump(artifact, f, indent=1)

    for k, v in bad.items():
        log(f"check {k} FAILED: {v}")
    for k, v in values.items():
        print(f"{k} {v:.6f} {units[k]}")
    for k, u in REPORTED:
        print(f"{k} {reported[k]:.6f} {u} (not gated)")
    print(f"{failed} of {attempted} operations failed; artifact {base}.json")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception as e:  # no result line: the run did not complete
        log(f"error: {e}")
        sys.exit(2)
