"""Metric arithmetic for perfbench: spans -> self times -> per-layer metrics.

Kept free of I/O so the benchmark's own tests can pin it down.

A span is a dict with `id`, `parent` (0 for a root), `layer`, `name`,
`iter`, `t0_ns`, `t1_ns` (epoch nanoseconds). A Spark job is a dict with
`group` (`span-<id>` of the span it ran under, or empty), `start_ms`,
`end_ms` and summed task metrics; each job also becomes a child span of its
group's span, in layer `job`.
"""
import statistics

DAG_STAGES = ("sense_customer", "ingest_customer", "staging_customer",
              "sense_orders", "ingest_orders", "staging_orders", "quality",
              "curate_scd2", "curate_join", "merge", "archive")
# stages whose bodies only touch the file system: no Spark jobs
NO_JOB_STAGES = ("sense_customer", "sense_orders", "archive")
OPS_MIX = ("s19_graph_beam", "q33_graph_rank", "d6_dedup_clusters",
           "q29_gap_fill", "q1_pricing_summary", "q6_forecast_revenue",
           "p1_ingest_raw")
SPARK = (("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"),
         ("core_util", "ratio"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
         ("spill_mb", "MB"), ("output_mb", "MB"), ("codegen_compiles", "count"))


def per_layer_names():
    """Every per-layer metric as (name, unit), in a fixed order."""
    out = [("runner.overhead_s", "s"), ("runner.attempts", "count")]
    for st in DAG_STAGES:
        out.append((f"stage.{st}.s", "s"))
        if st not in NO_JOB_STAGES:
            out += [(f"stage.{st}.jobs", "count"), (f"stage.{st}.core_util", "ratio")]
    for q in OPS_MIX:
        out += [(f"op.{q}.construct_s", "s"), (f"op.{q}.construct_jobs", "count")]
    out += [("ops.construct_s", "s"), ("ops.construct_jobs", "count"),
            ("ops.plan_s", "s"), ("ops.exec_s", "s")]
    out += [(f"spark.{n}", u) for n, u in SPARK]
    out.append(("trace.overhead_s", "s"))
    return out


def union_ns(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def job_spans(jobs, spans):
    """Each job as a child span of the span whose job group it ran under."""
    ids = {s["id"] for s in spans}
    out = []
    for j in jobs:
        parent = int(j["group"][5:]) if j.get("group", "").startswith("span-") else 0
        if parent in ids and "end_ms" in j:
            out.append({"id": f"job-{j['job']}", "parent": parent, "layer": "job",
                        "name": f"job {j['job']}", "t0_ns": j["start_ms"] * 1_000_000,
                        "t1_ns": j["end_ms"] * 1_000_000})
    return out


def with_self_times(spans):
    """Copy of `spans` with `self_s`: the span's duration minus the part of
    its interval that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0_ns"], s["t1_ns"]))
    out = []
    for s in spans:
        covered = union_ns(kids.get(s["id"], []), s["t0_ns"], s["t1_ns"])
        out.append(dict(s, self_s=(s["t1_ns"] - s["t0_ns"] - covered) / 1e9))
    return out


def self_by_layer(spans, iterations):
    """Self time per layer, summed over `spans` (with `self_s`) and divided
    by the number of traced iterations they came from."""
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["self_s"] / iterations
    return out


def _dur(s):
    return (s["t1_ns"] - s["t0_ns"]) / 1e9


def iteration_metrics(spans, jobs, cores, codegen_compiles):
    """Per-layer metrics of one traced iteration (spans and jobs of that
    iteration only). Layers the workload does not exercise read 0."""
    m = {n: 0.0 for n, _ in per_layer_names()}
    by_id = {s["id"]: s for s in spans}
    root = next(s for s in spans if s["layer"] == "iteration")
    wall = _dur(root)

    def owner(j, layer):
        """The span of `layer` that job `j` ran under, walking up parents."""
        g = j.get("group", "")
        s = by_id.get(int(g[5:])) if g.startswith("span-") else None
        while s is not None and s["layer"] != layer:
            s = by_id.get(s["parent"])
        return s

    stages = [s for s in spans if s["layer"] == "stage"]
    if stages:
        m["runner.overhead_s"] = wall - sum(_dur(s) for s in stages)
        m["runner.attempts"] = float(len(stages))
    for s in stages:
        m[f"stage.{s['name']}.s"] += _dur(s)
    task_s = {}
    for j in jobs:
        st = owner(j, "stage")
        if st is not None and st["name"] not in NO_JOB_STAGES:
            m[f"stage.{st['name']}.jobs"] += 1
            task_s[st["name"]] = task_s.get(st["name"], 0.0) + j["task_run_ms"] / 1000
    for name, ts in task_s.items():
        w = m[f"stage.{name}.s"]
        m[f"stage.{name}.core_util"] = ts / (w * cores) if w > 0 else 0.0

    phase_key = {"construct": "ops.construct_s", "plan": "ops.plan_s",
                 "execute": "ops.exec_s"}
    for s in spans:
        if s["layer"] in phase_key:
            m[phase_key[s["layer"]]] += _dur(s)
        if s["layer"] == "construct":
            m[f"op.{s['name']}.construct_s"] += _dur(s)
    for j in jobs:
        c = owner(j, "construct")
        if c is not None:
            m[f"op.{c['name']}.construct_jobs"] += 1
            m["ops.construct_jobs"] += 1

    task_run = sum(j["task_run_ms"] for j in jobs) / 1000
    m["spark.jobs"] = float(len(jobs))
    m["spark.tasks"] = float(sum(j["tasks"] for j in jobs))
    m["spark.task_run_s"] = task_run
    m["spark.core_util"] = task_run / (wall * cores) if wall > 0 else 0.0
    m["spark.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1000
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in jobs) / 1e6
    m["spark.spill_mb"] = sum(j["spill_b"] for j in jobs) / 1e6
    m["spark.output_mb"] = sum(j["output_b"] for j in jobs) / 1e6
    m["spark.codegen_compiles"] = float(codegen_compiles)
    return m


def per_layer(report):
    """Median of each per-layer metric over the traced measured iterations
    of a report, plus the tracing overhead (traced minus untraced median
    iteration time)."""
    cores = report["provenance"]["nproc"]
    measured = [i for i in report["iterations"] if i["kind"] == "measured"]
    traced = [i for i in measured if i["traced"]]
    untraced = [i for i in measured if not i["traced"]]
    rows = []
    for it in traced:
        spans = [s for s in report["spans"] if s["iter"] == it["n"]]
        span_ids = {s["id"] for s in spans}
        t0 = min(s["t0_ns"] for s in spans)
        t1 = max(s["t1_ns"] for s in spans)
        jobs = [j for j in report["jobs"]
                if (j["group"].startswith("span-") and int(j["group"][5:]) in span_ids)
                or (not j["group"] and t0 <= j["start_ms"] * 1_000_000 <= t1)]
        rows.append(iteration_metrics(spans, jobs, cores, it["codegen_compiles"]))
    out = {n: statistics.median(r[n] for r in rows) for n, _ in per_layer_names()}
    if traced and untraced:
        out["trace.overhead_s"] = (statistics.median(i["wall_s"] for i in traced)
                                   - statistics.median(i["wall_s"] for i in untraced))
    return out
