"""Tests of the benchmark itself.

Run: python3 -m unittest discover -s perfbench/tests -v
The last test builds the engine and runs one short traced workload, so it
takes about a minute.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def span(i, parent, layer, name, t0, t1, it=0):
    return {"id": i, "parent": parent, "layer": layer, "name": name, "iter": it,
            "t0_ns": t0, "t1_ns": t1}


def job(j, group, start_ms, end_ms, tasks=1, run_ms=0):
    return {"job": j, "group": group, "start_ms": start_ms, "end_ms": end_ms,
            "tasks": tasks, "task_run_ms": run_ms, "gc_ms": 0, "shuffle_write_b": 0,
            "spill_b": 0, "output_b": 0}


MS = 1_000_000
# the benchmark contract's limits on metric names and the per-layer count
NAME_RE = r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$"
MAX_PER_LAYER = 128


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ns([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_ns([(0, 10), (2, 3)], 0, 100), 10)
        self.assertEqual(metrics.union_ns([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.union_ns([], 0, 100), 0)

    def test_self_time_is_span_minus_children_coverage(self):
        spans = [span(1, 0, "iteration", "w", 0, 100 * MS),
                 span(2, 1, "stage", "a", 10 * MS, 40 * MS),
                 span(3, 1, "stage", "b", 40 * MS, 90 * MS)]
        jobs = [job(7, "span-3", 50, 70), job(8, "span-3", 60, 80)]
        got = {s["id"]: s["self_s"] for s in
               metrics.with_self_times(spans + metrics.job_spans(jobs, spans))}
        self.assertAlmostEqual(got[1], 0.020)  # 100 - 30 - 50 ms
        self.assertAlmostEqual(got[2], 0.030)  # no children
        self.assertAlmostEqual(got[3], 0.020)  # 50 - union(50..80) ms
        self.assertAlmostEqual(got["job-7"], 0.020)
        by_layer = metrics.self_by_layer(
            metrics.with_self_times(spans + metrics.job_spans(jobs, spans)), iterations=2)
        self.assertAlmostEqual(by_layer["iteration"], 0.010)
        self.assertAlmostEqual(by_layer["stage"], 0.025)
        self.assertAlmostEqual(by_layer["job"], 0.020)

    def test_iteration_metrics_attribute_jobs_by_group(self):
        spans = [span(1, 0, "iteration", "ops_mix", 0, 100 * MS),
                 span(2, 1, "query", "q1_pricing_summary", 0, 90 * MS),
                 span(3, 2, "construct", "q1_pricing_summary", 0, 30 * MS),
                 span(4, 2, "plan", "q1_pricing_summary", 30 * MS, 40 * MS),
                 span(5, 2, "execute", "q1_pricing_summary", 40 * MS, 90 * MS)]
        jobs = [job(1, "span-3", 5, 10, tasks=2, run_ms=8),
                job(2, "span-5", 45, 85, tasks=4, run_ms=120)]
        m = metrics.iteration_metrics(spans, jobs, cores=4, codegen_compiles=3)
        self.assertEqual(m["op.q1_pricing_summary.construct_jobs"], 1)
        self.assertAlmostEqual(m["op.q1_pricing_summary.construct_s"], 0.030)
        self.assertAlmostEqual(m["ops.plan_s"], 0.010)
        self.assertAlmostEqual(m["ops.exec_s"], 0.050)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.tasks"], 6)
        self.assertAlmostEqual(m["spark.core_util"], 0.128 / (0.1 * 4))
        self.assertEqual(m["runner.attempts"], 0)

    def test_runner_overhead_and_stage_core_util(self):
        spans = [span(1, 0, "iteration", "dag_sf1", 0, 100 * MS),
                 span(2, 1, "stage", "quality", 0, 50 * MS),
                 span(3, 1, "stage", "merge", 50 * MS, 90 * MS)]
        jobs = [job(1, "span-2", 0, 50, run_ms=100)]
        m = metrics.iteration_metrics(spans, jobs, cores=4, codegen_compiles=0)
        self.assertAlmostEqual(m["runner.overhead_s"], 0.010)
        self.assertEqual(m["runner.attempts"], 2)
        self.assertEqual(m["stage.quality.jobs"], 1)
        self.assertAlmostEqual(m["stage.quality.core_util"], 0.1 / (0.05 * 4))


class Names(unittest.TestCase):
    def test_metric_names_are_well_formed_and_few_enough(self):
        per_layer = [n for n, _ in metrics.per_layer_names()]
        names = per_layer + [n for n, _ in run.END_TO_END]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, NAME_RE)
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(per_layer), MAX_PER_LAYER)

    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        units = dict(run.END_TO_END)
        for m in spec["end_to_end"]:
            self.assertEqual(units[m["name"]], m["unit"])
        self.assertIn("setup_s", units)
        self.assertEqual({m["name"] for m in spec["per_layer"]},
                         {n for n, _ in metrics.per_layer_names()})


def scratch():
    """A temporary directory inside the checkout's build directory."""
    os.makedirs(run.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.BUILD)


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Generator(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with scratch() as a, scratch() as b:
            gen.generate(a, 11, copies=2, base_scale=0.02)
            gen.generate(b, 11, copies=2, base_scale=0.02)
            self.assertEqual(digests(a), digests(b))

    def test_another_seed_reorders_the_same_rows(self):
        with scratch() as a, scratch() as b:
            ma = gen.generate(a, 11, copies=2, base_scale=0.02)
            mb = gen.generate(b, 12, copies=2, base_scale=0.02)
            self.assertEqual({t: v["rows"] for t, v in ma["tables"].items()},
                             {t: v["rows"] for t, v in mb["tables"].items()})
            self.assertNotEqual(digests(a)["lineitem.parquet"], digests(b)["lineitem.parquet"])
            con = duckdb.connect()
            for t in gen.ALL_TABLES:
                diff = con.execute(
                    f"SELECT count(*) FROM ((SELECT * FROM '{a}/{t}.parquet' EXCEPT ALL"
                    f" SELECT * FROM '{b}/{t}.parquet') UNION ALL"
                    f" (SELECT * FROM '{b}/{t}.parquet' EXCEPT ALL"
                    f" SELECT * FROM '{a}/{t}.parquet'))").fetchone()[0]
                self.assertEqual(diff, 0, t)

    def test_replicas_offset_keys_without_collisions(self):
        with scratch() as a:
            m = gen.generate(a, 3, copies=3, base_scale=0.02,
                             tables=("customer", "orders", "documents"))
            con = duckdb.connect()
            for t, k in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                         ("documents", "doc_id")):
                n, d = con.execute(
                    f"SELECT count(*), count(DISTINCT {k}) FROM '{a}/{t}.parquet'").fetchone()
                self.assertEqual((n, d), (m["tables"][t]["rows"],) * 2, t)


class OracleCheck(unittest.TestCase):
    def test_detects_wrong_values_and_rows_but_not_order_or_float_noise(self):
        sql = "SELECT * FROM (VALUES (1, 0.1, 'a'), (2, 0.2, 'b')) t(k, x, s)"
        with scratch() as d:
            con = checks.connect(d, ())

            def verdict(select, oracle=sql):
                out = os.path.join(d, "out")
                os.makedirs(out, exist_ok=True)
                con.execute(f"COPY ({select}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
                return checks.oracle_check(con, oracle, out)

            self.assertIsNone(verdict(
                "SELECT 'b' AS s, 2 AS k, 0.2 + 1e-12 AS x UNION ALL SELECT 'a', 1, 0.1"))
            self.assertEqual(verdict(
                "SELECT 1 AS k, 0.1 AS x, 'a' AS s UNION ALL SELECT 2, 0.3, 'b'"),
                "1 rows differ")
            self.assertEqual(verdict("SELECT 1 AS k, 0.1 AS x, 'a' AS s"),
                             "rows oracle=2 spark=1")
            # NULL where the oracle has a value, and a value where it has NULL
            self.assertEqual(verdict(
                "SELECT 1 AS k, 0.1 AS x, 'a' AS s UNION ALL SELECT 2, NULL, 'b'"),
                "1 rows differ")
            null_sql = "SELECT 1 AS k, NULL::DOUBLE AS x"
            self.assertEqual(verdict("SELECT 1 AS k, 5.0 AS x", null_sql), "1 rows differ")
            self.assertIsNone(verdict(null_sql, null_sql))
            self.assertTrue(verdict("SELECT 1 AS k, 'a' AS s").startswith("columns"))


class EndToEnd(unittest.TestCase):
    def test_second_seed_passes_the_oracle_checks_traced(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "dag_sf1",
             "--seed", "2", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertEqual(set(out["metrics"]), {n for n, _ in metrics.per_layer_names()})
        self.assertGreater(out["metrics"]["stage.quality.jobs"]["value"], 0)
        self.assertGreater(out["metrics"]["spark.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
