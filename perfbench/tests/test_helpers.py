"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import report  # noqa: E402
import shapes  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(11, 400):
            xs = list(range(n))
            p, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # the next percentile up would leave fewer than ten beyond
            if p < 100:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_points(self):
        self.assertEqual(stats.tail(range(1, 101)), (90, 90))
        self.assertEqual(stats.tail(range(1, 21)), (50, 10))
        self.assertEqual(stats.tail(range(1, 1001)), (99, 990))

    def test_small_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0))
        self.assertEqual(stats.tail([5.0] * 10), (100, 5.0))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertEqual(stats.covered((0, 100), [(10, 30), (20, 50), (60, 70)]), 50)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.covered((10, 20), [(0, 15), (18, 40)]), 7)
        self.assertEqual(stats.covered((10, 20), [(30, 40)]), 0)

    def test_nested_spans(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},  # overlaps 2
            {"id": 4, "parent": 2, "start": 15, "end": 20},
        ]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 25, 3: 30, 4: 5})

    def test_concurrent_writes_inside_a_rebuild(self):
        trace = {
            "spans": [{"id": 1, "parent": 0, "layer": "plans",
                       "name": "Pipeline.runFullEtl", "start": 0, "end": 100}],
            "executions": [
                {"id": 7, "start": 10, "end": 60, "output": "file:/w/.staging-1/fact_trips"},
                {"id": 8, "start": 20, "end": 80, "output": "file:/w/.staging-1/dm_user_behavior"},
            ],
            "jobs": [{"start": 12, "end": 55}, {"start": 25, "end": 90}],
        }
        spans = stats.expand_spans(trace)
        layers = {s["name"]: (s["layer"], s["start"], s["end"]) for s in spans}
        self.assertEqual(layers["write fact_trips"], ("silver", 10, 60))
        self.assertEqual(layers["write dm_user_behavior"], ("gold", 20, 80))
        self.assertEqual(layers["source resolution"], ("tables", 0, 10))
        self.assertEqual(layers["promote"], ("plans", 90, 100))
        selfs = stats.self_times(spans)
        # children cover 0..80 and 90..100, so the rebuild keeps 80..90
        self.assertEqual(selfs[1], 10)


class GeneratorDeterminism(unittest.TestCase):
    def _files(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate(workload, seed, d)
            out = {}
            for rel in sorted(m["files"]):
                with open(os.path.join(d, rel), "rb") as f:
                    out[rel] = f.read()
        return m, out

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            m1, f1 = self._files(w, 5)
            m2, f2 = self._files(w, 5)
            self.assertEqual(m1, m2, w)
            self.assertEqual(f1, f2, w)

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(self._files(w, 5)[1], self._files(w, 6)[1], w)


class GeneratedShapes(unittest.TestCase):
    """Every generated table has the shapes of the reference tables."""

    def test_trip_base_and_replica(self):
        with tempfile.TemporaryDirectory() as d:
            import pyarrow.parquet as pq
            tables = gen.trip_tables(gen._rng("medallion_rebuild", 3),
                                     gen.TRIP_BASE_SF, 1)
            for name, t in tables.items():
                pq.write_table(t, f"{d}/{name}.parquet")
            src = {t: f"{d}/{t}.parquet" for t in tables}
            base = shapes.trips(shapes.duckdb.connect(), src)
            self.assertEqual(shapes.mismatches(base), {})
            m = gen.generate("medallion_rebuild", 3, f"{d}/rep")
            src = {t: f"{d}/rep/src/{t}.parquet" for t in tables}
            con = shapes.duckdb.connect()
            rep = shapes.trips(con, src)
            # replication keeps every per-key shape; dates and names do
            # not move, and no foreign key crosses replicas
            self.assertEqual(shapes.mismatches(rep), {})
            self.assertEqual(m["rows"]["lineitem"],
                             gen.TRIP_REPLICAS * int(6_000_000 * gen.TRIP_BASE_SF))
            orphans = con.sql("""SELECT count(*) FROM lineitem l
                LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderkey IS NULL""").fetchone()[0]
            self.assertEqual(orphans, 0)

    def test_events(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("incremental_batches", 3, d)
            got = shapes.events(shapes.duckdb.connect(), f"{d}/batches/*/events.parquet")
            self.assertEqual(shapes.mismatches(got), {})
            self.assertEqual(sum(m["rows"].values()), int(1_000_000 * gen.EVENTS_SF))

    def test_every_arrival_batch_has_late_rows(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("incremental_batches", 3, d)
            con = shapes.duckdb.connect()
            seen = set()
            for k in range(len(os.listdir(f"{d}/batches"))):
                days = {r[0] for r in con.sql(f"""SELECT DISTINCT CAST(ts AS DATE)
                    FROM read_parquet('{d}/batches/{k:03d}/events.parquet')""").fetchall()}
                if k > 0:
                    self.assertTrue(days & seen, k)
                seen |= days

    def test_documents(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("corpus_admission", 3, d)
            got = shapes.documents(shapes.duckdb.connect(), f"{d}/src/documents.parquet",
                                   f"{d}/src/embeddings.parquet")
            self.assertEqual(shapes.mismatches(got), {})


class Compare(unittest.TestCase):
    """compare fails on a missing workload and on a wrong or failed run."""

    def _set(self, workloads, correct=True, value=1.0):
        spec = report.bench_spec()
        metrics = {m["name"]: {"value": value, "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        return {"runs": [{"workload": w, "seed": 1, "trace": 0, "notes": [],
                          "result": {"correct": correct, "metrics": metrics}}
                         for w in workloads]}

    def _quiet(self, base, new):
        import contextlib
        import io
        with contextlib.redirect_stdout(io.StringIO()):
            return report.compare(base, new)

    def test_same_results_pass(self):
        names = [w["name"] for w in report.bench_spec()["workloads"]]
        self.assertEqual(self._quiet(self._set(names), self._set(names)), 0)

    def test_missing_workload_fails(self):
        names = [w["name"] for w in report.bench_spec()["workloads"]]
        self.assertGreater(self._quiet(self._set(names), self._set(names[1:])), 0)

    def test_wrong_output_fails(self):
        names = [w["name"] for w in report.bench_spec()["workloads"]]
        self.assertGreater(self._quiet(self._set(names), self._set(names, correct=False)), 0)

    def test_errored_run_fails(self):
        names = [w["name"] for w in report.bench_spec()["workloads"]]
        new = self._set(names)
        new["runs"][0] = {"workload": names[0], "seed": 1, "trace": 0, "error": "boom"}
        self.assertGreater(self._quiet(self._set(names), new), 0)


if __name__ == "__main__":
    unittest.main()
