"""Unit tests for the benchmark's own code.

Run from the root of a checkout:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import duckdb

import gen
import metrics
import run


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def month(self, name, seed, rows=4000):
        path = os.path.join(self.dir, name)
        gen.write_month(path, seed, 2024, 2, rows)
        return path

    def test_month_is_byte_identical_for_a_seed(self):
        self.assertEqual(digest(self.month("a.parquet", 7)), digest(self.month("b.parquet", 7)))

    def test_month_differs_across_seeds(self):
        self.assertNotEqual(digest(self.month("a.parquet", 7)), digest(self.month("b.parquet", 8)))

    def test_registry_is_byte_identical(self):
        a, b = os.path.join(self.dir, "a"), os.path.join(self.dir, "b")
        os.makedirs(a)
        os.makedirs(b)
        gen.write_registry(a)
        gen.write_registry(b)
        for name in gen.REGISTRY_ROWS:
            self.assertEqual(digest(f"{a}/{name}.parquet"), digest(f"{b}/{name}.parquet"), name)

    def test_month_schema_and_stated_shares(self):
        rows = 20000
        path = self.month("m.parquet", 3, rows)
        con = duckdb.connect()
        schema = {c: t for c, t, *_ in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()}
        self.assertEqual(schema["VendorID"], "BIGINT")
        self.assertEqual(schema["tpep_pickup_datetime"], "TIMESTAMP")
        self.assertEqual(schema["RatecodeID"], "DOUBLE")
        self.assertEqual(schema["store_and_fwd_flag"], "VARCHAR")
        self.assertEqual(len(schema), 19)

        def share(pred):
            return con.execute(f"SELECT avg(CASE WHEN {pred} THEN 1.0 ELSE 0 END) "
                               f"FROM '{path}'").fetchone()[0]
        s = gen.MONTH_SHARES
        n_distinct = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT * FROM '{path}')").fetchone()[0]
        self.assertAlmostEqual(1 - n_distinct / rows, s["exact_duplicates"], delta=0.002)
        # shares among the distinct rows, which the generator draws exactly
        tol = 0.01
        self.assertAlmostEqual(share("passenger_count IS NULL"), s["drop_passenger_null"], delta=tol)
        self.assertAlmostEqual(share("passenger_count = 0"), s["drop_passenger_zero"], delta=tol)
        self.assertAlmostEqual(share("passenger_count > 6"), s["drop_passenger_over_6"], delta=tol)
        self.assertAlmostEqual(share("trip_distance < 5"), s["drop_distance_under_5"], delta=tol)
        self.assertAlmostEqual(share("trip_distance > 500"), s["drop_distance_over_500"], delta=tol)
        self.assertAlmostEqual(share("fare_amount <= 0"), s["drop_fare_nonpositive"], delta=tol)
        self.assertAlmostEqual(
            share("date_diff('minute', tpep_pickup_datetime, tpep_dropoff_datetime) >= 1440"),
            s["duration_ge_1440_min"], delta=tol)
        self.assertAlmostEqual(share("airport_fee IS NULL"), s["null_airport_fee"], delta=tol)
        self.assertAlmostEqual(share("store_and_fwd_flag IS NULL"),
                               s["null_store_and_fwd_flag"], delta=tol)
        hours = {h for (h,) in con.execute(
            f"SELECT DISTINCT hour(tpep_pickup_datetime) FROM '{path}'").fetchall()}
        self.assertEqual(hours, set(range(24)))  # all three peak bands
        # every pickup falls in the generated month
        months = con.execute(f"SELECT DISTINCT month(tpep_pickup_datetime) FROM '{path}'").fetchall()
        self.assertEqual(months, [(2,)])


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(range(10)))
        p, v, n = metrics.tail_percentile(range(11))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(p, 100 / 11)

    def test_p90_at_one_hundred_samples(self):
        p, v, n = metrics.tail_percentile(list(range(100, 0, -1)))
        self.assertEqual((p, v, n), (90.0, 90, 100))  # 91..100 lie beyond

    def test_exactly_ten_beyond(self):
        xs = [float(i) for i in range(37)]
        p, v, _ = metrics.tail_percentile(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 100 * 27 / 37)


class DriverGapTest(unittest.TestCase):
    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)  # nested
        self.assertEqual(metrics.union_length([(0, 5), (5, 8)]), 8)  # touching

    def test_gap_is_wall_minus_union_of_stages(self):
        # wall 0..100; stages cover 10..40 (two overlapping) and 60..70
        self.assertEqual(metrics.driver_gap(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)

    def test_gap_clips_stages_to_the_wall(self):
        self.assertEqual(metrics.driver_gap(50, 100, [(0, 60), (90, 130)]), 30)
        self.assertEqual(metrics.driver_gap(0, 10, []), 10)


class AttributionTest(unittest.TestCase):
    def test_jobs_stages_and_phases_land_in_the_innermost_span(self):
        span = lambda i, name, parent, s, e: {"id": i, "name": name, "parent": parent,
                                              "start_ms": s, "end_ms": e, "attrs": {}}
        record = {
            "spans": [span(1, "query", 0, 0, 100), span(2, "entry.build", 1, 0, 40),
                      span(3, "entry.action", 1, 40, 100)],
            "jobs": [{"job": 0, "time_ms": 10, "stages": [0]},
                     {"job": 1, "time_ms": 50, "stages": [1, 2]}],
            "stages": [{"stage": 0, "tasks": 4, "submit_ms": 10, "done_ms": 30, "run_ms": 7},
                       {"stage": 1, "tasks": 2, "submit_ms": 50, "done_ms": 60, "run_ms": 5},
                       {"stage": 2, "tasks": 1, "submit_ms": 55, "done_ms": 90, "run_ms": 3}],
            "queries": [{"phases": {"analysis": {"start_ms": 1, "end_ms": 4},
                                    "planning": {"start_ms": 45, "end_ms": 48}}}],
        }
        attr = metrics.Attribution(record)
        q = metrics.query_layers(attr, record["spans"][0])
        self.assertEqual((q["entry.build_jobs"], q["entry.action_jobs"]), (1, 1))
        self.assertEqual((q["scheduler.jobs"], q["scheduler.stages"], q["scheduler.tasks"]), (2, 3, 7))
        self.assertEqual(q["executor.run_ms"], 15)
        self.assertEqual(q["scheduler.driver_gap_ms"], 100 - 20 - 40)
        self.assertEqual((q["catalyst.analysis_ms"], q["catalyst.planning_ms"]), (3, 3))


def span(i, name, parent, start, end, **attrs):
    return {"id": i, "name": name, "parent": parent, "start_ms": start, "end_ms": end,
            "attrs": attrs}


class ErroredOperationTest(unittest.TestCase):
    """An operation that raises is reported as failed and left out of the
    timings, instead of breaking the metrics or making them faster."""

    def test_errored_month_is_left_out(self):
        record = {
            "spans": [span(1, "month", 0, 0, 1000, month="2024-4", traced=False),
                      span(2, "month", 0, 1000, 1050, month="2024-5", traced=False),
                      span(3, "month", 0, 1050, 4050, month="2024-6", traced=False)],
            "ops": [{"op": "2024-4", "warm": False, "star_ready_ms": 400.0,
                     "published_ms": 1000.0},
                    {"op": "2024-5", "warm": False, "error": "java.lang.RuntimeException: x"},
                    {"op": "2024-6", "warm": False, "star_ready_ms": 1000.0,
                     "published_ms": 3000.0}],
        }
        named, generic, samples, walls = run.end_to_end("etl_month", record, traced=False)
        self.assertEqual(walls, [1.0, 3.0])
        self.assertEqual(samples["months"], 2)
        self.assertEqual(generic["op_mean_s"], 2.0)
        self.assertAlmostEqual(generic["op_gmean_s"], 3 ** 0.5)
        self.assertEqual(named["ingest_rows_per_s"][0], run.ROWS_PER_MONTH * 2 / 4.0)
        self.assertEqual(run.check_etl(dict(record, ops=record["ops"][1:2])),
                         ["2024-5: java.lang.RuntimeException: x"])

    def test_only_errored_months_give_no_figures(self):
        record = {"spans": [span(1, "month", 0, 0, 5, month="2024-4", traced=False)],
                  "ops": [{"op": "2024-4", "warm": False, "error": "boom"}]}
        named, generic, samples, walls = run.end_to_end("etl_month", record, traced=False)
        self.assertEqual((walls, generic["op_mean_s"], generic["op_gmean_s"]), ([], None, None))
        self.assertIsNone(named["ingest_rows_per_s"][0])

    def test_pass_with_an_errored_query_is_left_out(self):
        record = {
            "spans": [span(1, "pass", 0, 0, 300, traced=False, **{"pass": 0}),
                      span(2, "query", 1, 0, 100, query="q1", **{"pass": 0}),
                      span(3, "query", 1, 100, 300, query="q6", **{"pass": 0}),
                      span(4, "pass", 0, 300, 320, traced=False, **{"pass": 1}),
                      span(5, "query", 4, 300, 310, query="q1", **{"pass": 1}),
                      span(6, "query", 4, 310, 320, query="q6", **{"pass": 1})],
            "ops": [{"op": "q1", "pass": 0, "rows": 1}, {"op": "q6", "pass": 0, "rows": 1},
                    {"op": "q1", "pass": 1, "rows": 1}, {"op": "q6", "pass": 1, "error": "x"}],
        }
        named, generic, samples, walls = run.end_to_end("registry_mix", record, traced=False)
        self.assertEqual(walls, [0.1, 0.2])
        self.assertEqual((samples["passes"], named["pass_s"][0]), (1, 0.3))
        self.assertAlmostEqual(generic["op_mean_s"], 0.15)


if __name__ == "__main__":
    unittest.main()
