"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as M  # noqa: E402

# Job call stacks as the listener records them (Spark API frame first).
UPSERT_JOB = """org.apache.spark.sql.classic.Dataset.isEmpty(Dataset.scala:558)
graft.store.TableStore.upsert(TableStore.scala:126)
graft.store.TableStore.upsert(TableStore.scala:109)
graft.Main$.run(Main.scala:104)
perfbench.Harness$.op$1(Harness.scala:65)
perfbench.Harness.main(Harness.scala)"""
APPEND_READ_JOB = """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)
graft.store.TableStore.read(TableStore.scala:77)
graft.store.TableStore.appendIfAbsent(TableStore.scala:92)
graft.Main$.run(Main.scala:73)
perfbench.Harness.main(Harness.scala)"""
REPLACE_JOB = """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)
graft.store.TableStore.read(TableStore.scala:77)
graft.store.TableStore.replaceWhere(TableStore.scala:251)
graft.Main$.$anonfun$run$7(Main.scala:126)
scala.Option.foreach(Option.scala:437)
graft.Main$.run(Main.scala:123)"""
PROBE_JOB = """org.apache.spark.sql.classic.Dataset.isEmpty(Dataset.scala:558)
graft.Main$.run(Main.scala:64)
perfbench.Harness.main(Harness.scala)"""
TOUCHED_JOB = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1500)
graft.Main$.dates$1(Main.scala:84)
graft.Main$.run(Main.scala:86)"""
REPORT_JOB = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1500)
graft.Main$.run(Main.scala:131)"""
COUNTS_JOB = """org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1499)
graft.Main$.run(Main.scala:133)"""
PLAIN_READ_JOB = """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)
graft.store.TableStore.read(TableStore.scala:77)
graft.Main$.run(Main.scala:88)"""
AQE_THREAD_JOB = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.lang.Thread.run(Thread.java:840)"""


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 31))  # 30 samples, shuffled order must not matter
        v, p, n = M.tail(reversed(xs))
        self.assertEqual(n, 30)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 100 * 20 / 30)

    def test_hundred_samples_is_p90(self):
        v, p, n = M.tail([float(i) for i in range(100)])
        self.assertEqual((v, p, n), (89.0, 90.0, 100))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(M.tail([5, 1, 3, 4]), (3.5, 50.0, 4))
        v, p, n = M.tail(range(20))
        self.assertEqual((p, n), (50.0, 20))
        self.assertEqual(M.tail(range(21))[1:], (100 * 11 / 21, 21))

    def test_empty_is_an_error(self):
        with self.assertRaises(Exception):
            M.tail([])


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, s, e):
        return {"id": id_, "parent": parent, "start_us": s, "end_us": e}

    def test_overlapping_and_overhanging_children(self):
        op = self.span(1, 0, 0, 100)
        spans = [op, self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 80, 120),
                 self.span(5, 2, 0, 100)]  # a grandchild does not count
        self.assertEqual(M.self_time(op, spans), 100 - 40 - 20)

    def test_leaf_is_all_self(self):
        op = self.span(7, 0, 5, 9)
        self.assertEqual(M.self_time(op, [op]), 4)

    def test_covered_clips_to_window(self):
        self.assertEqual(M.covered([(-5, 5), (3, 8), (20, 30)], 0, 25), 8 + 5)


class AttributionTest(unittest.TestCase):
    def test_recorded_stacks(self):
        cases = {
            UPSERT_JOB: "store.upsert",
            APPEND_READ_JOB: "store.append",
            REPLACE_JOB: "store.replace",
            PROBE_JOB: "main.extract_probe",
            TOUCHED_JOB: "main.touched",
            REPORT_JOB: "main.report",
            COUNTS_JOB: "main.counts",
            PLAIN_READ_JOB: "other",
            AQE_THREAD_JOB: "other",
            "": "other",
        }
        for stack, layer in cases.items():
            self.assertEqual(M.attribute(stack), layer, stack)


class ResultLineTest(unittest.TestCase):
    def spec(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            return json.load(f)

    def test_every_metric_with_its_unit(self):
        spec = self.spec()
        for section in ("end_to_end", "per_layer"):
            wanted = spec[section]
            values = {m["name"]: 1.25 for m in wanted}
            line = json.loads(json.dumps(M.result_line(True, 3, 0, values, wanted)))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(line["metrics"]), [m["name"] for m in wanted])
            for m in wanted:
                self.assertEqual(line["metrics"][m["name"]], {"value": 1.25, "unit": m["unit"]})

    def test_missing_metric_is_an_error(self):
        wanted = self.spec()["end_to_end"]
        with self.assertRaises(KeyError):
            M.result_line(True, 1, 0, {"setup_s": 1.0}, wanted)

    def test_setup_metric_is_declared(self):
        e2e = {m["name"]: m for m in self.spec()["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))


if __name__ == "__main__":
    unittest.main()
