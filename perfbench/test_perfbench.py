"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The ledger tests need nothing but Python. `test_output_checks` compiles
the engine and runs the JVM self-test (every output check rejects a
corrupted answer; the generators are deterministic); it is skipped when
no Spark jars are installed.
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import ledger  # noqa: E402
import run  # noqa: E402


def span(i, name, start, end, parent=-1, cls="", ok=True, ops=0, written=0):
    return {"id": i, "name": name, "parent": parent, "run": "t", "cls": cls,
            "startMs": start, "endMs": end, "ok": ok,
            "fs": {"ops": ops, "bytesWritten": written}}


def job(i, sp, start, end, cpu=0.0, shuffle=0, inp=0):
    return {"id": i, "span": sp, "start_ms": start, "end_ms": end,
            "cpu_ms": cpu, "shuffle_bytes": shuffle, "input_bytes": inp}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(ledger.tail_percentile(1000), 99.0)
        self.assertEqual(ledger.tail_percentile(10000), 99.9)
        self.assertEqual(ledger.tail_percentile(200), 95.0)
        self.assertEqual(ledger.tail_percentile(100), 90.0)
        self.assertEqual(ledger.tail_percentile(40), 75.0)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(ledger.tail_percentile(39), 50.0)
        self.assertEqual(ledger.tail_percentile(1), 50.0)

    def test_quantile_interpolates(self):
        self.assertEqual(ledger.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(ledger.quantile([1, 2, 3, 4, 5], 0.75), 4.0)
        self.assertEqual(ledger.quantile([7], 0.9), 7)


class DriverAndSelfTime(unittest.TestCase):
    def test_driver_ms_is_span_minus_union_of_jobs(self):
        s = span(0, "table.merge", 0.0, 100.0)
        # overlapping jobs count once; a job past the span's end is clipped
        jobs = [job(1, 0, 10, 30), job(2, 0, 20, 40), job(3, 0, 90, 120)]
        self.assertAlmostEqual(ledger.driver_ms(s, jobs), 100 - 30 - 10)

    def test_driver_ms_without_jobs_is_the_whole_span(self):
        self.assertEqual(ledger.driver_ms(span(0, "x", 5.0, 25.0), []), 20.0)

    def test_unfinished_job_is_ignored(self):
        self.assertEqual(ledger.driver_ms(span(0, "x", 0.0, 10.0), [job(1, 0, 2, -1)]), 10.0)

    def test_self_time_subtracts_children_once(self):
        parent = span(0, "p", 0.0, 100.0)
        kids = [span(1, "a", 10.0, 50.0, 0), span(2, "b", 40.0, 60.0, 0)]
        self.assertEqual(ledger.self_ms(parent, kids), 50.0)

    def test_jobs_roll_up_to_ancestors(self):
        spans = [span(0, "run", 0, 100), span(1, "curation.nightly", 0, 90, 0),
                 span(2, "curation.clean", 0, 40, 1)]
        by = ledger.jobs_by_span(spans, [job(1, 2, 1, 5), job(2, 1, 50, 60)])
        self.assertEqual([j["id"] for j in by[1]], [2, 1])
        self.assertEqual([j["id"] for j in by[2]], [1])


def raw_record():
    spans = [span(0, "run", 0, 10000),
             span(1, "table.merge", 0, 1000, 0, "commit", ops=12, written=2 * 1024 * 1024),
             span(2, "table.read_where", 1000, 1200, 0, "read", ops=3),
             span(3, "table.mv_refresh", 1200, 2200, 0, "refresh"),
             span(4, "table.screen", 2200, 2300, 0, "screen"),
             span(5, "table.append", 2300, 2800, 0, "commit", ok=False)]
    return {"setup_s": [2.0, 1.0, 3.0], "measured_s": 10.0, "attempted": 5, "failed": 1,
            "written_bytes": 4000, "input_bytes": 1000, "space_amp": [1.5, 1.2, 1.9],
            "rows_total": 600, "spans": spans,
            "jobs": [job(1, 1, 100, 600, cpu=800.0, shuffle=1024 * 1024), job(2, 2, 1050, 1150)],
            "shape": {"dirs_rewritten": [1, 3, 2], "dirs_carried": [4, 4, 5],
                      "log_versions": 9, "live_dirs": 6}}


class Metrics(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_end_to_end_names_and_values(self):
        m = ledger.end_to_end(raw_record(), peak_rss_kb=2048 * 1024)
        self.assertEqual(set(m), {x["name"] for x in self.bench["end_to_end"]})
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertEqual(m["peak_rss_mb"]["value"], 2048.0)
        self.assertEqual(m["ops_ok_ratio"]["value"], 0.8)
        self.assertEqual(m["ops_per_s"]["value"], 0.5)
        self.assertEqual(m["write_amp"]["value"], 4.0)
        self.assertEqual(m["space_amp"]["value"], 1.5)
        self.assertEqual(m["rows_per_s"]["value"], 60.0)
        # the failed append is not a latency sample
        self.assertEqual(m["commit_ms_mean"]["value"], 1000.0)
        self.assertEqual(m["refresh_ms_mean"]["value"], 1000.0)
        self.assertEqual(m["read_ms_mean"]["value"], 200.0)
        self.assertEqual(m["screen_ms_mean"]["value"], 100.0)
        units = {x["name"]: x["unit"] for x in self.bench["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in m.items()}, units)

    def test_per_layer_names_units_and_counters(self):
        m = ledger.per_layer(raw_record())
        self.assertEqual({k: v["unit"] for k, v in m.items()},
                         {x["name"]: x["unit"] for x in self.bench["per_layer"]})
        self.assertEqual(len(m), 126)
        self.assertEqual(m["table.merge.wall_ms"]["value"], 1000.0)
        self.assertEqual(m["table.merge.driver_ms"]["value"], 500.0)
        self.assertEqual(m["table.merge.jobs"]["value"], 1.0)
        self.assertEqual(m["table.merge.shuffle_mb"]["value"], 1.0)
        self.assertEqual(m["table.merge.fs_ops"]["value"], 12.0)
        self.assertEqual(m["table.merge.written_mb"]["value"], 2.0)
        self.assertEqual(m["table.read_where.driver_ms"]["value"], 100.0)
        self.assertEqual(m["table.dirs_rewritten"]["value"], 2.0)
        self.assertEqual(m["table.live_dirs"]["value"], 6.0)
        # a span the workload never runs reports 0
        self.assertEqual(m["curation.clean.wall_ms"]["value"], 0.0)

    def test_tail_note_names_percentile_and_samples(self):
        t = ledger.tail_note(raw_record())
        self.assertEqual(t["commit_ms_tail"], {"percentile": 50.0, "samples": 1, "value": 1000.0})
        self.assertNotIn("append", str(t))

    def test_ledger_self_time_and_overhead(self):
        r = raw_record()
        led = ledger.ledger(r, {"commit": 800.0})
        self.assertEqual(led["spans"]["run"]["self_ms"], 10000 - 2800)
        self.assertAlmostEqual(led["tracing_overhead"]["commit"]["overhead"], 0.25)
        self.assertIn("table.merge", ledger.format_ledger(led))


class Contract(unittest.TestCase):
    def test_benchmark_json_names_its_workloads_and_command(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(bench["command"], ["python3", "perfbench/run.py"])
        self.assertTrue(set(w["name"] for w in bench["workloads"]) <= set(run.WORKLOADS))
        setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in bench["end_to_end"]))


@unittest.skipUnless(run.SPARK_JARS.is_dir(), "no Spark jars")
class JvmSelfTest(unittest.TestCase):
    def test_output_checks(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--selftest"],
                           cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("selftest: all passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
